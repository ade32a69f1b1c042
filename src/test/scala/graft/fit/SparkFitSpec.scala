package graft.fit

import breeze.linalg.{DenseMatrix, inv}
import org.apache.spark.ml.linalg.{Vectors => MlVectors}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.slope._

/** Distributed-vs-local equivalence: every RddOps pass must agree with
  * LocalOps on the same data (the treeAggregate path is the one that runs at
  * 100 TB; LocalOps is the oracle), plus end-to-end DataFrame fits and the
  * reference's sparse ≡ dense invariant (test-sparsity.R:1-23).
  */
class SparkFitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def mkRdd(x: DenseMatrix[Double], y: DenseMatrix[Double]) = {
    val rows = (0 until x.rows).map { i =>
      (Array.tabulate(y.cols)(j => y(i, j)),
        MlVectors.dense(Array.tabulate(x.cols)(j => x(i, j))))
    }
    spark.sparkContext.parallelize(rows, 3)
  }

  private def mkOps(x: DenseMatrix[Double], y: DenseMatrix[Double], fam: Family,
                    intercept: Boolean, center: Boolean, scale: String)
    : (RddOps, LocalOps) = {
    val rdd = mkRdd(x, y)
    val stats = SlopeEstimator.standardizeStats(rdd, x.cols, y.cols, center, scale)
    val acc = spark.sparkContext.longAccumulator("test")
    val ic = if (intercept) 1 else 0
    val rddOps = new RddOps(rdd, fam, intercept, stats.n, x.cols, y.cols,
      if (center) stats.xCenter else Array.fill(x.cols)(0.0), stats.xScale,
      Array.fill(y.cols)(0.0), stats.yMeans,
      Array.range(0, x.cols + ic), acc)
    val (xs, _, _) = RandomProblem.standardizeLocal(x, intercept, center, scale)
    (rddOps, new LocalOps(xs, y, fam, intercept))
  }

  test("RddOps lossGrad / primal / lambdaMax / gram match LocalOps (dense, centered)") {
    for (fam <- Seq(Gaussian, Binomial)) {
      val prob = RandomProblem(n = 120, p = 7, family = fam, seed = 3L)
      val (rddOps, localOps) = mkOps(prob.x, prob.y, fam, intercept = true,
        center = true, scale = "l2")
      val rng = new scala.util.Random(9)
      val beta = DenseMatrix.tabulate[Double](8, 1)((_, _) => rng.nextGaussian() * 0.3)

      val (p1, d1, g1) = rddOps.lossGrad(beta)
      val (p2, d2, g2) = localOps.lossGrad(beta)
      assert(math.abs(p1 - p2) < 1e-8 * math.max(1, math.abs(p2)), s"$fam primal")
      assert(math.abs(d1 - d2) < 1e-6 * math.max(1, math.abs(d2)), s"$fam dual")
      for (i <- 0 until 8)
        assert(math.abs(g1(i, 0) - g2(i, 0)) < 1e-8 * math.max(1, math.abs(g2(i, 0))))

      assert(math.abs(rddOps.primal(beta) - localOps.primal(beta)) < 1e-8)

      val lm1 = rddOps.lambdaMaxVec()
      val lm2 = localOps.lambdaMaxVec()
      for (i <- lm1.indices)
        assert(math.abs(lm1(i) - lm2(i)) < 1e-8 * math.max(1, lm2(i)), s"$fam lambdaMax $i")

      val (gram1, xty1) = rddOps.gramXty()
      val (gram2, xty2) = localOps.gramXty()
      for (i <- 0 until 8; j <- 0 until 8)
        assert(math.abs(gram1(i, j) - gram2(i, j)) < 1e-7 * math.max(1, math.abs(gram2(i, j))))
      for (i <- 0 until 8)
        assert(math.abs(xty1(i, 0) - xty2(i, 0)) < 1e-7 * math.max(1, math.abs(xty2(i, 0))))
    }
  }

  test("gaussian lambdaMax matches LocalOps with centering OFF (regression: raw-y bug)") {
    // with center=false, xCenter=0: the distributed transform must still
    // center y (the reference computes lambdaMax on the centered response);
    // the uncorrected form |Σ x·y| only coincided when xCenter = column mean
    val prob = RandomProblem(n = 90, p = 5, family = Gaussian, seed = 41L)
    val rdd = mkRdd(prob.x, prob.y)
    val stats = SlopeEstimator.standardizeStats(rdd, 5, 1, center = false, "l2")
    val acc = spark.sparkContext.longAccumulator("t")
    val yBar = (0 until 90).map(i => prob.y(i, 0)).sum / 90.0
    val rddOps = new RddOps(rdd, Gaussian, true, stats.n, 5, 1,
      Array.fill(5)(0.0), stats.xScale, Array(yBar), stats.yMeans,
      Array.range(0, 6), acc)
    val lm = rddOps.lambdaMaxVec()
    // oracle: |Σ x_j (y − ȳ)| / ‖x_j‖₂ on raw (uncentered) columns
    for (j <- 0 until 5) {
      var acc2 = 0.0
      for (i <- 0 until 90) acc2 += prob.x(i, j) * (prob.y(i, 0) - yBar)
      val expected = math.abs(acc2 / stats.xScale(j))
      assert(math.abs(lm(j) - expected) < 1e-8 * math.max(1, expected),
        s"feature $j: ${lm(j)} vs $expected")
    }
  }

  test("numeric class labels order numerically (R factor-level order)") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(7)
    val df = (0 until 80).map { i =>
      val x = rng.nextGaussian()
      (if (x + 0.2 * rng.nextGaussian() > 0) 10 else 2, x)
    }.toDF("label", "f0")
    val model = SlopeEstimator.fit(df, Seq("f0"), "label",
      SlopeConfig(family = "binomial", nSigma = 5))
    // as.factor(c(2,10)) levels are "2","10": class 2 → −1, class 10 → +1,
    // so the slope on f0 must be positive at the dense end
    assert(model.classNames.sameElements(Array("2", "10")))
    assert(model.fit.betas.last(1, 0) > 0,
      s"slope ${model.fit.betas.last(1, 0)} should be positive for class-10-is-+1")
  }

  test("RddOps subset view matches LocalOps subset") {
    val prob = RandomProblem(n = 80, p = 6, family = Gaussian, seed = 23L)
    val (rddOps, localOps) = mkOps(prob.x, prob.y, Gaussian, intercept = true,
      center = true, scale = "l2")
    val cols = Array(0, 2, 5) // intercept + features 1 and 4
    val subR = rddOps.subset(cols)
    val subL = localOps.subset(cols)
    val beta = DenseMatrix.tabulate[Double](3, 1)((i, _) => 0.1 * (i + 1))
    val (p1, _, g1) = subR.lossGrad(beta)
    val (p2, _, g2) = subL.lossGrad(beta)
    assert(math.abs(p1 - p2) < 1e-8)
    for (i <- 0 until 3) assert(math.abs(g1(i, 0) - g2(i, 0)) < 1e-8)
  }

  test("end-to-end DataFrame gaussian fit matches OLS at sigma→0 and local path everywhere") {
    val prob = RandomProblem(n = 150, p = 5, family = Gaussian, seed = 77L)
    import scala.jdk.CollectionConverters._
    val rows = (0 until 150).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        prob.y(i, 0) +: (0 until 5).map(j => prob.x(i, j)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      ("label" +: (0 until 5).map(j => s"f$j")).map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(rows.asJava, schema)

    val model = SlopeEstimator.fit(df, (0 until 5).map(j => s"f$j"), "label",
      SlopeConfig(sigma = Array(1e-9)))
    val xi = DenseMatrix.horzcat(DenseMatrix.ones[Double](150, 1), prob.x)
    val ols = inv(xi.t * xi) * (xi.t * prob.y(::, 0))
    val beta = model.fit.betas.head
    for (j <- 0 until 6)
      assert(math.abs(beta(j, 0) - ols(j)) < 1e-3, s"coef $j: ${beta(j, 0)} vs ${ols(j)}")

    // full default path: distributed ≡ local (force the RDD substrate)
    val modelPath = SlopeEstimator.fit(df, (0 until 5).map(j => s"f$j"), "label",
      SlopeConfig(nSigma = 15, localFitThreshold = 0L))
    val (xs, ctr, scl) = RandomProblem.standardizeLocal(prob.x, intercept = true,
      center = true, scale = "l2")
    val yBar = breeze.linalg.sum(prob.y(::, 0)) / 150.0
    val yc = prob.y.copy; for (i <- 0 until 150) yc(i, 0) -= yBar
    val localFit = SlopePath.fit(new LocalOps(xs, yc, Gaussian, true),
      SlopeConfig(nSigma = 15), ctr, scl, Array(yBar), Array(1.0))
    assert(modelPath.fit.betas.length == localFit.betas.length)
    for (k <- modelPath.fit.betas.indices; j <- 0 until 6) {
      val d = math.abs(modelPath.fit.betas(k)(j, 0) - localFit.betas(k)(j, 0))
      assert(d < 1e-6, s"step $k coef $j differs by $d")
    }
  }

  test("NULL features yield NULL predictions in every predict type") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(5)
    val train = (0 until 80).map { i =>
      val x = rng.nextGaussian()
      (if (x + 0.3 * rng.nextGaussian() > 0) "P" else "N", x)
    }.toDF("lab", "x")
    val model = SlopeEstimator.fit(train, Seq("x"), "lab",
      SlopeConfig(family = "binomial", nSigma = 3))

    val probe = Seq((java.lang.Double.valueOf(1.0)), (null: java.lang.Double))
      .toDF("x")
    for (tp <- Seq("link", "response", "class")) {
      val out = model.transform(probe, Seq("x"), predictType = tp)
        .select(org.apache.spark.sql.functions.expr("pred[0]")).collect()
      val okRow = out(0)
      val nullRow = out(1)
      assert(!okRow.isNullAt(0), s"$tp: non-null row must predict")
      val v = nullRow.get(0)
      val isNullish = v == null || (v match {
        case s: scala.collection.Seq[_] => s.forall(_ == null) // rows hold mutable.ArraySeq
        case _                          => false
      })
      assert(isNullish, s"$tp: NULL feature must not yield a confident prediction, got $v")
    }
  }

  test("coefExact refit reproduces on-path betas (test-coef.R:37-47, exact = TRUE)") {
    val prob = RandomProblem(n = 150, p = 5, family = Gaussian, seed = 77L)
    import scala.jdk.CollectionConverters._
    val rows = (0 until 150).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        prob.y(i, 0) +: (0 until 5).map(j => prob.x(i, j)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      ("label" +: (0 until 5).map(j => s"f$j")).map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val feats = (0 until 5).map(j => s"f$j")

    val model = SlopeEstimator.fit(df, feats, "label", SlopeConfig(nSigma = 8))
    val k = model.fit.sigma.length / 2
    val sigmaK = model.fit.sigma(k)
    // a cold single-σ refit solves the same strictly convex problem the
    // warm-started path step did — same optimum within solver tolerance
    val exact = graft.Slope.coefExact(df, feats, "label", Array(sigmaK)).head
    val stored = model.fit.betas(k)
    for (j <- 0 until exact.rows)
      assert(math.abs(exact(j, 0) - stored(j, 0)) < 1e-3,
        s"coef $j: refit ${exact(j, 0)} vs path ${stored(j, 0)}")
  }

  test("sparse == dense (reference test-sparsity.R:1-23): SparseVector rows give the same fit") {
    val prob = RandomProblem(n = 100, p = 8, density = 0.5, family = Gaussian, seed = 99L)
    val denseRdd = mkRdd(prob.x, prob.y)
    val sparseRdd = denseRdd.map { case (y, v) =>
      (y, MlVectors.dense(v.toArray).toSparse: org.apache.spark.ml.linalg.Vector)
    }
    // sparse inputs keep center=false (R/owl.R:276,359-360); force the
    // DISTRIBUTED path so the RddOps sparse handling is what's tested
    val cfg = SlopeConfig(nSigma = 10, center = false, localFitThreshold = 0L)
    val mD = SlopeEstimator.fitRdd(denseRdd, Gaussian, 1, 8,
      Array.tabulate(8)(i => s"f$i"), Array.empty, cfg)
    val mS = SlopeEstimator.fitRdd(sparseRdd, Gaussian, 1, 8,
      Array.tabulate(8)(i => s"f$i"), Array.empty, cfg)
    assert(mD.fit.betas.length == mS.fit.betas.length)
    for (k <- mD.fit.betas.indices; j <- 0 until 9) {
      val d = math.abs(mD.fit.betas(k)(j, 0) - mS.fit.betas(k)(j, 0))
      assert(d < 1e-9, s"step $k coef $j differs by $d")
    }
  }

  test("fitRdd cuts a parallelize input's lineage after the first data pass") {
    // every pass of the distributed path runs a job over the cached fit
    // input; with the lineage still attached each of those jobs' stages
    // carries the ParallelCollectionRDD, and its tasks re-ship their slice
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val prob = RandomProblem(n = 120, p = 5, family = Gaussian, seed = 17L)
    val rdd = mkRdd(prob.x, prob.y)
    val marker = "fit-lineage-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties)
            .map(_.getProperty("spark.job.description"))
            .orNull,
          e.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD"))))
    }
    sc.addSparkListener(listener)
    try {
      SlopeEstimator.fitRdd(rdd, Gaussian, 1, 5, Array.tabulate(5)(i => s"f$i"),
        Array.empty, SlopeConfig(nSigma = 8, localFitThreshold = 0L))
      // the listener bus is asynchronous: a marker job's start event
      // arrives after every fit job's
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val fitJobs = jobs.asScala.toSeq.takeWhile(_._1 != marker)
      assert(fitJobs.size >= 5, s"expected a multi-pass fit, got ${fitJobs.size} jobs")
      assert(fitJobs.count(_._2) == 1,
        s"${fitJobs.count(_._2)} of ${fitJobs.size} fit jobs still read the parallelize lineage")
      assert(rdd.count() == 120L, "the caller's RDD must stay usable after the fit")
    } finally sc.removeSparkListener(listener)
  }

  test("a single VectorUDT features column works end-to-end (ml.Pipeline form)") {
    val prob = RandomProblem(n = 100, p = 4, family = Gaussian, seed = 88L)
    val sp = spark; import sp.implicits._
    val dfScalar = (0 until 100).map(i =>
      (prob.y(i, 0), prob.x(i, 0), prob.x(i, 1), prob.x(i, 2), prob.x(i, 3)))
      .toDF("label", "f0", "f1", "f2", "f3")
    val dfVec = (0 until 100).map(i =>
      (prob.y(i, 0), MlVectors.dense(Array.tabulate(4)(j => prob.x(i, j)))))
      .toDF("label", "features")
    val cfg = SlopeConfig(nSigma = 8)
    val mScalar = SlopeEstimator.fit(dfScalar, Seq("f0", "f1", "f2", "f3"), "label", cfg)
    val mVec = SlopeEstimator.fit(dfVec, Seq("features"), "label", cfg)
    assert(mVec.featureNames.sameElements(
      Array("features[0]", "features[1]", "features[2]", "features[3]")))
    assert(mScalar.fit.betas.length == mVec.fit.betas.length)
    for (k <- mScalar.fit.betas.indices; j <- 0 until 5) {
      val (a, b) = (mScalar.fit.betas(k)(j, 0), mVec.fit.betas(k)(j, 0))
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)), s"($k,$j): $a vs $b")
    }
    // transform over the vector column
    val preds = mVec.transform(dfVec, Seq("features"))
    assert(preds.select("pred").head().getSeq[Seq[Double]](0).nonEmpty)
  }

  test("binomial end-to-end with string labels, predict and score") {
    val prob = RandomProblem(n = 200, p = 4, family = Binomial, amplitude = 1.5, seed = 55L)
    import scala.jdk.CollectionConverters._
    val rows = (0 until 200).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        prob.rawLabels(i) +: (0 until 4).map(j => prob.x(i, j)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType) +:
        (0 until 4).map(j => org.apache.spark.sql.types.StructField(s"f$j",
          org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(rows.asJava, schema)

    val model = SlopeEstimator.fit(df, (0 until 4).map(j => s"f$j"), "label",
      SlopeConfig(family = "binomial", nSigma = 10))
    assert(model.classNames.sameElements(Array("a", "b")))

    val preds = model.transform(df, (0 until 4).map(j => s"f$j"), predictType = "class")
    val classes = preds.select("pred").head().getSeq[String](0)
    assert(classes.forall(c => c == "a" || c == "b"))

    // misclass at the densest path step should beat the null rate
    val mis = model.score(df, (0 until 4).map(j => s"f$j"), "label", "misclass")
    val nullRate = math.min(
      prob.rawLabels.count(_ == "a"), prob.rawLabels.count(_ == "b")) / 200.0
    assert(mis.last <= nullRate + 0.05, s"misclass ${mis.last} vs null $nullRate")

    // AUC at the densest step should be well above 0.5 and ≤ 1
    val auc = model.score(df, (0 until 4).map(j => s"f$j"), "label", "auc")
    assert(auc.last > 0.7 && auc.last <= 1.0, s"auc ${auc.last}")

    // weighted AUC: distributed path ≡ the driver-side grid twin, and unit
    // weights reproduce the unweighted statistic (reference R/score.R:152-164
    // semantics with deterministic tie-averaging)
    import org.apache.spark.sql.functions.{abs, col, hash, lit}
    val wdf = df.withColumn("w",
      (abs(hash(col("f0"))) % 5 + 1).cast("double"))
    val wauc = model.score(wdf,
      (0 until 4).map(j => s"f$j"), "label", "auc", weightCol = Some("w"))
    val rowsW = wdf.select((0 until 4).map(j => col(s"f$j")) ++
      Seq(col("label"), col("w")): _*).collect()
    val betasLast = model.coef().last
    val probsLocal = rowsW.map { r =>
      var lp = betasLast(0, 0)
      (0 until 4).foreach(j => lp += betasLast(j + 1, 0) * r.getDouble(j))
      graft.slope.MathUtil.sigmoid(lp)
    }
    val yLocal = rowsW.map(r => if (r.getString(4) == "b") 1.0 else 0.0)
    val wLocal = rowsW.map(_.getDouble(5))
    val local = LocalScore.aucWeighted(probsLocal, yLocal, wLocal)
    assert(wauc.last == local,
      s"distributed weighted auc ${wauc.last} != local twin $local")
    val unitW = model.score(wdf.withColumn("w", lit(1.0)),
      (0 until 4).map(j => s"f$j"), "label", "auc", weightCol = Some("w"))
    auc.zip(unitW).foreach { case (u, w) =>
      assert(math.abs(u - w) < 1e-12, s"unit-weight auc $w vs unweighted $u")
    }
  }

  test("predict smoke: all families × link/response/class produce sane shapes (test-predictions.R)") {
    val sp = spark; import sp.implicits._
    def mk(fam: Family, nT: Int) = {
      val prob = RandomProblem(n = 90, p = 3, family = fam, nTargets = nT,
        amplitude = 1.0, seed = 21L)
      val rows = (0 until 90).map { i =>
        val label: Any = fam match {
          case Binomial | Multinomial => prob.rawLabels(i)
          case _                      => prob.y(i, 0)
        }
        (label.toString, prob.y(i, 0), prob.x(i, 0), prob.x(i, 1), prob.x(i, 2))
      }
      rows.toDF("slabel", "nlabel", "f0", "f1", "f2")
    }
    val feats = Seq("f0", "f1", "f2")

    for ((name, fam, nT, labelCol, types) <- Seq(
      ("gaussian", Gaussian, 1, "nlabel", Seq("link", "response")),
      ("binomial", Binomial, 1, "slabel", Seq("link", "response", "class")),
      ("poisson", Poisson, 1, "nlabel", Seq("link", "response")),
      ("multinomial", Multinomial, 2, "slabel", Seq("link", "response", "class")))) {
      val df = mk(fam, nT)
      val model = SlopeEstimator.fit(df, feats, labelCol,
        SlopeConfig(family = name, nSigma = 5))
      val nSteps = model.fit.sigma.length
      for (t <- types) {
        val out = model.transform(df, feats, predictType = t)
        val first = out.select("pred").head().getSeq[Any](0)
        assert(first.length == nSteps, s"$name/$t path length")
        t match {
          case "class" =>
            assert(first.forall(_.isInstanceOf[String]), s"$name/$t classes")
          case "response" if fam == Multinomial =>
            val probs = first.head.asInstanceOf[scala.collection.Seq[Double]]
            assert(probs.length == 3 && math.abs(probs.sum - 1.0) < 1e-9,
              s"$name response probs sum ${probs.sum}")
          case "response" if fam == Binomial =>
            val pr = first.head.asInstanceOf[scala.collection.Seq[Double]].head
            assert(pr >= 0.0 && pr <= 1.0, s"$name response $pr")
          case "response" if fam == Poisson =>
            assert(first.head.asInstanceOf[scala.collection.Seq[Double]].head >= 0.0)
          case _ => // link: any finite double
            assert(!first.head.asInstanceOf[scala.collection.Seq[Double]].head.isNaN)
        }
      }
    }
  }

  test("multinomial scoring: mse/mae/deviance/misclass improve along the path") {
    val prob = RandomProblem(n = 240, p = 4, family = Multinomial, nTargets = 2,
      amplitude = 1.5, seed = 66L)
    val sp = spark; import sp.implicits._
    val df = (0 until 240).map(i =>
      (prob.rawLabels(i), prob.x(i, 0), prob.x(i, 1), prob.x(i, 2), prob.x(i, 3)))
      .toDF("label", "f0", "f1", "f2", "f3")
    val model = SlopeEstimator.fit(df, (0 until 4).map(j => s"f$j"), "label",
      SlopeConfig(family = "multinomial", nSigma = 10))
    assert(model.classNames.length == 3)
    for (meas <- Seq("mse", "mae", "deviance", "misclass")) {
      val s = model.score(df, (0 until 4).map(j => s"f$j"), "label", meas)
      assert(s.forall(v => !v.isNaN && v >= 0), s"$meas has bad values")
      assert(s.last < s.head + 1e-9, s"$meas did not improve: ${s.head} -> ${s.last}")
    }
    // misclass at the densest step beats the 2/3 null rate clearly
    val mis = model.score(df, (0 until 4).map(j => s"f$j"), "label", "misclass")
    assert(mis.last < 0.5, s"misclass ${mis.last}")
  }
}
