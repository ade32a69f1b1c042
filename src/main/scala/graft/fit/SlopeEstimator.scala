package graft.fit

import breeze.linalg.DenseMatrix
import org.apache.spark.ml.linalg.{Vectors => MlVectors, Vector => MlVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{NumericType, StructField}
import org.apache.spark.storage.StorageLevel
import graft.slope._

/** Column-statistics result of the single standardization pass. */
final case class StandardizeStats(
    n: Long,
    xCenter: Array[Double],
    xScale: Array[Double],
    yMeans: Array[Double])

/** The engine's front door: DataFrame → preprocessed, cached RDD → SLOPE
  * path fit → `SlopeModel`. Re-expresses the reference's `owl()` entry
  * (R/owl.R:271-448): response preprocessing (R/preProcessResponse.R),
  * standardization (src/standardize.h), then the C++ path driver — here the
  * driver loop of `SlopePath` over `RddOps` treeAggregate passes.
  */
object SlopeEstimator {

  /** Fit from a DataFrame with numeric feature columns and a label column.
    * For binomial/multinomial the label may be any orderable column; class
    * names are its sorted distinct string values (R factor-level order).
    */
  def fit(df: DataFrame,
          featureCols: Seq[String],
          labelCol: String,
          cfg: SlopeConfig): SlopeModel = {
    val family = Family(cfg.family)
    validate(df, featureCols, labelCol, cfg, family)

    // ---- response encoding (R/preProcessResponse.R) ----
    val classNames: Array[String] = classNamesFor(df, labelCol, family)
    val mTargets = family match {
      case Multinomial => classNames.length - 1
      case _           => 1
    }

    // a single VectorUDT column is accepted as the assembled design matrix
    // (the ml.Pipeline-native form); scalar numeric columns otherwise
    val vectorInput = featureCols.length == 1 &&
      df.schema(featureCols.head).dataType ==
        org.apache.spark.ml.linalg.SQLDataTypes.VectorType
    val pFeat =
      if (vectorInput)
        df.select(featureCols.head).head()
          .getAs[MlVector](0).size
      else featureCols.length
    val fCols = featureCols.toArray
    val lCol = labelCol
    val classIndex = classNames.zipWithIndex.toMap

    // fast sub-threshold path for scalar features: ONE cheap count decides,
    // then the pruned projection collects as flat primitive arrays (a chunk
    // per partition — no per-row java-serialization, no spread shuffle, no
    // RDD persist, no stats treeAggregate job) and everything else happens
    // on the driver. Identical math to the distributed path (pinned by
    // SparkFitSpec); above the threshold the treeAggregate path below runs
    // exactly as before.
    if (!vectorInput && localPathTypesOk(df, fCols, lCol, family)) {
      import org.apache.spark.sql.functions.col
      val stringLabel = family == Binomial || family == Multinomial
      val labelExpr =
        if (stringLabel) col(lCol).cast("string") else col(lCol).cast("double")
      val pruned = df.select(labelExpr +: fCols.toSeq.map(c => col(c).cast("double")): _*)
      val nRows = pruned.count()
      if (nRows * pFeat <= cfg.effectiveLocalFitThreshold && nRows > 0 &&
          nRows <= Int.MaxValue) {
        val (yFlat, xFlat) = collectFlat(pruned, family, classNames, mTargets, pFeat)
        return fitLocalArrays(yFlat, xFlat, nRows.toInt, family, mTargets, pFeat,
          fCols, classNames, cfg)
      }
    }

    val rows: RDD[(Array[Double], MlVector)] = {
      val localFam = family
      val mT = mTargets
      // spread the pruned projection before row encoding: the local test
      // parquet is a single row group (1–3 scan splits), which would leave
      // encode + the standardization pass near-serial; gated no-op when the
      // scan already has enough splits (any real cluster input)
      graft.util.Tables.spread(
        df.select((lCol +: fCols.toSeq).map(org.apache.spark.sql.functions.col): _*))
        .rdd.map { r =>
          val y: Array[Double] = localFam match {
            case Binomial =>
              // first sorted class → −1, second → +1 (preProcessResponse.R:42)
              Array(if (classIndex(String.valueOf(r.get(0))) == 0) -1.0 else 1.0)
            case Multinomial =>
              val k = classIndex(String.valueOf(r.get(0)))
              Array.tabulate(mT)(j => if (k == j) 1.0 else 0.0)
            case Poisson =>
              val v = numeric(r, 0)
              if (v < 0) throw new IllegalArgumentException(
                "cannot have negative responses in poisson model")
              Array(v)
            case _ =>
              Array(numeric(r, 0))
          }
          val x: MlVector =
            if (vectorInput) r.getAs[MlVector](1)
            else {
              val arr = new Array[Double](fCols.length)
              var i = 0
              while (i < fCols.length) { arr(i) = numeric(r, i + 1); i += 1 }
              MlVectors.dense(arr)
            }
          (y, x)
        }
    }
    val names =
      if (vectorInput) Array.tabulate(pFeat)(i => s"${featureCols.head}[$i]")
      else featureCols.toArray
    fitRdd(rows, family, mTargets, pFeat, names, classNames, cfg)
  }

  /** Input assertions (reference R/owl.R:317-360,395-413 + the class-count
    * checks of preProcessResponse.R): schema presence, non-empty features,
    * λ/σ sanity. Missing values are rejected row-side (`numeric`), and
    * class-cardinality checks happen during label encoding.
    */
  private[fit] def validate(df: DataFrame, featureCols: Seq[String],
                            labelCol: String, cfg: SlopeConfig,
                            family: Family): Unit = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(Seq("gaussian", "binomial", "poisson", "multinomial").contains(cfg.family),
      s"unknown family: ${cfg.family}") // match.arg guard (R/owl.R:297)
    val cols = df.columns.toSet
    val missing = (featureCols :+ labelCol).filterNot(cols)
    require(missing.isEmpty, s"columns not in DataFrame: ${missing.mkString(", ")}")
    require(cfg.sigma.forall(_ >= 0.0), "sigma values must be non-negative")
    if (cfg.lambdaType == "user") {
      val lam = cfg.userLambda
      require(lam.nonEmpty, "lambda_type=user needs a lambda sequence")
      require(lam.forall(_ >= 0.0), "lambda sequence cannot contain negative values")
      require(lam.zip(lam.tail).forall { case (a, b) => a >= b },
        "lambda sequence must be non-increasing")
    }
    require(Seq("l2", "l1", "sd", "max", "none").contains(cfg.scale),
      s"unknown scale: ${cfg.scale}")
  }

  /** The fast local path pre-casts columns in SQL, so it is only taken when
    * the SQL cast provably agrees with the RDD path's JVM-side coercion:
    * numeric/boolean/string labels (a timestamp's `cast(string)` differs
    * from `String.valueOf` on the external object) and numeric features (a
    * boolean feature would cast to 1.0/0.0 here but throw in `numeric()` —
    * the two substrates must accept/reject identical inputs).
    */
  private[fit] def localPathTypesOk(df: DataFrame, fCols: Array[String],
                                    lCol: String, family: Family): Boolean = {
    import org.apache.spark.sql.types.{BooleanType, StringType}
    val labelOk = df.schema(lCol).dataType match {
      case _: NumericType => true
      case StringType     => true
      case BooleanType    => family == Binomial || family == Multinomial
      case _              => false
    }
    labelOk && fCols.forall(c => df.schema(c).dataType.isInstanceOf[NumericType])
  }

  /** Sorted distinct label values as class names (R factor-level order:
    * numeric labels sort numerically — levels of as.factor(c(2,10)) are
    * "2","10" — everything else lexicographically). Empty for
    * gaussian/poisson.
    */
  private[fit] def classNamesFor(df: DataFrame, labelCol: String,
                                 family: Family): Array[String] = family match {
    case Binomial | Multinomial =>
      val raw = df.select(labelCol).distinct()
        .collect().map(r => String.valueOf(r.get(0)))
      val names =
        if (raw.forall(s => scala.util.Try(s.toDouble).isSuccess))
          raw.sortBy(_.toDouble)
        else raw.sorted
      family match {
        case Binomial =>
          require(names.length == 2, s"binomial needs 2 classes, got ${names.length}")
        case _ =>
          require(names.length >= 3,
            s"multinomial needs >= 3 classes, got ${names.length}")
      }
      names
    case _ => Array.empty
  }

  private def numeric(r: Row, i: Int): Double = r.get(i) match {
    case null              => throw new IllegalArgumentException("missing values not allowed")
    case d: java.lang.Number => d.doubleValue()
    case other             => other.toString.toDouble
  }

  /** Collect a pre-cast (label, feature...) projection as flat row-major
    * primitive arrays — ONE (y, x) chunk per partition crosses the wire, so
    * the driver transfer is a handful of double-array blobs instead of n
    * java-serialized row objects, and reading `InternalRow` primitives
    * skips the external-Row boxing entirely. The label column must arrive
    * cast to string (binomial/multinomial) or double (gaussian/poisson);
    * label semantics match the RDD encode path (null numeric label / null
    * feature → "missing values not allowed"; a null class label is the
    * class "null", as `String.valueOf` produced there).
    */
  private[fit] def collectFlat(pruned: DataFrame, family: Family,
                               classNames: Array[String], mTargets: Int,
                               pFeat: Int): (Array[Double], Array[Double]) = {
    val classIndex = classNames.zipWithIndex.toMap
    val fam = family
    val chunks = pruned.queryExecution.toRdd.mapPartitions { it =>
      val yb = new scala.collection.mutable.ArrayBuilder.ofDouble
      val xb = new scala.collection.mutable.ArrayBuilder.ofDouble
      it.foreach { r =>
        fam match {
          case Binomial =>
            val s = if (r.isNullAt(0)) "null" else r.getUTF8String(0).toString
            yb += (if (classIndex(s) == 0) -1.0 else 1.0)
          case Multinomial =>
            val s = if (r.isNullAt(0)) "null" else r.getUTF8String(0).toString
            val k = classIndex(s)
            var j = 0
            while (j < mTargets) { yb += (if (k == j) 1.0 else 0.0); j += 1 }
          case Poisson =>
            if (r.isNullAt(0)) throw new IllegalArgumentException(
              "missing values not allowed")
            val v = r.getDouble(0)
            if (v < 0) throw new IllegalArgumentException(
              "cannot have negative responses in poisson model")
            yb += v
          case _ =>
            if (r.isNullAt(0)) throw new IllegalArgumentException(
              "missing values not allowed")
            yb += r.getDouble(0)
        }
        var i = 0
        while (i < pFeat) {
          if (r.isNullAt(i + 1)) throw new IllegalArgumentException(
            "missing values not allowed")
          xb += r.getDouble(i + 1)
          i += 1
        }
      }
      Iterator.single((yb.result(), xb.result()))
    }.collect()
    val nY = chunks.iterator.map(_._1.length).sum
    val nX = chunks.iterator.map(_._2.length).sum
    val y = new Array[Double](nY)
    val x = new Array[Double](nX)
    var oy = 0; var ox = 0
    chunks.foreach { case (yc, xc) =>
      System.arraycopy(yc, 0, y, oy, yc.length); oy += yc.length
      System.arraycopy(xc, 0, x, ox, xc.length); ox += xc.length
    }
    (y, x)
  }

  /** Fit from flat row-major arrays entirely on the driver: dense
    * standardization stats (same semantics as [[standardizeStats]] —
    * n−1 sd, centered-column scales, zero-variance guard → 1), then
    * `LocalOps` + the shared path driver. The distributed and local
    * substrates stay interchangeable (SparkFitSpec).
    */
  private[fit] def fitLocalArrays(yFlat: Array[Double], xFlat: Array[Double],
                                  n: Int, family: Family, mTargets: Int,
                                  pFeat: Int, featureNames: Array[String],
                                  classNames: Array[String],
                                  cfg: SlopeConfig): SlopeModel = {
    val nD = n.toDouble
    val yMeans = new Array[Double](mTargets)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < mTargets) { yMeans(j) += yFlat(i * mTargets + j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < mTargets) { yMeans(j) /= nD; j += 1 }

    val mean = new Array[Double](pFeat)
    val sumsq = new Array[Double](pFeat)
    val mx = Array.fill(pFeat)(Double.NegativeInfinity)
    i = 0
    while (i < n) {
      var c = 0
      while (c < pFeat) {
        val v = xFlat(i * pFeat + c)
        mean(c) += v
        sumsq(c) += v * v
        if (v > mx(c)) mx(c) = v
        c += 1
      }
      i += 1
    }
    var c = 0
    while (c < pFeat) { mean(c) /= nD; c += 1 }
    val xCenter = if (cfg.center) mean else new Array[Double](pFeat)
    def centeredSumSq(c0: Int): Double =
      math.max(sumsq(c0) - nD * mean(c0) * mean(c0), 0.0)
    val xScale: Array[Double] = cfg.scale match {
      case "none" => Array.fill(pFeat)(1.0)
      case "l2" =>
        Array.tabulate(pFeat) { c0 =>
          if (cfg.center) math.sqrt(centeredSumSq(c0)) else math.sqrt(sumsq(c0))
        }
      case "sd" =>
        Array.tabulate(pFeat)(c0 => math.sqrt(centeredSumSq(c0) / (nD - 1.0)))
      case "max" =>
        Array.tabulate(pFeat)(c0 => mx(c0) - xCenter(c0))
      case "l1" =>
        val acc = new Array[Double](pFeat)
        var r = 0
        while (r < n) {
          var c2 = 0
          while (c2 < pFeat) {
            acc(c2) += math.abs(xFlat(r * pFeat + c2) - xCenter(c2)); c2 += 1
          }
          r += 1
        }
        acc
      case other => throw new IllegalArgumentException(s"unknown scale: $other")
    }
    val guarded = xScale.map(s => if (s == 0.0) 1.0 else s)

    val yCenter: Array[Double] =
      if (family == Gaussian) yMeans.clone() else Array.fill(mTargets)(0.0)
    val ic = if (cfg.intercept) 1 else 0
    val xs = DenseMatrix.zeros[Double](n, pFeat + ic)
    val ym = DenseMatrix.zeros[Double](n, mTargets)
    val interceptVal = 1.0 / math.sqrt(nD)
    i = 0
    while (i < n) {
      if (cfg.intercept) xs(i, 0) = interceptVal
      var c2 = 0
      while (c2 < pFeat) {
        xs(i, c2 + ic) = (xFlat(i * pFeat + c2) - xCenter(c2)) / guarded(c2)
        c2 += 1
      }
      c2 = 0
      while (c2 < mTargets) { ym(i, c2) = yFlat(i * mTargets + c2) - yCenter(c2); c2 += 1 }
      i += 1
    }
    val ops = new LocalOps(xs, ym, family, cfg.intercept)
    val fit = SlopePath.fit(ops, cfg, xCenter, guarded, yCenter,
      Array.fill(mTargets)(1.0))
    new SlopeModel(fit, featureNames, classNames)
  }

  /** Fit from an already-encoded RDD (labels preprocessed per family). */
  def fitRdd(rows: RDD[(Array[Double], MlVector)],
             family: Family,
             mTargets: Int,
             pFeat: Int,
             featureNames: Array[String],
             classNames: Array[String],
             cfg: SlopeConfig): SlopeModel = {
    // a private child, cached and LOCALLY CHECKPOINTED by the first pass:
    // a `parallelize` input no longer re-ships each task's slice per pass
    val persisted = rows.mapPartitions(identity, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    try {
      val stats = standardizeStats(persisted, pFeat, mTargets, cfg.center, cfg.scale)
      // gaussian centers the response (preProcessResponse.R:10-13)
      val yCenter: Array[Double] =
        if (family == Gaussian) stats.yMeans.clone() else Array.fill(mTargets)(0.0)
      val yScale: Array[Double] = Array.fill(mTargets)(1.0)

      val xCenter = if (cfg.center) stats.xCenter else Array.fill(pFeat)(0.0)

      // adaptive substrate: below the threshold the whole (standardized)
      // problem fits comfortably on the driver — solve there at single-node
      // speed, exactly like the reference would; larger data runs the
      // distributed treeAggregate path. Identical math either way
      // (SparkFitSpec pins LocalOps ≡ RddOps).
      val ops: BatchOps =
        if (stats.n * pFeat <= cfg.effectiveLocalFitThreshold) {
          val rowsArr = persisted.collect()
          val n = rowsArr.length
          val ic = if (cfg.intercept) 1 else 0
          val xs = DenseMatrix.zeros[Double](n, pFeat + ic)
          val ym = DenseMatrix.zeros[Double](n, mTargets)
          val interceptVal = 1.0 / math.sqrt(n.toDouble)
          var i = 0
          while (i < n) {
            val (y, v) = rowsArr(i)
            if (cfg.intercept) xs(i, 0) = interceptVal
            var j = 0
            while (j < pFeat) {
              xs(i, j + ic) = (v(j) - xCenter(j)) / stats.xScale(j)
              j += 1
            }
            j = 0
            while (j < mTargets) { ym(i, j) = y(j) - yCenter(j); j += 1 }
            i += 1
          }
          new LocalOps(xs, ym, family, cfg.intercept)
        } else {
          val passCounter =
            persisted.sparkContext.longAccumulator("graft.slope.dataPasses")
          new RddOps(persisted, family, cfg.intercept, stats.n, pFeat, mTargets,
            xCenter, stats.xScale, yCenter, stats.yMeans,
            Array.range(0, pFeat + (if (cfg.intercept) 1 else 0)), passCounter)
        }

      val fit = SlopePath.fit(ops, cfg, xCenter, stats.xScale, yCenter, yScale)
      new SlopeModel(fit, featureNames, classNames)
    } finally {
      persisted.unpersist(blocking = false)
    }
  }

  /** One pass (two for l1/max with centering) computing feature means and
    * the requested scale (reference src/standardize.h:8-71 semantics:
    * scale of the CENTERED column when centering; sd always around the
    * mean with the n−1 normalizer; zero-variance guard → 1).
    */
  def standardizeStats(rows: RDD[(Array[Double], MlVector)],
                       pFeat: Int,
                       mTargets: Int,
                       center: Boolean,
                       scale: String): StandardizeStats = {
    // [count, Σy_j (m), Σx_c, Σx_c², max over ACTIVE x_c, nnz_c]:
    // sparse-aware — sums/moments only touch active entries (zeros
    // contribute nothing), and the true column max including implicit
    // zeros reconstructs as max(maxActive, 0) whenever nnz < n. A dense
    // per-column loop here would cost O(n·p) regardless of sparsity.
    val sumOff = 1 + mTargets
    val sqOff = sumOff + pFeat
    val maxOff = sqOff + pFeat
    val nnzOff = maxOff + pFeat
    val sz = nnzOff + pFeat
    val zero = new Array[Double](sz)
    var i = maxOff
    while (i < nnzOff) { zero(i) = Double.NegativeInfinity; i += 1 }
    val agg = rows.treeAggregate(zero)(
      seqOp = (buf, row) => {
        val (y, x) = row
        buf(0) += 1.0
        var j = 0
        while (j < mTargets) { buf(1 + j) += y(j); j += 1 }
        x.foreachActive { (c, v) =>
          buf(sumOff + c) += v
          buf(sqOff + c) += v * v
          if (v > buf(maxOff + c)) buf(maxOff + c) = v
          buf(nnzOff + c) += 1.0
        }
        buf
      },
      combOp = (a, b) => {
        a(0) += b(0)
        var i2 = 1
        while (i2 < maxOff) { a(i2) += b(i2); i2 += 1 }
        while (i2 < nnzOff) { a(i2) = math.max(a(i2), b(i2)); i2 += 1 }
        while (i2 < sz) { a(i2) += b(i2); i2 += 1 }
        a
      },
      depth = 2)

    val n = agg(0).toLong
    val nD = n.toDouble
    val yMeans = Array.tabulate(mTargets)(j => agg(1 + j) / nD)
    val mean = Array.tabulate(pFeat)(c => agg(sumOff + c) / nD)
    val xCenter = if (center) mean else Array.fill(pFeat)(0.0)

    def centeredSumSq(c: Int): Double =
      math.max(agg(sqOff + c) - nD * mean(c) * mean(c), 0.0)

    /** Column max including implicit zeros: active max, clamped up to 0 when
      * the column has any implicit zero (nnz < n).
      */
    def colMax(c: Int): Double = {
      val mActive = agg(maxOff + c)
      if (agg(nnzOff + c) < nD) math.max(mActive, 0.0) else mActive
    }

    val xScale: Array[Double] = scale match {
      case "none" => Array.fill(pFeat)(1.0)
      case "l2" =>
        Array.tabulate(pFeat) { c =>
          if (center) math.sqrt(centeredSumSq(c))
          else math.sqrt(agg(sqOff + c))
        }
      case "sd" =>
        // always around the mean, n−1 normalizer (standardize.h:28-31,59-62)
        Array.tabulate(pFeat)(c => math.sqrt(centeredSumSq(c) / (nD - 1.0)))
      case "l1" | "max" =>
        if (!center && scale == "max")
          Array.tabulate(pFeat)(c => colMax(c))
        else {
          // |x−c| needs a second pass (Σ|x−c| is not moment-derivable);
          // centered max is just a shift of the uncentered max
          if (scale == "max")
            Array.tabulate(pFeat)(c => colMax(c) - xCenter(c))
          else {
            val ctr = xCenter
            val agg2 = rows.treeAggregate(new Array[Double](pFeat))(
              seqOp = (buf, row) => {
                val x = row._2
                // Σ|x−c| decomposes as Σ_active |x−c| + (#implicit zeros)·|c|
                // — handled by accumulating actives and correcting after;
                // here we also need per-row zero handling, so accumulate
                // |v−c| − |0−c| per active and add n·|c| at the end
                x.foreachActive { (c2, v) =>
                  buf(c2) += math.abs(v - ctr(c2)) - math.abs(ctr(c2))
                }
                buf
              },
              combOp = (a, b) => {
                var c2 = 0
                while (c2 < pFeat) { a(c2) += b(c2); c2 += 1 }
                a
              },
              depth = 2)
            Array.tabulate(pFeat)(c => agg2(c) + nD * math.abs(xCenter(c)))
          }
        }
      case other => throw new IllegalArgumentException(s"unknown scale: $other")
    }
    // zero-variance guard (standardize.h:33-34)
    val guarded = xScale.map(s => if (s == 0.0) 1.0 else s)
    StandardizeStats(n, xCenter, guarded, yMeans)
  }
}
