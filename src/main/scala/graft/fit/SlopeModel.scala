package graft.fit

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.slope._

/** Fitted SLOPE path model — the reference's `Owl` S3 object re-expressed
  * (R/owl.R:471-487). Coefficients for the whole path are driver-resident
  * (p×m×n_sigma doubles, same assumption the reference makes by returning
  * the cube to R); prediction is a narrow per-row map over a DataFrame.
  */
final class SlopeModel(
    val fit: SlopeFit,
    val featureNames: Array[String],
    val classNames: Array[String]) extends Serializable {

  def family: Family = Family(fit.family)
  private def m: Int = fit.betas.head.cols
  private def ic: Int = if (fit.intercept) 1 else 0

  /** Coefficients at the fitted path steps, or linearly interpolated at
    * requested σ (reference R/coef.R:23-54; exact refit not supported here —
    * refit explicitly via SlopeEstimator for `exact` semantics).
    */
  def coef(sigma: Array[Double] = Array.empty): IndexedSeq[DenseMatrix[Double]] =
    if (sigma.isEmpty) fit.betas
    else if (sigma.forall(s => fit.sigma.contains(s)))
      sigma.toIndexedSeq.map(s => fit.betas(fit.sigma.indexOf(s)))
    else {
      val br = Interpolation.interpolatePenalty(fit.sigma, sigma)
      Interpolation.interpolateCoefficients(fit.betas, br)
    }

  /** Deviance along the path: (1 − deviance_ratio)·null_deviance
    * (reference R/deviance.R:13-18).
    */
  def deviance: Array[Double] = fit.devianceRatios.map(r => (1.0 - r) * fit.nullDeviance)

  /** Path summary as a DataFrame (reference print.Owl, R/print.R:14-31;
    * plus `stalled` — whether the step's solve exited through the
    * numerical-floor guard rather than the duality-gap test, an engine
    * addition the reference cannot report because it loops to max_passes).
    */
  def summary(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fit.sigma.indices.map { k =>
      (k, fit.sigma(k), fit.devianceRatios(k), fit.nonzeros(k), fit.nUnique(k),
        fit.passes(k), fit.stallExits.lift(k).getOrElse(false))
    }.toDF("step", "sigma", "deviance_ratio", "n_nonzero", "n_unique", "passes",
      "stalled")
  }

  /** Coefficient path in long format — the data behind the reference's
    * path plot (plot.Owl, R/plot.R:19-109): one row per (path step,
    * coefficient row, target) with σ and the step's deviance ratio, so
    * "β vs σ per feature" is a direct pivot. Rendering itself is out of
    * scope (SURVEY M15 — data-complete); any plotting layer consumes this.
    */
  def pathDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val names = (if (fit.intercept) Seq("intercept") else Seq.empty) ++
      featureNames.toSeq
    fit.betas.indices.flatMap { k =>
      val b = fit.betas(k)
      for (i <- 0 until b.rows; j <- 0 until b.cols) yield
        (k, fit.sigma(k), names(i), j, b(i, j), fit.devianceRatios(k))
    }.toDF("step", "sigma", "feature", "target", "beta", "deviance_ratio")
  }

  /** Per-iteration solver traces flattened to a long DataFrame
    * (reference setupDiagnostics, R/setupDiagnostics.R:9-25): one row per
    * (path step, iteration) with wall time, primal and dual objectives.
    * Empty unless the fit ran with diagnostics enabled.
    */
  def diagnosticsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fit.diagnostics.zipWithIndex.flatMap { case ((primals, duals, times), step) =>
      primals.indices.map { i =>
        (step, fit.sigma(step), i,
          times.lift(i).getOrElse(0.0), primals(i), duals.lift(i).getOrElse(0.0))
      }
    }.toDF("step", "sigma", "iteration", "time", "primal", "dual")
  }

  /** Linear predictors for every path step: adds an
    * `ArrayType(ArrayType(Double))` column `pred` with shape
    * n_sigma × m (reference predict.Owl, R/predict.R:32-69).
    *
    * Pure column expressions, NO UDF: each (step, target) linear predictor
    * is `intercept + vec_dot(features, literal β column)` — the native
    * codegen'd dot — and the family links (sigmoid, exp, the reference's
    * guarded logsumexp softmax, class argmax) are built from stock column
    * functions on top. Everything stays inside whole-stage codegen; the
    * previous Scala-UDF formulation boxed every row into a Seq[Double],
    * which is exactly the per-row overhead that dominates a 100 TB predict.
    * The β literals embed the whole path in the plan (p·m·n_sigma doubles —
    * same driver-size assumption the model itself makes).
    */
  def transform(df: DataFrame, featureCols: Seq[String],
                outputCol: String = "pred",
                requestedSigma: Array[Double] = Array.empty,
                predictType: String = "link"): DataFrame = {
    val betas = coef(requestedSigma)
    val fam = family
    val mT = m
    val icL = ic
    val cn = classNames

    val xsCol =
      if (featureCols.length == 1 &&
          df.schema(featureCols.head).dataType ==
            org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
        org.apache.spark.ml.functions.vector_to_array(col(featureCols.head))
      else array(featureCols.map(c => col(c).cast("double")): _*)

    def linkExprs(b: DenseMatrix[Double]): IndexedSeq[org.apache.spark.sql.Column] =
      (0 until mT).map { j =>
        val w = (0 until b.rows - icL).map(i => b(icL + i, j))
        val base = if (icL == 1) lit(b(0, j)) else lit(0.0)
        base + graft.functions.VecFunctions.vecDot(xsCol, typedLit(w))
      }

    // column mirror of MathUtil.{truncExp, truncLog, logSumExp0} — same
    // guards, same accumulation order (exp(−mx) first, then the terms)
    def truncExpCol(x: org.apache.spark.sql.Column) =
      when(x >= MathUtil.LogMax, lit(Double.MaxValue)).otherwise(exp(x))
    def truncLogCol(x: org.apache.spark.sql.Column) =
      when(x === lit(Double.PositiveInfinity), lit(MathUtil.LogMax))
        .otherwise(when(x <= 0.0, lit(MathUtil.LogMin)).otherwise(log(x)))
    def lseCol(lps: IndexedSeq[org.apache.spark.sql.Column]) = {
      val mx = if (lps.length == 1) lps.head else greatest(lps: _*)
      val s = lps.map(lp => truncExpCol(lp - mx)).foldLeft(exp(-mx))(_ + _)
      truncLogCol(s) + mx
    }

    // the link column embeds each β literal exactly ONCE; response/class
    // derive from REFERENCES into a materialized intermediate column, never
    // by re-embedding the link trees (a naive expression build duplicated
    // every p-element β literal O(m²)+ times per step through the softmax —
    // plan-size blowup for wide multinomial models). CollapseProject keeps
    // the intermediate: its alias is non-cheap and multiply-referenced.
    // NULL features (and wrong-width vectors) yield NULL predictions in
    // EVERY predict type — vec_dot propagates NULL through link/response,
    // and the class branches guard explicitly (a bare comparison would
    // otherwise silently fall through to a confident class label); the old
    // UDF silently unboxed NULL to 0.0.
    val linkArr = array(betas.map(b => array(linkExprs(b): _*)): _*)
    // collision-proof temp names: a user column named e.g. "pred__lp"
    // would otherwise be clobbered and dropped
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val tmpLp = fresh(outputCol + "__lp")
    def lp(k: Int, j: Int) = col(tmpLp).getItem(k).getItem(j)
    def viaTmp(steps: IndexedSeq[org.apache.spark.sql.Column]): DataFrame =
      df.withColumn(tmpLp, linkArr)
        .withColumn(outputCol, array(steps: _*))
        .drop(tmpLp)

    predictType match {
      case "link" => df.withColumn(outputCol, linkArr)
      case "response" =>
        fam match {
          case Gaussian => df.withColumn(outputCol, linkArr)
          case Binomial =>
            viaTmp(betas.indices.map(k =>
              array(lit(1.0) / (lit(1.0) + exp(-lp(k, 0))))))
          case Poisson =>
            viaTmp(betas.indices.map(k => array(exp(lp(k, 0)))))
          case Multinomial =>
            // softmax over m−1 targets + implicit 0 reference class
            // (R/predict.R:166-175)
            viaTmp(betas.indices.map { k =>
              val lps = (0 until mT).map(j => lp(k, j))
              val lse = lseCol(lps)
              array(lps.map(l => exp(l - lse)) :+ exp(-lse): _*)
            })
        }
      case "class" =>
        fam match {
          case Binomial =>
            // sign threshold at 0 → class_names (R/predict.R:102-115);
            // NULL lp (NULL feature) must stay NULL, not fall into the
            // otherwise-branch label
            viaTmp(betas.indices.map(k =>
              when(lp(k, 0).isNull, lit(null).cast("string"))
                .when(lp(k, 0) > 0, lit(cn(1))).otherwise(lit(cn(0)))))
          case Multinomial =>
            // argmax over the softmax PROBABILITIES (not the raw linear
            // predictors): comparing what the UDF compared keeps its exact
            // behavior on exp-rounding ties and NaN — the comparable-struct
            // least picks the max prob with the reference's preference on
            // ties (reference class first, then class order: the loop only
            // replaced on STRICTLY greater), and an all-NaN row falls
            // through to the reference class in both formulations.
            val tmpResp = fresh(outputCol + "__resp")
            val withResp = transform(df, featureCols, tmpResp, requestedSigma, "response")
            def prob(k: Int, j: Int) = col(tmpResp).getItem(k).getItem(j)
            val steps = betas.indices.map { k =>
              val choices =
                struct((-prob(k, mT)).as("negv"), lit(0).as("pref"), lit(cn(mT)).as("name")) +:
                  (0 until mT).map(j =>
                    struct((-prob(k, j)).as("negv"), lit(j + 1).as("pref"), lit(cn(j)).as("name")))
              // NULL probs (NULL feature) stay NULL — the struct-least would
              // otherwise tie on NULL keys and emit the reference class
              when(prob(k, 0).isNull, lit(null).cast("string"))
                .otherwise(least(choices: _*).getField("name"))
            }
            withResp.withColumn(outputCol, array(steps: _*)).drop(tmpResp)
          case other =>
            throw new IllegalArgumentException(s"type=class unsupported for ${other.name}")
        }
      case other => throw new IllegalArgumentException(s"unknown predict type: $other")
    }
  }

  /** Per-path-step scores on a labeled DataFrame
    * (reference R/score.R:29-135): distributed aggregations, one job.
    * Measures: mse, mae (gaussian/poisson response scale); binomial adds
    * deviance, misclass, auc.
    */
  def score(df: DataFrame, featureCols: Seq[String], labelCol: String,
            measure: String, weightCol: Option[String] = None): Array[Double] = {
    val nSteps = coef().length
    val fam = family
    require(weightCol.isEmpty || measure == "auc",
      "case weights are supported for auc only (reference R/score.R parity)")
    measure match {
      case "auc" =>
        require(fam == Binomial, "auc is binomial-only")
        weightCol match {
          case Some(wc) => aucWeightedAllSteps(df, featureCols, labelCol, nSteps, wc)
          case None     => aucAllSteps(df, featureCols, labelCol, nSteps)
        }
      case _ =>
        val scored = transform(df, featureCols, "p_resp",
          predictType = if (fam == Gaussian || fam == Poisson) "link" else "response")
        val respCol = if (fam == Poisson) // poisson response = exp(link)
          expr("transform(p_resp, a -> array(exp(a[0])))")
        else col("p_resp")
        val withResp = scored.withColumn("p_resp2", respCol)
        val aggExprs = (0 until nSteps).map { k =>
          val err = measureExpr(fam, measure, k, labelCol)
          avg(err).as(s"s$k")
        }
        val row = withResp.agg(aggExprs.head, aggExprs.tail: _*).head()
        (0 until nSteps).map(k => row.getDouble(k)).toArray
    }
  }

  private def measureExpr(fam: Family, measure: String, k: Int, labelCol: String) = {
    val pred = expr(s"p_resp2[$k][0]")
    fam match {
      case Multinomial =>
        // M13 (reference R/score.R:82-118): one-hot y over the m+1 classes
        // vs softmax probabilities; per-row class-mean for mse/mae,
        // class-sum for the capped deviance, then averaged over rows.
        val nCls = classNames.length
        val terms = (0 until nCls).map { j =>
          val yj = (col(labelCol).cast("string") === classNames(j)).cast("double")
          val pj = expr(s"p_resp2[$k][$j]")
          (yj, pj)
        }
        measure match {
          case "mse" =>
            terms.map { case (yj, pj) => pow(yj - pj, 2.0) }
              .reduce(_ + _) / lit(nCls.toDouble)
          case "mae" =>
            terms.map { case (yj, pj) => abs(yj - pj) }
              .reduce(_ + _) / lit(nCls.toDouble)
          case "deviance" =>
            terms.map { case (yj, pj) =>
              val pc = least(greatest(pj, lit(1e-5)), lit(1.0 - 1e-5))
              lit(-2.0) * yj * log(pc) // y log y = 0 for one-hot y
            }.reduce(_ + _)
          case "misclass" =>
            // argmax class (deterministic first-max) vs label
            val best = expr(
              s"array_position(p_resp2[$k], array_max(p_resp2[$k])) - 1")
            val predName = classNames.zipWithIndex.foldRight(lit(""): org.apache.spark.sql.Column) {
              case ((cn, j), acc) => when(best === j, lit(cn)).otherwise(acc)
            }
            (predName =!= col(labelCol).cast("string")).cast("double")
          case other => throw new IllegalArgumentException(s"measure $other")
        }
      case Binomial =>
        // y one-hot over sorted classes; prob is P(class 2) (R/score.R:45-78)
        val y2 = (col(labelCol).cast("string") === classNames(1)).cast("double")
        val y1 = lit(1.0) - y2
        measure match {
          case "mse" => pow(pred + y1 - 1.0, 2.0) + pow(pred - y2, 2.0)
          case "mae" => abs(pred + y1 - 1.0) + abs(pred - y2)
          case "deviance" =>
            val pc = least(greatest(pred, lit(1e-5)), lit(1.0 - 1e-5))
            lit(-2.0) * (y1 * log(lit(1.0) - pc) + y2 * log(pc))
          case "misclass" =>
            y1 * (pred > 0.5).cast("double") + y2 * (pred <= 0.5).cast("double")
          case other => throw new IllegalArgumentException(s"measure $other")
        }
      case _ =>
        val err = pred - col(labelCol).cast("double")
        measure match {
          case "mse" => pow(err, 2.0)
          case "mae" => abs(err)
          case other => throw new IllegalArgumentException(s"measure $other")
        }
    }
  }

  /** Wilcoxon rank-statistic AUC for EVERY path step in one job
    * (reference R/score.R:137-150): explode to (step, prob, y), rank within
    * each step's window partition, aggregate per step. Average ranks for
    * ties — deterministic, unlike the reference's randomized weighted
    * variant (documented deviation). One shuffle for all steps instead of a
    * global sort per step.
    */
  private def aucAllSteps(df: DataFrame, featureCols: Seq[String],
                          labelCol: String, nSteps: Int): Array[Double] = {
    // fully distributed ranking: reduce to one row per (step, prob) FIRST
    // (map-side-combinable groupBy, codegen'd), then a range-partitioned
    // prefix sum over the distinct table yields tie-averaged ranks in
    // closed form. Every step contributes exactly n rows, so the
    // within-step rank is globalCum − step·n — no per-step jobs, no
    // single-partition window (see DistributedRank).
    // posexplode_OUTER: p_resp is never null or empty, so the rows are the
    // same, but a plain posexplode makes the optimizer infer a
    // `size(p_resp) > 0` filter and push it below the projections with the
    // whole path's predictions inlined — a second evaluation per row whose
    // generated hash-aggregate code outgrew the JVM's 64 KB method limit
    val scored = transform(df, featureCols, "p_resp", predictType = "response")
      .select(posexplode_outer(col("p_resp")).as(Seq("step", "probs")),
        (col(labelCol).cast("string") === classNames(1)).cast("double").as("y"))
      .select(col("step"), expr("probs[0]").as("prob"), col("y"))
    val nRows = df.count()
    val grouped = scored.groupBy("step", "prob")
      .agg(sum(col("y")).as("n1_in"), count(lit(1)).as("cnt"))
    val g = DistributedRank.withPrefixSum(grouped, Seq("step", "prob"), "cnt")
      .withColumn("avg_rank",
        (col("cum_before") - col("step").cast("long") * nRows).cast("double") +
          (col("cnt").cast("double") + 1.0) / 2.0)
    val rows = g.groupBy("step").agg(
      sum(col("avg_rank") * col("n1_in")).as("rank_sum"),
      sum(col("n1_in")).as("n1"),
      sum(col("cnt")).as("n"))
      .collect()
    val out = new Array[Double](nSteps)
    rows.foreach { r =>
      val step = r.getInt(0)
      val rankSum = r.getDouble(1)
      val n1 = r.getDouble(2)
      val n0 = r.getLong(3).toDouble - n1
      val u = rankSum - n1 * (n1 + 1.0) / 2.0
      out(step) = math.exp(math.log(u) - math.log(n1) - math.log(n0))
    }
    out
  }

  /** Case-weighted AUC for every path step (reference R/score.R:152-164,
    * with DETERMINISTIC tie-averaging instead of the reference's randomized
    * tie order — documented deviation). Weights are fixed to the Det 1e-6
    * integer grid, so every per-group statistic is an exact long, the
    * cross-group term `2U = Σ w1g·(2·cumW0 + w0g)` is an exact decimal, and
    * the result is bit-identical to `LocalScore.aucWeighted` and invariant
    * to partitioning. Same scale shape as the unweighted path: grouped
    * map-side-combinable aggregation + a distributed prefix sum.
    */
  private def aucWeightedAllSteps(df: DataFrame, featureCols: Seq[String],
                                  labelCol: String, nSteps: Int,
                                  weightCol: String): Array[Double] = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    // weight grid cast with the SAME loud guards as LocalScore.aucWeighted:
    // a NaN/null weight would floor-cast to 0 (row silently dropped), an
    // infinite one would clamp to Long.MaxValue, a negative one would
    // corrupt U — all plausible-looking wrong answers without this
    val w = col(weightCol).cast("double")
    val g = floor(w * lit(1e6) + lit(0.5))
    val wg = when(w.isNotNull && !isnan(w) && w >= 0 &&
        g < lit(9.223372036854776e18), g.cast("long"))
      .otherwise(raise_error(format_string(
        "auc: case weights must be finite, non-negative and under the " +
          "1e-6 grid range, got %s", w.cast("string"))))
    val scored = transform(df, featureCols, "p_resp", predictType = "response")
      .select(posexplode_outer(col("p_resp")).as(Seq("step", "probs")),
        (col(labelCol).cast("string") === classNames(1)).cast("double").as("y"),
        wg.as("wg")) // _outer: see aucAllSteps
      .select(col("step"), expr("probs[0]").as("prob"), col("y"), col("wg"))
    // per-group masses accumulate as DECIMAL(38,0) (a degenerate tie group
    // — think constant scores over 1e13 rows — would wrap a long sum
    // silently); the guarded downcast feeds the long-typed prefix sum,
    // whose own accumulator overflows LOUDLY (Math.addExact)
    val grouped = scored.groupBy("step", "prob").agg(
      sum(when(col("y") > 0, col("wg")).otherwise(lit(0L)).cast(dec)).as("w1d"),
      sum(when(col("y") > 0, lit(0L)).otherwise(col("wg")).cast(dec)).as("w0d"))
    def downcast(c: org.apache.spark.sql.Column) =
      when(c < lit(9.223372036854776e18), c.cast("long"))
        .otherwise(raise_error(lit("auc: tie-group weight mass overflows long")))
    val groupedL = grouped.select(col("step"), col("prob"),
      downcast(col("w1d")).as("w1g"), downcast(col("w0d")).as("w0g"))
    // cum_before is GLOBAL over (step, prob); every step holds the same
    // rows, so the within-step offset is step · (per-step w0 total)
    val pre = DistributedRank.withPrefixSum(groupedL, Seq("step", "prob"), "w0g")
    val rows = pre.groupBy("step").agg(
      sum((col("w1g").cast(dec) *
        (col("cum_before").cast(dec) * lit(2) + col("w0g").cast(dec))).cast(dec))
        .as("u2raw"),
      sum(col("w1g").cast(dec)).as("w1"), sum(col("w0g").cast(dec)).as("w0"))
      .collect()
    val out = new Array[Double](nSteps)
    rows.foreach { r =>
      val step = r.getInt(0)
      val u2raw = r.getDecimal(1)
      val w1 = r.getDecimal(2)
      val w0 = r.getDecimal(3)
      // subtract the 2 · step·W0tot · W1 contributed by earlier steps' w0
      val u2 = u2raw.subtract(java.math.BigDecimal.valueOf(2L * step)
        .multiply(w0).multiply(w1))
      out(step) = math.exp(math.log(u2.doubleValue()) - math.log(2.0) -
        math.log(w1.doubleValue()) - math.log(w0.doubleValue()))
    }
    out
  }
}
