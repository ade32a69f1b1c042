package graft.tools

import graft.SparkEntry

/** Optimization-round plan snapshots: writes `.explain("formatted")` for
  * the requested queries to `plans/<tag>/<query>_<suffix>.txt`, one file
  * per query, ids normalized the same way PLANS.md is (raw expression ids
  * are allocator state and churn with zero plan change).
  *
  * Usage: runMain graft.tools.PlanSnap <tag> <suffix> <q1,q2,...|TOP>
  *   tag    — plans/ subdirectory (e.g. r16)
  *   suffix — appended to each file name (before/after)
  *   TOP    — the heavy-query set this round tracks
  *
  * The session comes from the same factory as Bench
  * ([[graft.util.Tables.session]]), so the committed shapes are the ones
  * the bench actually runs.
  */
object PlanSnap {
  val topQueries: Seq[String] = Seq(
    "p_incremental_full_pipeline", "p_incremental_clean_pipeline",
    "p_full_pipeline", "p_full_pipeline_model_quality",
    "m_slope_path_kkt_multinomial", "p_incremental_substr_removal_segmented",
    "p_clean_pipeline", "p_dup_clusters", "p_incremental_paragraph_dedup",
    "p_paragraph_dedup_bytes", "p_dup_keep_best", "p_minhash_lsh_dedup",
    "p_substr_removal_fixedpoint", "p_paragraph_dedup", "p_dup_gram_profile",
    "p_line_dedup", "p_incremental_substr_removal", "p_decontaminate",
    "p_incremental_neardup", "p_dup_spans_multi", "p_bigram_lm_quality",
    "p_exact_substr_removal", "p_ngram_jaccard", "p_tfidf_topk",
    "p_pack_span_masks", "q9_distinct", "q1_pricing_summary",
    "p_incremental_full_pipeline_probe_only",
    "p_incremental_clean_pipeline_probe_only",
    "p_incremental_substr_removal_probe_only",
    "p_incremental_substr_removal_segmented_probe_only")

  /** Renumbers allocator state in a plan string, per plan, in
    * first-appearance order: expression ids `#<n>` become `#e1, #e2, ...`,
    * `plan_id=<n>` becomes `plan_id=p1, ...`, RDD ids `RDD[<n>]` (a
    * per-context counter) become `RDD[r1], ...`, lambda variables
    * `lambda x_<n>` (a JVM-global counter) become `lambda x_1, ...`, and
    * JVM array identity hashes such as `[D@1b2c3d` (a literal array's
    * default toString) become `[D@h1, ...`, and RDD call sites drop their
    * source line (`at Dedup.scala:191` becomes `at Dedup.scala`, so moving
    * code does not churn the dump). Structure (operators,
    * columns, pushed filters, join keys) is untouched, so two dumps of the
    * same plan compare byte-equal across sessions and test orders.
    */
  def normalizeIds(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex)(
        out: (scala.util.matching.Regex.Match, Int) => String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
        out(m, seen.getOrElseUpdate(m.group(1), seen.size + 1))))
    }
    val exprIds = renumber(plan, raw"#(\d+)(L|[a-z]*)?".r)((m, k) =>
      s"#e$k${Option(m.group(2)).getOrElse("")}")
    val planIds = renumber(exprIds, raw"plan_id=(\d+)".r)((_, k) => s"plan_id=p$k")
    val rddIds = renumber(planIds, raw"RDD\[(\d+)\]".r)((_, k) => s"RDD[r$k]")
    val lambdas = renumber(rddIds, raw"lambda (([a-z]+)_\d+)".r)((m, k) =>
      s"lambda ${m.group(2)}_$k")
    val hashes = renumber(lambdas, raw"(\[[A-Z]@[0-9a-f]+)\b".r)((m, k) =>
      m.group(1).takeWhile(_ != '@') + s"@h$k")
    raw"at (\w+\.scala):\d+".r.replaceAllIn(hashes, "at $1")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> <q1,q2,...|TOP>")
    val (tag, suffix) = (args(0), args(1))
    val names =
      if (args(2) == "TOP") topQueries
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.util.Tables.session("graft-plan-snap")
    val outDir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    for (n <- names) {
      System.err.println(s"[plansnap] $n ...")
      val txt =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          normalizeIds(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch {
          case e: Throwable => s"FAILED to plan: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"),
        s"== $n ($suffix, sf=$sfDir, shufflePartitions=${spark.conf.get("spark.sql.shuffle.partitions")}) ==\n" + txt + "\n")
    }
    spark.stop()
  }
}
