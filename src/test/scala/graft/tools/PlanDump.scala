package graft.tools
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Regenerates PLANS.md (run explicitly: testOnly graft.tools.PlanDump). */
class PlanDump extends AnyFunSuite {
  test("dump plans") {
    val b = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    graft.util.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q3_shipping_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
      "m_lambda_max_gaussian", "m_auc_fixed_score", "p_minhash_lsh_dedup", "p_cosine_topk",
      "p_winnow_fingerprint", "p_stratified_sample", "p_pack_sequences",
      "p_decontaminate", "p_heavy_hitters", "p_length_quantiles",
      "p_repetition_quality", "p_incremental_dedup",
      "p_asof_join", "p_range_join", "p_tfidf_topk", "p_ann_int8_topk",
      "p_semantic_dedup", "p_ann_pq_topk", "p_ann_ivfpq_topk",
      "p_mixture_budget_bucketed", "p_corpus_freq_quality", "p_rate_upsample",
      "p_multimodal_audio", "p_dup_spans", "p_incremental_neardup",
      "p_pack_span_masks", "p_paragraph_dedup", "p_clean_pipeline",
      "p_full_pipeline", "p_full_pipeline_model_quality")
    val sb = new StringBuilder
    sb.append("# PLANS - formatted physical plans of representative queries\n\n")
    sb.append("Generated by `testOnly graft.tools.PlanDump` (sf-independent shapes;\n")
    sb.append("AdaptiveSparkPlan nodes re-optimize at runtime from real sizes).\n")
    sb.append("Expression/plan/RDD ids, lambda names and array identity hashes\n")
    sb.append("are normalized to first-occurrence order per query (#e1, #e2, ...,\n")
    sb.append("RDD[r1], lambda x_1, [D@h1, ...; `PlanSnap.normalizeIds`), so the\n")
    sb.append("dump is stable across sessions and test orders —\n")
    sb.append("raw ids are allocator state, and their churn flapped this file 3x\n")
    sb.append("in round 14 with zero plan changes.\n")
    sb.append("Properties asserted programmatically in `PlanQualitySpec`.\n")
    for (n <- names) {
      sb.append(s"\n## $n\n\n```\n")
      val df = SparkEntry.queries(n)(spark, dir)
      sb.append(PlanSnap.normalizeIds(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).take(12000))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    spark.stop()
  }
}
