package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.util.Tables

/** What one op produced: its collected rows and their schema. */
final case class OpResult(rows: Array[Row], schema: StructType)

/** A workload is a fixed cycle of registered queries, each forced by
  * `collect`; the seed shuffles the order of every round.
  */
final class Workload(val name: String, dataDir: String, seed: Long,
    ops: Seq[String], shuffle: Boolean) {
  private val fns = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  ops.foreach { q =>
    require(fns.contains(q), s"query $q is not registered")
    require(oracle.contains(q), s"query $q has no oracle")
  }

  def oracleSql(op: String): String = oracle(op)

  /** Op names of round `r`, in the order the seed picks for it. */
  def round(r: Int): Seq[String] =
    if (!shuffle) ops else new scala.util.Random(seed * 1000003L + r).shuffle(ops)

  /** Engine tables the op reads (those its oracle SQL names). */
  def tablesOf(op: String): Seq[String] = {
    val words = oracle(op).toLowerCase.split("[^a-z_0-9]+").toSet
    Tables.all.filter(words.contains)
  }

  /** The registered fn call up to the returned DataFrame is the
    * `queries.build` span; the collect is the op's final action.
    */
  def run(spark: SparkSession, op: String, span: (String, => Any) => Any): OpResult = {
    val df = span("queries.build", fns(op)(spark, dataDir)).asInstanceOf[DataFrame]
    OpResult(df.collect(), df.schema)
  }
}

object Workloads {
  /** The 17 relational queries plus the 8 fit-free ML-prep queries. */
  val PrepOps: Seq[String] = Seq(
    "q1_pricing_summary", "q2_filter_project", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q7_window_running",
    "q8_topk_orders", "q9_distinct", "q10_setops", "q11_semi_anti",
    "q12_outer_join", "q13_having", "q14_promo_share", "q15_scalar_funcs",
    "q16_rollup", "q17_above_avg_orders", "q18_events_profile",
    "m_standardize_stats", "m_lambda_max_gaussian", "m_sigma_grid_gaussian",
    "m_score_fixed_beta", "m_auc_fixed_score", "m_auc_weighted",
    "m_gradient_udaf", "t1_cv_fixed_beta")

  def apply(name: String, dataDir: String, seed: Long): Workload = name match {
    case "prep_queries" => new Workload(name, dataDir, seed, PrepOps, shuffle = true)
    case "corpus_increment" => new Workload(name, dataDir, seed,
      Seq("p_incremental_full_pipeline_probe_only"), shuffle = false)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}
