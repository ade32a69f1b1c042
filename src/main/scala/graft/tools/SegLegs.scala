package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-leg wall-clock breakdown of `p_incremental_substr_removal_segmented`
  * — the LSM lifecycle row's in-query rebuild (VERDICT r16 item 6): doc-id
  * quartiles play four crawl days (base build over q1, two watermarked
  * folds for q2/q3 — fold #1 compacts at compactFraction 0.7, fold #2
  * stays open), then q4 probes the two-segment store. Times each eager
  * public step the query body executes, so the dominant leg is measurable
  * before cutting it (guide §1).
  *
  * Output: SEGLEGS.json (or argv[1]).
  * Usage: runMain graft.tools.SegLegs <sfDir> [outPath]
  */
object SegLegs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("SEGLEGS.json")
    val spark = graft.util.Tables.session("graft-seg-legs")

    val D = graft.pipeline.Dedup
    val minLen = 20

    val legs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def leg[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"seglegs: $name")
      val t0 = System.nanoTime()
      val r = f
      legs(name) = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      System.err.println(f"[seglegs] $name%-16s ${legs(name)}%8.3f s")
      r
    }

    val d = graft.util.Tables.spread(
      graft.util.Tables.t(spark, sfDir, "documents"))
    // two passes — pass 1 absorbs JVM/codegen warmup (the bench's
    // min-of-N does the same); read pass-2 ("w2_") legs for steady state
    for (pass <- 1 to 2) {
      val p = if (pass == 1) "" else "w2_"
      val mx = leg(s"${p}max_id") { d.agg(max(col("doc_id"))).head.getLong(0) }
      val (c1, c2, c3) = (mx / 4, mx / 2, 3 * mx / 4)
      val base = leg(s"${p}build_q1") {
        D.buildExactSubstrIndex(
          d.filter(col("doc_id") <= c1), minLen, compactFraction = 0.7)
      }
      val f1 = leg(s"${p}fold_q2_compact") {
        D.updateExactSubstrIndex(base,
          d.filter(col("doc_id") > c1 && col("doc_id") <= c2))
      }
      val f2 = leg(s"${p}fold_q3_open") {
        D.updateExactSubstrIndex(f1,
          d.filter(col("doc_id") > c2 && col("doc_id") <= c3))
      }
      require(f2.store.deltas.size == 1,
        s"expected 1 open delta, got ${f2.store.deltas.size}")
      leg(s"${p}probe_q4") {
        D.incrementalRemoveDupSpansExact(
            d.filter(col("doc_id") > c3), f2)
          .filter(col("cut_tokens") > 0)
          .select(col("doc_id"), col("piece_idx"), col("st"), col("en"),
            col("n_tokens"), md5(col("text")).as("text_hash"))
          .orderBy("doc_id", "piece_idx")
          .write.format("noop").mode("overwrite").save()
      }
      f2.unpersist()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    val json = legs.map { case (k2, v) => s""""$k2":$v""" }
      .mkString(s"""{"metric":"seg_legs","sf":"$sfDir","shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""", ",", "}")
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
