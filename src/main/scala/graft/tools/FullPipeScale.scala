package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Decade-scale probe of the FULL cleanup chain (P60/P61) and of P58's
  * PRODUCTION shape (the round-13 verdict's finding 4: the committed
  * `p_clean_pipeline` ×1000 reading carries the oracle-shaped global sort
  * + full-corpus md5 emission, which the shape users actually run — lazy
  * stream-to-sink — does not pay; measure that shape directly instead of
  * inferring it).
  *
  * Legs (caches dropped between legs, min over `reps` timed runs each):
  *   - `p58_prod_sec`   — `cleanCorpus(pages)` → noop sink, NO global
  *                        sort, NO md5: the composed pass as a production
  *                        run pays it
  *   - `p60_prod_sec`   — `fullCleanCorpus(pages)` → noop sink, same
  *                        production shape
  *   - `p60_oracle_sec` — the `p_full_pipeline` bench query's shape
  *                        (sorted, md5 text hashes) for comparability
  *                        with BENCH rows
  *   - `p61_build_sec`  — `buildFullCleanIndex` over the low-id 4/5 +
  *                        materialization of all halves (the once-per-
  *                        corpus cost an increment amortizes)
  *   - `p61_probe_sec`  — `incrementalFullClean` of the high-id 1/5
  *                        against the warm index (min over reps)
  *
  * Probe reps are isolated: each rep's own checkpointed frames
  * (cleanedInc/incReps/losers/survivors) are unpersisted before the next
  * rep, so later reps never time against accumulated block-manager
  * residency — only the index halves stay warm (the steady state).
  *
  * With a 4th arg `cold`, skips the batch legs and adds the cross-restart
  * row (INCPROBE protocol): `p61_write_sec` (writeFullCleanIndex),
  * `p61_read_sec` (reload), `p61_cold_probe_sec` (first probe paying all
  * parquet scans + persist fills) and `p61_rewarm_probe_sec`.
  *
  * Usage: runMain graft.tools.FullPipeScale <sfDir> [outPath] [reps] [cold]
  */
object FullPipeScale {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("FULLPIPE_SCALE.json")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.util.Tables.session("graft-fullpipe-scale")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val stat0 = graft.Bench.cpuStat()

    val P = graft.pipeline.CleanPipeline
    // the same page synthesis as the p_full_pipeline query
    val pages = graft.util.Tables.spread(
        graft.util.Tables.t(spark, sfDir, "documents"))
      .select(explode(array(expr("doc_id div 4"), expr("doc_id div 4 - 1")))
        .as("page_id"), col("doc_id"), col("text"))
      .filter(col("page_id") >= 0)
      .groupBy("page_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n\n").as("text"))
      .select(col("page_id").as("doc_id"), col("text"))

    def drop(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def minOf(f: => Unit): Double = (0 until reps).map { _ =>
      drop(); timed(f)
    }.min
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val cold = args.lift(3).contains("cold")

    val p58Prod = if (cold) -1.0 else minOf(noop(P.cleanCorpus(pages, minLen = 20)))
    val p60Prod = if (cold) -1.0 else minOf(noop(P.fullCleanCorpus(pages, minLen = 20)))
    val p60Oracle = if (cold) -1.0 else minOf(noop(
      P.fullCleanCorpus(pages, minLen = 20)
        .select(col("doc_id"), col("piece_idx"), col("st"), col("en"),
          col("n_tokens"), col("cut_tokens"), md5(col("text")).as("text_hash"))
        .orderBy("doc_id", "piece_idx")))

    drop()
    val k = pages.agg(max(col("doc_id"))).head.getLong(0) * 4L / 5L
    val low = pages.filter(col("doc_id") <= k)
    val high = pages.filter(col("doc_id") > k)
    var idx: P.FullCleanIndex = null
    val buildSec = timed {
      idx = P.buildFullCleanIndex(low, minLen = 20)
      // materialize every half — deployment writes them out
      idx.nearDup.docStore.count()
      idx.nearDup.bands.count(); idx.substr.store.base.count()
      idx.corpusFps.count()
    }
    // between probe reps, unpersist ONLY the probe's own checkpointed
    // frames (cleanedInc / incReps / losers / survivors): later reps must
    // not time against the earlier reps' block-manager residency, while
    // the index halves stay warm — that IS the steady state being measured
    def probeOnceWith(i2: P.FullCleanIndex): Double = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t = timed(noop(P.incrementalFullClean(high, i2)))
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      t
    }
    val probeSec =
      try (0 until reps).map(_ => probeOnceWith(idx)).min
      finally if (!cold) idx.unpersist()

    // COLD leg (verdict r14 item 6, the INCPROBE protocol): write the
    // warm index, drop every cache, reload, and pay the first probe's
    // parquet scans — the cross-restart deployment cost the round-trip
    // spec pins semantically but nothing had measured
    var writeSec, readSec, coldProbeSec, rewarmProbeSec = -1.0
    if (cold) {
      val idxDir = "/tmp/graft_fullclean_index_" +
        sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
      writeSec = timed(P.writeFullCleanIndex(idx, idxDir))
      idx.unpersist(); drop()
      var idx2: P.FullCleanIndex = null
      readSec = timed { idx2 = P.readFullCleanIndex(spark, idxDir) }
      try {
        coldProbeSec = timed(noop(P.incrementalFullClean(high, idx2)))
        rewarmProbeSec = probeOnceWith(idx2)
      } finally idx2.unpersist()
    }

    val steal = graft.Bench.stealPctSince(stat0)
    val coldJson = if (!cold) "" else
      s""","p61_write_sec":$writeSec,"p61_read_sec":$readSec,""" +
        s""""p61_cold_probe_sec":$coldProbeSec,"p61_rewarm_probe_sec":$rewarmProbeSec"""
    val json =
      s"""{"metric":"fullpipe_scale","sf":"$sfDir","shuffle_partitions":$parts,""" +
        s""""reps":$reps,"p58_prod_sec":$p58Prod,"p60_prod_sec":$p60Prod,""" +
        s""""p60_oracle_sec":$p60Oracle,"p61_build_sec":$buildSec,""" +
        s""""p61_probe_sec":$probeSec$coldJson,""" +
        s""""steal_pct":${steal.map(_.toString).getOrElse("null")}}"""
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
