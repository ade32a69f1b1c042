package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-leg wall-clock breakdown of the P60/P61 build+probe internals —
  * the optimization round's "where does the time actually go" instrument
  * (guide §1: measure before changing). Unlike FullPipeScale (which times
  * the public entry points whole), this replays the SAME stage sequence
  * the entry points execute, timing each eager materialization:
  *
  * build legs (buildFullCleanIndex order, the r16 FUSED substrate):
  *   para_fused   — buildParagraphIndexAndDedup (one unit substrate:
  *                  persisted unit table, index aggregate + count, dup
  *                  set / cut checkpoints)
  *   cleaned      — rejoinKept over the fused kept emission + localCheckpoint
  *   nd_index     — collapseReps + spread persist + docBands persist/count
  *   corpus_cc    — nearDupPairsFromIndex + dupClusters + losers checkpoint
  *   survivors    — docStore anti-join losers + localCheckpoint
  *   fps          — fingerprint set persist/count
  *   substr_index — exactGramAgg over survivors + persist/count
  *
  * probe legs (fullCleanProbe order):
  *   cleaned_inc  — incrementalDedupUnits + rejoin + localCheckpoint
  *   inc_reps     — collapseReps(cleanedInc) + localCheckpoint
  *   nd_probe     — exactHit + cross + internal verified (checkpoint)
  *   cc_losers    — clusters + labeled + losers checkpoint
  *   survivors    — anti-join + localCheckpoint
  *   substr_probe — incrementalRemoveDupSpansExact → noop sink
  *
  * probe_only legs (the deployment-shape twin's read-index path,
  * `writeFullCleanIndex` → `readFullCleanIndex` → `fullCleanProbe`):
  *   w_write      — writeFullCleanIndex (all four halves + meta to disk)
  *   r_para/r_nd/r_substr/r_fps — each half's cold read forced into its
  *                  cache (the per-run cost every bench draw of
  *                  `p_incremental_full_pipeline_probe_only` pays, since
  *                  Bench isolates runs by clearing the cache)
  *   p2_full_probe — the whole probe against the READ index → noop sink
  *
  * The replay uses the same private[graft] internals the entry points
  * call, so leg sums track the entry-point totals up to job-boundary
  * noise. Output: PIPELEGS.json (or argv[1]).
  *
  * Usage: runMain graft.tools.PipeLegs <sfDir> [outPath]
  */
object PipeLegs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("PIPELEGS.json")
    val spark = graft.util.Tables.session("graft-pipe-legs")

    val P = graft.pipeline.CleanPipeline
    val D = graft.pipeline.Dedup
    val PD = graft.pipeline.ParagraphDedup
    val TP = graft.pipeline.TextPipeline

    // same page synthesis as p_incremental_full_pipeline
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

    val legs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def leg[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"pipelegs: $name")
      val t0 = System.nanoTime()
      val r = f
      legs(name) = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      System.err.println(f"[pipelegs] $name%-14s ${legs(name)}%8.3f s")
      r
    }

    val k = pages.agg(max(col("doc_id"))).head.getLong(0) * 4L / 5L
    val low = pages.filter(col("doc_id") <= k)
    val high = pages.filter(col("doc_id") > k)
    val minLen = 20

    // ---- build legs (buildFullCleanIndex stage order, fused substrate) ----
    val (para, kept, releasePara) = leg("b_para_fused") {
      PD.buildParagraphIndexAndDedup(low)
    }
    val cleaned = leg("b_cleaned") {
      try P.rejoinKept(kept, "\n\n").localCheckpoint()
      finally releasePara()
    }
    val nd = leg("b_nd_index") {
      val n = D.buildNearDupIndex(cleaned)
      n.docStore.count(); n.bands.count(); n
    }
    val losers = leg("b_corpus_cc") {
      D.dupClusters(D.nearDupPairsFromIndex(nd, 0.7))
        .filter(col("v") =!= col("lbl"))
        .select(col("v").as("doc_id"))
        .localCheckpoint()
    }
    val survivors = leg("b_survivors") {
      nd.docStore.join(losers, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val fps = leg("b_fps") {
      val f = nd.docStore
        .select(TP.fingerprint(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      f.count(); f
    }
    val substr = leg("b_substr_index") {
      val s = D.exactSubstrIndexAt(survivors, minLen, para.maxDocId)
      s.copy(store = s.store.counted())
    }
    val idx = P.FullCleanIndex(para, nd, substr, fps, "\n\n", 0.7)

    // ---- probe legs (fullCleanProbe stage order) ----
    val cleanedInc = leg("p_cleaned_inc") {
      P.rejoinKept(PD.incrementalDedupUnits(high, idx.para), idx.joiner)
        .localCheckpoint()
    }
    val incReps = leg("p_inc_reps") {
      D.collapseReps(cleanedInc).localCheckpoint()
    }
    val (exactHit, cross, internal) = leg("p_nd_probe") {
      val eh = incReps
        .select(col("doc_id"), TP.fingerprint(col("text")).as("fp"))
        .join(idx.corpusFps, Seq("fp"), "left_semi")
        .select(col("doc_id").cast("long").as("v"))
      // the r16 fused probe: one signature chain + one fused verify
      val pf = D.incNearDupProbeFrames(incReps, idx.nearDup, idx.threshold)
      (eh, pf.cross, pf.internal)
    }
    val probeLosers = leg("p_cc_losers") {
      val clusters = D.dupClusters(internal)
      val labeled = incReps.select(col("doc_id").cast("long").as("v"))
        .join(clusters, Seq("v"), "left")
        .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
      val contactedLbls = labeled
        .join(exactHit.unionByName(cross.select(col("d1").cast("long").as("v")))
          .distinct(), Seq("v"), "left_semi")
        .select("lbl").distinct()
      labeled.filter(col("v") =!= col("lbl")).select("v")
        .unionByName(labeled.join(contactedLbls, Seq("lbl"), "left_semi")
          .select("v"))
        .distinct()
        .select(col("v").as("doc_id"))
        .localCheckpoint()
    }
    val probeSurvivors = leg("p_survivors") {
      incReps.join(probeLosers, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    leg("p_substr_probe") {
      D.incrementalRemoveDupSpansExact(probeSurvivors, idx.substr)
        .write.format("noop").mode("overwrite").save()
    }

    // ---- probe_only legs: write → cold read (per half) → full probe ----
    val idxDir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "pipelegs_fullcleanidx").toString
    leg("w_write") { P.writeFullCleanIndex(idx, idxDir) }
    idx.unpersist()
    // drop every cached block so the read legs price the COLD read the
    // bench's isolated probe_only runs pay every draw
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val idx2 = P.readFullCleanIndex(spark, idxDir)
    leg("r_para") { idx2.para.store.segments.foreach(_.count()) }
    leg("r_nd") { idx2.nearDup.docStore.count(); idx2.nearDup.bands.count() }
    leg("r_substr") { idx2.substr.store.segments.foreach(_.count()) }
    leg("r_fps") { idx2.corpusFps.count() }
    leg("p2_full_probe") {
      P.fullCleanProbe(high, idx2, "doc_id", "text").pieces
        .write.format("noop").mode("overwrite").save()
    }
    idx2.unpersist()

    val json = legs.map { case (k2, v) => s""""$k2":$v""" }
      .mkString(s"""{"metric":"pipe_legs","sf":"$sfDir","shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""", ",", "}")
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
