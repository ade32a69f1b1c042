package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Decade-scale probe of the index FOLD bill — the half of the
  * daily-crawl steady state PARAPROBE/INCPROBE never measured (they time
  * probes; deployment pays probe + fold per day). For a FIXED-ROW-COUNT
  * increment (so the fold cost is read against INDEX size, not increment
  * size), times per decade corpus:
  *
  *   - `build_sec`          — buildFullCleanIndex over the corpus slice +
  *                            materialization (context, paid once)
  *   - `para_fold_sec`      — updateParagraphIndex: index ∪ increment-agg
  *                            re-aggregate (index-sized exchange)
  *   - `substr_fold_sec`    — updateExactSubstrIndex: same shape over the
  *                            survivor gram index
  *   - `fullclean_fold_sec` — updateFullCleanIndex end-to-end (all three
  *                            halves + the fp set), probe derived once
  *   - `fp_union_distinct_sec` / `fp_anti_append_sec` — A/B of the fp-set
  *                            fold shapes: the retired union-distinct
  *                            (re-aggregates the whole corpus-sized set)
  *                            vs the shipped anti-join append (increment
  *                            fps minus present, appended — the corpus
  *                            side streams through the join unchanged)
  *   - `substr_seg_fold_sec` — the LSM-SEGMENTED gram fold (P62): the
  *                            same survivors appended as ONE immutable
  *                            increment-sized segment, vs
  *                            `substr_fold_sec`'s monolithic re-aggregate
  *   - `substr_probe_mono_sec` / `substr_probe_seg_sec` — the segmented
  *                            store's probe READ TAX: the same increment
  *                            probed against identical index content held
  *                            monolithic vs as base + 3 open segments
  *                            (chained shuffled-hash probe — the shipped
  *                            shape)
  *   - `substr_seg_disk_fold_sec` / `substr_probe_seg_cold_sec` — the
  *                            ON-DISK lifecycle: one crash-retryable
  *                            disk fold (segment dir + atomic meta swap)
  *                            and the cold-restart probe that re-reads
  *                            segments from parquet per rep
  *
  * Each timed leg materializes the folded frame(s) with count() and
  * unpersists everything it created before the next rep (min over reps).
  * One JSON row per invocation; the committed FOLDPROBE.json merges the
  * decade rows with exponents (the BENCH_SCALE_FULLPIPE protocol).
  *
  * Usage: runMain graft.tools.FoldProbe <sfDir> [outPath] [reps] [incRows]
  */
object FoldProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("FOLDPROBE_ROW.json")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val incRows = args.lift(3).map(_.toInt).getOrElse(10000)
    val spark = graft.util.Tables.session("graft-fold-probe")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val stat0 = graft.Bench.cpuStat()

    val P = graft.pipeline.CleanPipeline
    val docs = graft.util.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // FIXED-SIZE increment: the top `incRows` ids (monotone above the
    // corpus slice, as the watermark contract requires); everything below
    // is the corpus the index is built over
    val cut = docs.select(col("doc_id"))
      .orderBy(col("doc_id").desc).limit(incRows)
      .agg(min(col("doc_id"))).head.getLong(0)
    val corpus = docs.filter(col("doc_id") < cut)
    val inc = docs.filter(col("doc_id") >= cut).localCheckpoint()

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // time one leg, unpersisting every RDD the leg itself persisted
    // (folded halves persist internally), so reps are independent and the
    // warm INDEX is the only carried state — the deployment steady state
    def isolated(f: => Unit): Double = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t = timed(f)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
      t
    }
    def minOf(f: => Unit): Double = (0 until reps).map(_ => isolated(f)).min

    var idx: P.FullCleanIndex = null
    val buildSec = timed {
      idx = P.buildFullCleanIndex(corpus)
      idx.para.units.count(); idx.nearDup.docStore.count()
      idx.nearDup.bands.count(); idx.substr.grams.count()
      idx.corpusFps.count()
    }
    val idxSizes = Map(
      "para_units" -> idx.para.units.count(),
      "neardup_bands" -> idx.nearDup.bands.count(),
      "substr_grams" -> idx.substr.grams.count(),
      "corpus_fps" -> idx.corpusFps.count())

    // derive the probe once (fold input) — NOT part of any fold leg
    val probe = P.fullCleanProbe(inc, idx, "doc_id", "text")
    probe.cleanedInc.count(); probe.survivors.count()

    val PD = graft.pipeline.ParagraphDedup
    val D = graft.pipeline.Dedup
    val paraFold = minOf {
      PD.updateParagraphIndex(idx.para, inc).units.count()
    }
    val substrFold = minOf {
      D.updateExactSubstrIndex(idx.substr, probe.survivors).grams.count()
    }
    val fullFold = minOf {
      val f = P.updateFullCleanIndexWith(idx, inc, probe, "doc_id", "text")
      f.para.units.count(); f.nearDup.docStore.count()
      f.nearDup.bands.count(); f.substr.grams.count(); f.corpusFps.count()
    }
    // fp-set fold A/B on identical inputs
    val incFpsAll = probe.cleanedInc
      .select(graft.pipeline.TextPipeline.fingerprint(col("text")).as("fp"))
    val fpUnionDistinct = minOf {
      idx.corpusFps.unionByName(incFpsAll).distinct().count()
    }
    val fpAntiAppend = minOf {
      idx.corpusFps.unionByName(
        incFpsAll.distinct()
          .join(idx.corpusFps, Seq("fp"), "left_anti")).count()
    }

    // LSM-SEGMENTED substr fold A/B (P62): the same survivors folded as
    // ONE append segment — O(increment) — vs substr_fold_sec's monolithic
    // O(index) re-aggregate above. compactFraction=MaxValue isolates the
    // append; compaction is the amortized half and costs exactly one
    // monolithic fold.
    val segBase = D.segmentedFrom(idx.substr, Double.MaxValue)
    val substrSegFold = minOf {
      D.updateSegmentedExactSubstrIndex(segBase, probe.survivors)
    }
    // probe READ-TAX A/B: identical logical index content — the lower
    // half of the increment folded in — held monolithic vs as base + 3
    // open delta segments; the upper half (ids above, watermark-monotone)
    // is probed against each. RESIDENCY DISCIPLINE: eviction is one-way
    // (evicted blocks never re-promote), and the fullclean fold leg above
    // materialized a second full index set — at ×1000 that pushes most of
    // the shared gram store to disk, so probing through it bills the
    // DISFAVORED side ~10 GB of disk reads while the other side streams
    // its freshly-built in-memory store (the first two cuts of this leg
    // read 16× and 18× "read tax" that was residency, not plan). Both
    // sides therefore run against a FRESH memory-resident copy of the
    // base, each materialized after everything unneeded is retired.
    idx.para.unpersist(); idx.nearDup.unpersist()
    idx.corpusFps.unpersist(blocking = false)
    val pcut = inc.select(col("doc_id")).orderBy(col("doc_id").desc)
      .limit(math.max(1, incRows / 2)).agg(min(col("doc_id"))).head.getLong(0)
    val incFold = inc.filter(col("doc_id") < pcut).localCheckpoint()
    val incProbe = inc.filter(col("doc_id") >= pcut).localCheckpoint()
    val foldIds = incFold.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    // loud precondition instead of an AIOOBE after the expensive build:
    // the tercile split needs a non-degenerate fold half (incRows == 1,
    // or an id distribution that empties incFold, used to crash here)
    require(foldIds.length >= 3,
      s"read-tax legs need >= 3 fold-half ids, got ${foldIds.length} " +
        s"(incRows=$incRows too small or degenerate doc_id distribution)")
    val (t1, t2) = (foldIds(foldIds.length / 3), foldIds(2 * foldIds.length / 3))
    val freshBase = idx.substr.grams.where(lit(true))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    freshBase.count()
    val baseIdx = D.ExactSubstrIndex(freshBase, idx.substr.minLen,
      idx.substr.maxDocId)
    idx.substr.unpersist()
    val segIdx = Seq(
        incFold.filter(col("doc_id") < t1),
        incFold.filter(col("doc_id") >= t1 && col("doc_id") < t2),
        incFold.filter(col("doc_id") >= t2))
      .foldLeft(D.segmentedFrom(baseIdx, Double.MaxValue))(
        (i, d) => D.updateSegmentedExactSubstrIndex(i, d))
    val substrProbeSeg = minOf {
      D.incrementalRemoveDupSpansExactSegmented(incProbe, segIdx)
        .write.format("noop").mode("overwrite").save()
    }

    // DISK lifecycle legs (the P62 lake story): the store is written once
    // OUTSIDE timing (base + first two tercile deltas; corpus-sized, the
    // once-per-corpus cost), then
    //   substr_seg_disk_fold_sec  — ONE crash-retryable on-disk fold
    //     appending the third tercile: new segment dir + atomic meta swap
    //     (single in-JVM draw: the fold advances the on-disk watermark,
    //     so a second in-JVM rep would be rejected; min across the
    //     protocol's fresh JVMs instead)
    //   substr_probe_seg_cold_sec — the COLD-RESTART probe: each rep
    //     re-reads the segments from disk (fresh handles; isolated()
    //     drops the caches after), so the leg prices parquet scan +
    //     cluster-into-cache + chained probe — what the first increment
    //     after a restart actually costs
    val diskDir = Files.createTempDirectory("foldprobe_segdisk").toString
    D.writeSegmentedExactSubstrIndex(
      D.SegmentedExactSubstrIndex(segIdx.base, segIdx.baseRows,
        segIdx.deltas.take(2), segIdx.deltaRows.take(2), segIdx.minLen,
        t2 - 1, segIdx.compactFraction),
      diskDir)
    val substrSegDiskFold = isolated {
      D.foldSegmentedExactSubstrIndexOnDisk(spark, diskDir,
        incFold.filter(col("doc_id") >= t2))
    }
    val substrProbeSegCold = minOf {
      val h = D.readSegmentedExactSubstrIndex(spark, diskDir)
      D.incrementalRemoveDupSpansExactSegmented(incProbe, h)
        .write.format("noop").mode("overwrite").save()
    }
    new org.apache.hadoop.fs.Path(diskDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(diskDir), true)
    segIdx.deltas.foreach(_.unpersist(blocking = false))
    val monoIdx = D.updateExactSubstrIndex(baseIdx, incFold)
    monoIdx.grams.count()
    val substrProbeMono = minOf {
      D.incrementalRemoveDupSpansExact(incProbe, monoIdx)
        .write.format("noop").mode("overwrite").save()
    }
    monoIdx.unpersist()
    freshBase.unpersist(blocking = false)

    val steal = graft.Bench.stealPctSince(stat0)
    val sizesJson = idxSizes.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"fold_probe","sf":"$sfDir","shuffle_partitions":$parts,""" +
        s""""reps":$reps,"inc_rows":$incRows,"build_sec":$buildSec,""" +
        s""""index_sizes":$sizesJson,"para_fold_sec":$paraFold,""" +
        s""""substr_fold_sec":$substrFold,"fullclean_fold_sec":$fullFold,""" +
        s""""fp_union_distinct_sec":$fpUnionDistinct,""" +
        s""""fp_anti_append_sec":$fpAntiAppend,""" +
        s""""substr_seg_fold_sec":$substrSegFold,""" +
        s""""substr_seg_disk_fold_sec":$substrSegDiskFold,""" +
        s""""substr_probe_mono_sec":$substrProbeMono,""" +
        s""""substr_probe_seg_sec":$substrProbeSeg,""" +
        s""""substr_probe_seg_cold_sec":$substrProbeSegCold,""" +
        s""""steal_pct":${steal.map(_.toString).getOrElse("null")}}"""
    println(json)
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
