package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The LSM-segmented store (O'Neil et al., "The Log-Structured
  * Merge-Tree", 1996) behind both count-and-keeper indexes: the
  * exact-substring gram index ([[Dedup.ExactSubstrIndex]], keys
  * `(g1, g2)`) and the paragraph unit index
  * ([[ParagraphDedup.ParagraphIndex]], key `fp`). Each segment is the
  * `(keys…, nocc, keeper)` aggregate of a disjoint corpus slice, and
  * `(sum nocc, min keeper)` is a commutative monoid over any partition of
  * the corpus, so segments merge on read. A fold ([[append]]) adds ONE
  * increment-sized segment instead of re-aggregating the corpus-sized
  * table (11.9 s against the ×1000 gram index for a 1000-row increment,
  * FOLDPROBE.json); past `compactFraction` × base rows of open deltas,
  * [[compact]] re-aggregates everything into one base. `baseRows` is
  * [[SegmentStore.UncountedRows]] after a build until the first fold
  * counts it, so build, write, read and probe never pay for it.
  *
  * OWNERSHIP: folds SHARE the base and prior deltas with the input handle,
  * so never unpersist a superseded handle after a fold — retire state
  * through the newest handle. Compaction retires every segment it consumed
  * (the input handle's base included) once the merged base is
  * materialized.
  */
final case class SegmentStore(keys: Seq[String],
    base: DataFrame, baseRows: Long,
    deltas: Seq[DataFrame] = Seq.empty, deltaRows: Seq[Long] = Seq.empty,
    compactFraction: Double = SegmentStore.DefaultCompactFraction) {
  def segments: Seq[DataFrame] = base +: deltas

  /** The merged `(keys…, nocc, keeper)` table over every segment — lazy,
    * and the base itself while no delta is open.
    */
  def merged: DataFrame =
    if (deltas.isEmpty) base
    else segments.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("nocc")).as("nocc"), min(col("keeper")).as("keeper"))

  def unpersist(): Unit = segments.foreach(_.unpersist(blocking = false))

  /** Fold one increment's `(keys…, nocc, keeper)` aggregate in O(increment):
    * persisted and MATERIALIZED here (the fold pays its own bill, not the
    * next probe), appended as a delta segment; compacts iff the open
    * deltas now exceed `compactFraction` × base rows. Returns a NEW store
    * sharing this one's segments.
    */
  def append(agg: DataFrame): SegmentStore = {
    val delta = agg.persist(StorageLevel.MEMORY_AND_DISK)
    val n = delta.count()
    val next = counted()
      .copy(deltas = deltas :+ delta, deltaRows = deltaRows :+ n)
    if (next.deltaRows.sum <= compactFraction * next.baseRows) next
    else next.compact()
  }

  /** This store with its base counted (one job, none if already counted). */
  def counted(): SegmentStore =
    if (baseRows == SegmentStore.UncountedRows) copy(baseRows = base.count())
    else this

  /** Re-aggregate every segment into one fresh, materialized base — the
    * amortized O(index) half of the LSM bill — then retire EVERY input
    * segment, so a fold chain never leaks a base.
    */
  def compact(): SegmentStore =
    if (deltas.isEmpty) this
    else {
      val m = merged.persist(StorageLevel.MEMORY_AND_DISK)
      val n = m.count()
      unpersist()
      copy(base = m, baseRows = n, deltas = Seq.empty, deltaRows = Seq.empty)
    }

  /** The union-corpus verdict of an increment: `incAgg` is the
    * increment's own `(keys…, inc_nocc, inc_keeper)` aggregate; the result
    * is the lazy `(keys…, keeper)` set of keys corpus ∪ increment holds at
    * least twice, with the union keeper (count `inc + Σ segments`, keeper
    * `min(inc, segments)`; keys absent from the store cover
    * increment-internal duplication with the same expressions).
    *
    * With no open delta this is a single left join against the base. With
    * k segments it is k CHAINED left joins: the increment-sized
    * accumulator is the shuffled-hash BUILD side (hinted) and each segment
    * only STREAMS through its cached scan, never shuffled or sorted; the
    * monoid folds ROW-LOCALLY over the joined columns (`+`/`least`,
    * null-skipping) — a union + re-aggregate here de-vectorized 170M-row
    * segment scans to ~15 s against ~1 s for a one-segment probe. The
    * shape is pinned in PlanQualitySpec, priced by FOLDPROBE's read tax.
    */
  def unionVerdict(incAgg: DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    val verdict =
      if (deltas.isEmpty)
        incAgg
          .join(base.select(keyCols ++ Seq(col("nocc").as("idx_nocc"),
            col("keeper").as("idx_keeper")): _*), keys, "left")
          .select(keyCols ++ Seq(
            (col("inc_nocc") + coalesce(col("idx_nocc"), lit(0L))).as("nocc"),
            when(col("idx_keeper").isNull, col("inc_keeper"))
              .otherwise(least(col("idx_keeper"), col("inc_keeper")))
              .as("keeper")): _*)
      else {
        val chained = segments.zipWithIndex.foldLeft(incAgg) {
          case (acc, (seg, i)) =>
            acc.hint("shuffle_hash")
              .join(seg.select(keyCols ++ Seq(col("nocc").as(s"idx_nocc_$i"),
                col("keeper").as(s"idx_keeper_$i")): _*), keys, "left")
        }
        val nocc = segments.indices
          .map(i => coalesce(col(s"idx_nocc_$i"), lit(0L)))
          .foldLeft(col("inc_nocc"))(_ + _)
        // least() skips nulls, and min-of-struct IS lexicographic least,
        // so the keeper monoid folds row-locally across segments
        val keeper = least(
          (segments.indices.map(i => col(s"idx_keeper_$i")) :+
            col("inc_keeper")): _*)
        chained.select(keyCols ++ Seq(nocc.as("nocc"), keeper.as("keeper")): _*)
      }
    verdict.filter(col("nocc") >= 2).select(keyCols :+ col("keeper"): _*)
  }
}

object SegmentStore {

  /** [[SegmentStore.baseRows]] of a base that has not been counted. */
  val UncountedRows: Long = -1L

  val DefaultCompactFraction: Double = 0.25

  /** The `(keys…, nocc, keeper)` aggregate of one corpus side's rows:
    * occurrence count and keeper — the first occurrence in `(doc_id, pos)`
    * order. Map-side combinable; every build's base, every fold's delta
    * and, with `prefix` "inc_", every probe's increment side.
    */
  def aggregate(rows: DataFrame, keys: Seq[String], pos: String,
      prefix: String = ""): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(prefix + "nocc"),
        min(struct(col("doc_id"), col(pos))).as(prefix + "keeper"))

  /** A one-segment store over a fresh aggregate, persisted lazily, uncounted. */
  def of(keys: Seq[String], agg: DataFrame,
      compactFraction: Double = DefaultCompactFraction): SegmentStore =
    SegmentStore(keys, agg.persist(StorageLevel.MEMORY_AND_DISK),
      UncountedRows, compactFraction = compactFraction)

  private def segmentDir(dir: String, i: Int): String = f"$dir/seg-$i%05d"

  /** Persist a store to `dir` as an APPEND-ONLY layout: `seg-00000/`
    * (base) … `seg-0000k/` (deltas), each clustered by the keys into
    * `nBuckets` files (a bucketed table on a warehouse, so the probe join
    * co-locates without shuffling the index), plus `meta/`: the caller's
    * `meta` columns (its [[IdContract]] watermark and what pins its unit
    * notion), `compact_fraction` and per-segment row counts (an uncounted
    * base stays [[UncountedRows]]).
    */
  def write(store: SegmentStore, dir: String, nBuckets: Int,
      meta: Seq[Column]): Unit = {
    store.segments.zipWithIndex.foreach { case (s, i) =>
      s.repartition(nBuckets, store.keys.map(col): _*)
        .write.mode("overwrite").parquet(segmentDir(dir, i))
    }
    writeMeta(store.base.sparkSession, dir, meta, store.compactFraction,
      store.baseRows +: store.deltaRows)
  }

  /** ATOMIC meta write: the meta is written COMPLETE to `.meta.tmp` first
    * (parquet commit = `_SUCCESS` marker), then swapped in by
    * [[promoteMeta]] — a crash anywhere leaves a state [[recoverIndexDir]]
    * rolls forward or back.
    */
  private def writeMeta(spark: SparkSession, dir: String, meta: Seq[Column],
      compactFraction: Double, segRows: Seq[Long]): Unit = {
    spark.range(1)
      .select(meta ++ Seq(lit(compactFraction).as("compact_fraction"),
        typedLit(segRows).as("seg_rows")): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/.meta.tmp")
    promoteMeta(spark, dir)
  }

  private def promoteMeta(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val live = new Path(s"$dir/meta")
    fs.delete(live, true)
    require(fs.rename(new Path(s"$dir/.meta.tmp"), live),
      s"meta swap rename failed under $dir")
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll a crashed disk fold forward or back. The fold writes (1) the new
    * segment to a temp dir, (2) renames it to `seg-K`, (3) writes the new
    * meta COMPLETE to `.meta.tmp`, (4) swaps it in. A COMMITTED tmp (its
    * `_SUCCESS` marker exists) always describes an already-renamed `seg-K`,
    * so recovery finishes the swap; an uncommitted tmp is a mid-write crash
    * and is discarded (its fold never advanced the watermark — the
    * caller's retry redoes it). Run by every read and disk fold.
    */
  private def recoverIndexDir(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/.meta.tmp")
    if (fs.exists(new Path(tmp, "_SUCCESS"))) promoteMeta(spark, dir)
    else fs.delete(tmp, true)
  }

  /** The recovered meta row of an index dir and its per-segment row
    * counts; fails loudly on a dir in a retired single-table layout
    * (`grams/` or `units/`, no `seg_rows` in meta), which is rebuilt —
    * with `rebuild`, named in the error — never read.
    */
  private def readMeta(spark: SparkSession, dir: String,
      rebuild: String): (Row, Seq[Long]) = {
    recoverIndexDir(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta").head
    require(meta.schema.fieldNames.contains("seg_rows"),
      s"$dir holds an index in a retired single-table layout (grams/ or " +
        s"units/, no seg_rows in meta) — rebuild it with $rebuild")
    (meta, meta.getAs[scala.collection.Seq[Long]]("seg_rows").toSeq)
  }

  /** Reload a [[write]] layout in a fresh session, with its meta row. Each
    * segment persists lazily, CLUSTERED on the keys: a raw parquet scan
    * caches with unknown partitioning, so every probe join would
    * re-exchange the corpus-sized base — clustering into the cache makes
    * that a one-time warm-up exchange per segment.
    */
  def read(spark: SparkSession, dir: String, keys: Seq[String],
      rebuild: String): (SegmentStore, Row) = {
    val (meta, segRows) = readMeta(spark, dir, rebuild)
    val segs = segRows.indices.map(i =>
      spark.read.parquet(segmentDir(dir, i))
        .repartition(spark.sessionState.conf.numShufflePartitions,
          keys.map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK))
    (SegmentStore(keys, segs.head, segRows.head, segs.tail, segRows.tail,
      meta.getAs[Double]("compact_fraction")), meta)
  }

  /** The DISK FOLD: append one increment to a disk-resident store as ONE
    * new increment-sized segment dir plus a rewritten meta — the
    * corpus-sized segment files are never touched. `delta` maps the
    * current meta row to the increment's aggregate and the caller's new
    * meta columns (its advanced watermark). Never compacts: on a lake that
    * is a periodic job (read, [[SegmentStore.compact]], write to a FRESH
    * path, swap the table pointer), as rewriting a live dir would race its
    * readers. CRASH-RETRYABLE: the segment is staged to a temp dir and
    * renamed into `seg-K` (an orphan `seg-K` of a crashed fold, unlisted in
    * meta, is deleted first, never trusted), then the meta is swapped
    * atomically ([[writeMeta]]); any crash leaves the dir wholly pre-fold
    * (a retry redoes it) or wholly post-fold (a retry fails LOUDLY on the
    * advanced watermark), never wedged.
    */
  def appendOnDisk(spark: SparkSession, dir: String, keys: Seq[String],
      nBuckets: Int, rebuild: String)(
      delta: Row => (DataFrame, Seq[Column])): Unit = {
    val (meta, segRows) = readMeta(spark, dir, rebuild)
    val (agg, nextMeta) = delta(meta)
    val fs = fsOf(spark, dir)
    val segTmp = new Path(s"$dir/.seg.tmp")
    agg.repartition(nBuckets, keys.map(col): _*)
      .write.mode("overwrite").parquet(segTmp.toString)
    val segDir = new Path(segmentDir(dir, segRows.size))
    fs.delete(segDir, true)
    require(fs.rename(segTmp, segDir), s"segment rename failed under $dir")
    val n = spark.read.parquet(segDir.toString).count()
    writeMeta(spark, dir, nextMeta, meta.getAs[Double]("compact_fraction"),
      segRows :+ n)
  }
}
