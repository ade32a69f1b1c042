package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.util.Det

/** Deduplication operators over a document corpus, designed for the 100 TB
  * shape: every stage is a grouped aggregation or an equi-join on a derived
  * bucket key — there is NO all-pairs comparison anywhere. Candidate
  * generation is MinHash + banded LSH (signature rows → band hashes → bucket
  * equi-join), and only candidates pay the exact-Jaccard verification join.
  *
  * All hashes derive from md5 so a SQL oracle (DuckDB) reproduces them
  * bit-exactly (`Det.md5Hash60`).
  */
object Dedup {

  /** Exact-duplicate statistics over the normalized-text fingerprint:
    * one hash-groupBy, the cheapest dedup pass.
    */
  def exactDupStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val fp = docs.select(TextPipeline.fingerprint(col(textCol)).as("fp"))
    fp.groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("n") - lit(1)).cast("long").as("n_dup_docs"),
        max(col("n")).cast("long").as("max_group"))
  }

  /** Character k-shingles of the lowercased text: one row per (doc,
    * shingle occurrence); `dedup = true` adds the per-doc set semantics
    * (needed by Jaccard, NOT by minhash — min is duplicate-invariant, so
    * the minhash path skips the distinct shuffle entirely). The explode is
    * skew-free (cardinality ∝ doc length, bounded by the corpus' max doc
    * size).
    */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               k: Int = 5, dedup: Boolean = true): DataFrame = {
    // self-guarding length filter: Spark's sequence(1, 0) is the DESCENDING
    // array [1, 0], so an unguarded explode would fabricate two bogus
    // shingles for every document shorter than k
    val raw = docs.select(col(idCol).as("doc_id"), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, length(t) - ${k - 1})")).as("i"),
        col("t"))
      .select(col("doc_id"), expr(s"substring(t, i, $k)").as("sh"))
    if (dedup) raw.distinct() else raw
  }

  /** Prime field for the affine minhash family (2³¹−1, Mersenne). */
  val MinhashPrime: Long = graft.functions.MinhashSig.Prime

  /** Seed constants for the affine family h_i(x) = (a_i·x + b_i) mod p —
    * delegates to [[graft.functions.MinhashSig.seedsFor]], the single
    * source of truth the native signature kernel and the generated DuckDB
    * oracle SQL both read.
    */
  def minhashSeeds(n: Int): Array[(Long, Long)] =
    graft.functions.MinhashSig.seedsFor(n)

  /** MinHash signatures: for each of `nHashes` affine seeds, the minimum
    * `(a_i·h + b_i) mod p` over the doc's shingle base hashes
    * `h = md5₆₀(shingle) mod p`. One md5 per shingle OCCURRENCE total — the
    * seed family is cheap integer arithmetic (an md5 per seed was the
    * measured CPU bottleneck of the whole dedup pipeline, 18× the hash
    * work for no statistical gain; an affine family over a prime field is
    * the textbook universal construction). All seeds aggregate in ONE wide
    * groupBy (map-side combinable) and unpivot afterwards — exploding a
    * seed column first would multiply the shuffle volume by nHashes.
    * Products stay in range: (p−1)² < 2⁶² < Long.MaxValue.
    */
  def minhash(shingleDf: DataFrame, nHashes: Int = 18): DataFrame = {
    val seeds = minhashSeeds(nHashes)
    val withBase = shingleDf.select(col("doc_id"),
      (Det.md5Hash60(col("sh")) % MinhashPrime).as("hb"))
    val aggs = seeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("hb") * lit(a) + lit(b)) % MinhashPrime).as(s"mh_$i")
    }.toSeq
    val stackArgs = (0 until nHashes).map(i => s"$i, mh_$i").mkString(", ")
    withBase.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        expr(s"stack($nHashes, $stackArgs)").as(Seq("seed", "minhash")))
  }

  /** Banded signatures: `rowsPerBand` consecutive seeds hash together into
    * one bucket key per (doc, band).
    */
  def bands(minhashDf: DataFrame, rowsPerBand: Int = 6): DataFrame =
    minhashDf
      .groupBy(col("doc_id"), (col("seed") / lit(rowsPerBand)).cast("int").as("band"))
      .agg(Det.md5Hash60(
        array_join(
          transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
            x => x.getField("minhash").cast("string")),
          ",")).as("bh"))

  /** ROW-LOCAL signature + banding — the zero-shuffle twin of
    * `bands(minhash(shingles(docs, dedup = false)))`, value-identical
    * (pinned in MinhashSigSpec / PipelineSpec): the whole-document
    * signature comes from the native one-pass [[graft.functions.MinhashSig]]
    * kernel (no shingle explode, no aggregation exchange), and each band's
    * bucket key hashes `rowsPerBand` consecutive signature slots exactly
    * like the grouped form (seed order IS array order; a trailing partial
    * band keeps its short slice, matching `seed / rowsPerBand` grouping).
    * Output (doc_id, band, bh) — the signature chain of the near-dup
    * pipeline with NO shuffle until the LSH bucket groupBy itself.
    */
  def docBands(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               k: Int = 5, nHashes: Int = 18, rowsPerBand: Int = 6): DataFrame = {
    val nBands = (nHashes + rowsPerBand - 1) / rowsPerBand
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.MinhashSig.minhashSig(col(textCol), k, nHashes).as("sig"))
      .filter(size(col("sig")) > 0) // docs shorter than k shingle to nothing
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lit(nBands - 1)),
          b => Det.md5Hash60(
            array_join(
              transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string")),
              ",")))))
      .select(col("doc_id"), col("pos").cast("int").as("band"), col("col").as("bh"))
  }

  /** LSH candidate pairs: docs sharing any (band, band-hash) bucket. One
    * groupBy on the bucket key + in-bucket pair expansion — the signature
    * chain is computed ONCE (a self-join would execute it twice unless
    * exchange reuse happens to fire) and there is never an all-pairs step;
    * pair output is Σ |bucket|², tiny for honest hash functions.
    */
  def candidatePairs(bandsDf: DataFrame): DataFrame =
    bandsDf
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y -> struct(x as d1, y as d2))))"""
          .stripMargin)).as("pair"))
      .select(col("pair.d1").as("d1"), col("pair.d2").as("d2"))
      .distinct()

  /** Exact n-gram Jaccard on the candidate pairs only. The join is
    * CANDIDATE-DRIVEN: cand ⋈ shingles(d1) on d1, then ⋈ shingles on
    * (d2, sh) — every intermediate is ncand·|shingles per doc|, linear in
    * the candidate count. (Joining two doc-restricted shingle tables on the
    * bare shingle value instead blows up quadratically: common shingles
    * appear in nearly every doc.)
    */
  def jaccardVerify(candidates: DataFrame, shingleDf: DataFrame,
                    threshold: Double): DataFrame = {
    val sizes = shingleDf.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = shingleDf.select(col("doc_id").as("da"), col("sh").as("sha"))
    val b = shingleDf.select(col("doc_id").as("db"), col("sh").as("shb"))
    val inter = candidates
      .join(a, col("d1") === col("da"))
      .join(b, col("d2") === col("db") && col("sha") === col("shb"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("nab"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
      .select(col("d1"), col("d2"),
        (col("nab").cast("double") /
          (col("sz1") + col("sz2") - col("nab")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The full near-dup pipeline: shingle → minhash → band → bucket join →
    * exact verify. Returns (d1, d2, jaccard) for verified near-duplicates.
    *
    * EAGER: the result is materialized (`localCheckpoint`) before return and
    * every intermediate cache is released. The pipeline fans out internally
    * (the rep corpus feeds both the signature chain and the candidate-doc
    * semi-join; the candidate shingle sets feed three joins in
    * `jaccardVerify`) and exchange reuse does NOT fire across those
    * differently-aliased subtrees — unpersisted, one logical pass becomes
    * 3–4 full corpus scans + md5 passes. One `MEMORY_AND_DISK`
    * materialization of the reps is strictly cheaper than two extra scans
    * at any scale, and the verified-pairs result is vanishingly small, so
    * downstream consumers (`dupClusters` references it twice) replay a tiny
    * materialized RDD, never the corpus pipeline.
    */
  def nearDupPairs(docs: DataFrame, k: Int = 5, nHashes: Int = 18,
                   rowsPerBand: Int = 6, threshold: Double = 0.7): DataFrame = {
    val f = nearDupFrames(docs, k, nHashes, rowsPerBand, threshold)
    try f.verified.localCheckpoint() // eager: runs the whole pipeline
    finally {
      f.spread.unpersist(blocking = false)
      f.candShingles.unpersist(blocking = false)
    }
  }

  /** The lazy internals of [[nearDupPairs]], exposed for plan-quality tests:
    * each persisted fan-out frame plus the final lazy result. (Candidate
    * pairs are deliberately NOT carried: their two consumers share one
    * reused exchange, so there is nothing to persist or assert on.)
    */
  private[graft] case class NearDupFrames(
      spread: DataFrame, candShingles: DataFrame, verified: DataFrame)

  /** Exact-duplicate representative collapse: one row per normalized-text
    * fingerprint, the min-doc_id member as representative — the shared
    * first step of every doc-level near-dup entry (exact-dup groups would
    * otherwise land in one LSH bucket and expand N²/2 candidate pairs —
    * the adversarial case, N copies of boilerplate, is precisely what
    * dedup corpora contain). One map-side-combinable aggregate.
    */
  private[graft] def collapseReps(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        TextPipeline.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("text"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("rep.text").as("text"))

  private[graft] def nearDupFrames(docs: DataFrame, k: Int, nHashes: Int,
      rowsPerBand: Int, threshold: Double): NearDupFrames =
    nearDupFramesFromReps(collapseReps(docs), k, nHashes, rowsPerBand,
      threshold)

  /** [[nearDupFrames]] minus the rep collapse — the entry the composed
    * full-cleanup pass uses, so a caller that already holds the collapsed
    * representatives (and needs them for survivor accounting afterwards)
    * never pays a second corpus-sized exchange. `reps` must be exactly
    * [[collapseReps]]' output shape (doc_id, text), exact-dup free.
    */
  private[graft] def nearDupFramesFromReps(reps: DataFrame, k: Int,
      nHashes: Int, rowsPerBand: Int, threshold: Double): NearDupFrames = {
    // spread docs across the cluster BEFORE the signature pass: the doc
    // table itself is small (one parquet split locally), but the per-doc
    // signature kernel is |text|·k MD5 bytes of CPU. The partition count
    // is pinned (defaultParallelism) because AQE would coalesce an
    // un-sized repartition of a few-MB input back to one partition —
    // sizing by input bytes is exactly wrong for CPU-heavy map stages.
    // (Folding this shuffle into the groupBy by pre-partitioning on fp
    // measured SLOWER: the groupBy's own exchange partial-aggregates
    // map-side, collapsing duplicate texts before they cross the wire.)
    val spread = reps.repartition(
      reps.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // cand's two consumers (candIds, verify) reference IDENTICAL subtrees,
    // so the bucket aggregation's exchange is reused — persisting it only
    // adds a columnar-build barrier (measured +0.2 s for zero saved work).
    // The signature chain is the zero-shuffle row-local form: native
    // per-doc kernel + in-row banding (docBands).
    val cand = candidatePairs(docBands(spread, k = k, nHashes = nHashes,
      rowsPerBand = rowsPerBand))
    // verify ONLY candidate documents: the exact-Jaccard stage needs the
    // deduplicated shingle SETS, and building those for the whole corpus is
    // a corpus-sized distinct shuffle executed once per join side — while
    // the candidate set is a vanishing fraction of docs. The semi-join
    // keeps the whole thing lazy (no driver-side collect of ids), and AQE
    // turns it into a broadcast once the candidate aggregate's true size is
    // known. Candidate docs re-read the PERSISTED reps, never the source.
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val candDocs = spread.join(candIds, Seq("doc_id"), "left_semi")
    // the candidate shingle sets feed three joins in jaccardVerify (sizes +
    // both pair sides); persisted so the semi-join + re-shingle runs once
    val candSh = shingles(candDocs, k = k).persist(StorageLevel.MEMORY_AND_DISK)
    NearDupFrames(spread, candSh, jaccardVerify(cand, candSh, threshold))
  }

  /** Incremental near-duplicate detection against a pre-built LSH index —
    * the daily-crawl twin of [[nearDupPairs]] (which rescans the whole
    * corpus every run): the CORPUS side's structure — exact-dup reps, band
    * table, doc store — is built once and persisted in deployment, and
    * each INCREMENT pays only its own shingle → minhash → band chain, one
    * equi-join against the index buckets, and a candidate-driven exact
    * verify that re-reads only the (few) matched corpus docs. Returns
    * verified cross-side pairs (new_id, idx_id, jaccard ≥ threshold);
    * increment-internal near-dups are deliberately NOT reported (dedup
    * within a batch is [[nearDupPairs]]' job).
    *
    * Both sides collapse to exact-dup representatives first (same
    * bucket-blowup guard as [[nearDupFrames]]: N copies of boilerplate
    * in either side would otherwise expand N candidate pairs per match).
    * REQUIRES globally disjoint doc_ids across the two sides — the
    * verification shingle table unions both sides on doc_id.
    *
    * Scale shape: the index band table is nBands rows per corpus doc
    * (compact enough to bucket by (band, bh) on a lake, making the probe
    * join co-located); the increment side is O(\|incoming\|); nothing
    * rescans the corpus — candidate corpus docs are recovered by a
    * left-semi join on the doc store, a vanishing fraction of the index.
    */
  def incrementalNearDup(incoming: DataFrame, corpus: DataFrame,
      k: Int = 5, nHashes: Int = 18, rowsPerBand: Int = 6,
      threshold: Double = 0.7): DataFrame = {
    // one-shot throwaway index: UNWATERMARKED (see IdContract — there is
    // no persisted emission for the monotone contract to protect here, so
    // the documented disjoint-id contract stays the caller's)
    val idx = buildNearDupIndex(corpus, k, nHashes, rowsPerBand)
      .copy(maxDocId = IdContract.Unwatermarked)
    try incrementalNearDup(incoming, idx, threshold)
    finally idx.unpersist()
  }

  /** A pre-built LSH index over a corpus snapshot — the persisted
    * corpus-side structure [[incrementalNearDup]]'s deployment story
    * promises: exact-dup representative `docStore` (doc_id, text) and its
    * banded-minhash `bands` table (doc_id, band, bh), both persisted
    * MEMORY_AND_DISK so daily increments probe without re-running the
    * corpus-side rep-collapse/shingle/minhash/band chain. The signature
    * parameters (`k`, `nHashes`, `rowsPerBand`) ride along because the
    * probe side MUST hash with the identical scheme or no bucket ever
    * matches. Call [[NearDupIndex.unpersist]] when retiring the index.
    */
  final case class NearDupIndex(docStore: DataFrame, bands: DataFrame,
      k: Int, nHashes: Int, rowsPerBand: Int,
      maxDocId: Long = IdContract.Unwatermarked) {
    def unpersist(): Unit = {
      docStore.unpersist(blocking = false)
      bands.unpersist(blocking = false)
    }
  }

  /** Build the corpus-side [[NearDupIndex]] once; probe it with
    * [[incrementalNearDup]] per increment. On a lake the bands table
    * would additionally be bucketed by (band, bh) to co-locate the probe
    * join; here both frames persist across calls, which is the property
    * the convenience entry point (corpus `DataFrame` arg) cannot offer —
    * it rebuilds this chain every call.
    */
  def buildNearDupIndex(corpus: DataFrame, k: Int = 5, nHashes: Int = 18,
      rowsPerBand: Int = 6): NearDupIndex = {
    val reps = collapseReps(corpus)
    val spread = reps.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val b = docBands(spread, k = k, nHashes = nHashes, rowsPerBand = rowsPerBand)
      .persist(StorageLevel.MEMORY_AND_DISK)
    NearDupIndex(spread, b, k, nHashes, rowsPerBand,
      IdContract.maxId(corpus, "doc_id"))
  }

  /** Fold an increment into a [[NearDupIndex]] — the near-dup analogue of
    * [[updateExactSubstrIndex]]: the rep store is a per-fingerprint
    * `min(struct(doc_id, text))` — a MONOID aggregate of the union corpus,
    * so `union → groupBy fp → min` over (index reps ∪ increment) yields
    * exactly [[buildNearDupIndex]]'s doc store over corpus ∪ increment,
    * fold order irrelevant (and re-folding the same increment is a no-op:
    * min is idempotent — unlike the substring index's occurrence SUMS).
    * Band rows are content-addressed by their rep's `(doc_id, fp)` pair:
    * a surviving rep — one whose (doc_id, fp) already had band rows in
    * the old index — keeps them; every OTHER rep of the merged store
    * (genuinely new fingerprints, and fps whose rep was displaced by a
    * smaller-id increment doc) pays a fresh signature chain, which is
    * O(\|increment\|) with monotone crawl ids. Keying the survival check
    * on (doc_id, fp) rather than doc_id alone matters when a crawl
    * RE-INGESTS a doc_id with changed text (a contract violation — doc
    * ids should be unique across corpus and increments — but a common
    * real-world one): the new text's rep still gets band rows (it is
    * absent from the old (doc_id, fp) set), so it stays visible to every
    * future probe, instead of silently inheriting the old text's rows.
    * The store does keep BOTH fingerprints' reps under the duplicated id
    * until one is displaced — probes remain correct per rep text, but
    * pair output for that id is ambiguous, which is why unique ids stay
    * the documented contract. Returns a NEW persisted index; the caller
    * retires the old one ([[NearDupIndex.unpersist]]) once the swap is
    * durable.
    */
  def updateNearDupIndex(index: NearDupIndex, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): NearDupIndex = {
    // watermarked folds reject replays/non-monotone ids outright (the
    // (doc_id, fp) band keying below remains the safety net for
    // unwatermarked indexes, where re-ingestion is merely documented)
    val wm = IdContract.requireAboveAndAdvance(incoming, idCol,
      index.maxDocId, "updateNearDupIndex")
    def withFp(df: DataFrame) = df.select(col("doc_id"), col("text"),
      TextPipeline.fingerprint(col("text")).as("fp"))
    val store = withFp(index.docStore)
      .unionByName(withFp(incoming.select(col(idCol).as("doc_id"),
        col(textCol).as("text"))))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("text"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("rep.text").as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // rep identity for band-row reuse is (doc_id, fp) — both sides
    // recompute fp off their persisted text (one row-local md5 pass per
    // store; keeping fp a column of the persisted store would make the
    // public docStore frame a derived view whose unpersist() no-ops)
    val oldKeys = withFp(index.docStore).select("doc_id", "fp")
    val storeKeyed = withFp(store)
    val surviving = storeKeyed
      .join(oldKeys, Seq("doc_id", "fp"), "left_semi").select("doc_id")
    val newReps = storeKeyed
      .join(oldKeys, Seq("doc_id", "fp"), "left_anti")
      .select("doc_id", "text")
    val bands = index.bands
      .join(surviving, Seq("doc_id"), "left_semi")
      .unionByName(docBands(newReps, k = index.k, nHashes = index.nHashes,
        rowsPerBand = index.rowsPerBand))
      .persist(StorageLevel.MEMORY_AND_DISK)
    NearDupIndex(store, bands, index.k, index.nHashes, index.rowsPerBand, wm)
  }

  /** Persist a [[NearDupIndex]] to `dir` as parquet — the cross-restart
    * half of the daily-crawl amortization story: `doc_store/` plain,
    * `bands/` clustered into `nBuckets` files by (band, bh) (on a real
    * warehouse this is a bucketed table so the probe equi-join co-locates
    * against the index without shuffling it; plain parquet keeps the
    * clustering physical so bucket-local reads stay cheap), `meta/`
    * pinning the signature parameters so a reloaded probe can never hash
    * with a mismatched scheme.
    */
  def writeNearDupIndex(index: NearDupIndex, dir: String,
      nBuckets: Int = 64): Unit = {
    index.docStore.write.mode("overwrite").parquet(s"$dir/doc_store")
    index.bands.repartition(nBuckets, col("band"), col("bh"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    val spark = index.docStore.sparkSession
    import spark.implicits._
    Seq((index.k, index.nHashes, index.rowsPerBand, index.maxDocId))
      .toDF("k", "n_hashes", "rows_per_band", "max_doc_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Reload a disk-persisted index ([[writeNearDupIndex]]) in a fresh
    * session. Both frames persist MEMORY_AND_DISK lazily: the FIRST probe
    * pays the parquet scan (the cold cost recorded as `cold_probe_sec` in
    * INCPROBE.json), steady-state probes run against the cache.
    */
  def readNearDupIndex(spark: SparkSession, dir: String): NearDupIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head
    NearDupIndex(
      // docStore joins are candidate-driven (small side broadcasts), so
      // the store caches as scanned; the bands table is probed on
      // (band, bh) every increment — cluster it into the cache once
      spark.read.parquet(s"$dir/doc_store")
        .persist(StorageLevel.MEMORY_AND_DISK),
      spark.read.parquet(s"$dir/bands")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("band"), col("bh"))
        .persist(StorageLevel.MEMORY_AND_DISK),
      meta.getAs[Int]("k"), meta.getAs[Int]("n_hashes"),
      meta.getAs[Int]("rows_per_band"),
      if (meta.schema.fieldNames.contains("max_doc_id"))
        meta.getAs[Long]("max_doc_id")
      else IdContract.Unwatermarked)
  }

  /** Verified near-dup pairs WITHIN a prebuilt index — corpus-internal
    * cluster resolution straight off the PERSISTED band table (no
    * re-banding, no re-collapse): bucket-expand candidates, semi-join the
    * doc store for candidate texts, exact-Jaccard verify. The composed
    * full-cleanup build uses this so the index construction and the
    * corpus's own dedup share one signature chain.
    */
  private[graft] def nearDupPairsFromIndex(index: NearDupIndex,
      threshold: Double): DataFrame = {
    val cand = candidatePairs(index.bands)
    val candIds = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    val candSh = shingles(
        index.docStore.join(candIds, Seq("doc_id"), "left_semi"), k = index.k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try jaccardVerify(cand, candSh, threshold).localCheckpoint()
    finally candSh.unpersist(blocking = false)
  }

  /** The amortized form: probe a prebuilt [[NearDupIndex]]. Only the
    * increment pays a signature chain; the index frames are reused as-is
    * and are NOT unpersisted here (the caller owns their lifecycle).
    */
  def incrementalNearDup(incoming: DataFrame, index: NearDupIndex,
      threshold: Double): DataFrame = {
    IdContract.requireAbove(incoming, "doc_id", index.maxDocId,
      "incrementalNearDup")
    incrementalNearDupFromReps(collapseReps(incoming), index, threshold)
  }

  /** [[incrementalNearDup]] minus the rep collapse and the watermark check
    * — for callers that already hold the increment's exact-dup
    * representatives (the composed full-cleanup probe, which needs them
    * again for survivor accounting). `incReps` must be [[collapseReps]]'
    * output shape.
    */
  private[graft] def incrementalNearDupFromReps(incReps: DataFrame,
      index: NearDupIndex, threshold: Double): DataFrame = {
    val k = index.k
    val incSpread = incReps.repartition(
      incReps.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val incBands = docBands(
      incSpread, k = k, nHashes = index.nHashes,
      rowsPerBand = index.rowsPerBand)
    // cross-side candidates only: an increment doc and an index doc
    // sharing any (band, band-hash) bucket
    val cand = incBands.select(col("doc_id").as("d1"), col("band"), col("bh"))
      .join(index.bands.select(col("doc_id").as("d2"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("d1", "d2").distinct()
    val candSh = shingles(
        incSpread.join(cand.select(col("d1").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi"), k = k)
      .unionByName(shingles(
        index.docStore.join(cand.select(col("d2").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi"), k = k))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try jaccardVerify(cand, candSh, threshold).localCheckpoint()
    finally {
      incSpread.unpersist(blocking = false)
      candSh.unpersist(blocking = false)
    }
  }

  /** The two pair frames of a composed full-cleanup probe, from ONE
    * increment signature chain ([[incNearDupProbeFrames]]): `cross` —
    * verified (increment, corpus) pairs, [[incrementalNearDupFromReps]]'
    * shape; `internal` — verified increment-internal pairs,
    * [[nearDupFramesFromReps]]' `verified` shape. Both eager.
    */
  private[graft] case class IncNearDupProbe(cross: DataFrame, internal: DataFrame)

  /** Cross-side AND increment-internal verified near-dup pairs from ONE
    * increment signature chain and ONE fused exact-Jaccard verify — the
    * composed full-cleanup probe ([[graft.pipeline.CleanPipeline]]
    * `fullCleanProbe`) needs both, and calling
    * [[incrementalNearDupFromReps]] + [[nearDupFramesFromReps]] separately
    * re-spreads the increment reps and re-runs the whole `|text|·k`-md5
    * signature kernel a second time, then verifies two overlapping
    * candidate sets with two separate shingle tables and two
    * size/intersection aggregates. Here:
    *
    *   - the increment is spread+persisted once and banded once (the band
    *     table — nBands small rows per doc — is checkpointed and feeds
    *     both the cross bucket join and the internal bucket aggregate);
    *   - the candidate union is verified in one pass: one shingle table
    *     over (increment candidate docs ∪ corpus candidate docs), one
    *     per-doc size aggregate, one intersection aggregate. A tag column
    *     rides through the pair aggregate — (d1, d2) pairs are disjoint
    *     across the tag (cross d2 is corpus-side, internal d2
    *     increment-side), so grouping by it changes no group.
    *
    * Value-identical to the two separate calls (pinned in PipelineSpec);
    * REQUIRES disjoint doc ids across the two sides, as those do.
    */
  private[graft] def incNearDupProbeFrames(incReps: DataFrame,
      index: NearDupIndex, threshold: Double): IncNearDupProbe = {
    val k = index.k
    val incSpread = incReps.repartition(
      incReps.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val incBands = docBands(incSpread, k = k, nHashes = index.nHashes,
      rowsPerBand = index.rowsPerBand).localCheckpoint()
    val crossCand = incBands.select(col("doc_id").as("d1"), col("band"), col("bh"))
      .join(index.bands.select(col("doc_id").as("d2"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("d1", "d2").distinct()
    val intCand = candidatePairs(incBands)
    val allCand = crossCand.withColumn("x", lit(true))
      .unionByName(intCand.withColumn("x", lit(false)))
    val incIds = intCand.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .unionByName(crossCand.select(col("d1").as("doc_id")))
      .distinct()
    val corpIds = crossCand.select(col("d2").as("doc_id")).distinct()
    val candSh = shingles(incSpread.join(incIds, Seq("doc_id"), "left_semi"), k = k)
      .unionByName(shingles(
        index.docStore.join(corpIds, Seq("doc_id"), "left_semi"), k = k))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // jaccardVerify's candidate-driven shape with the tag carried through
    val sizes = candSh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = candSh.select(col("doc_id").as("da"), col("sh").as("sha"))
    val bSh = candSh.select(col("doc_id").as("db"), col("sh").as("shb"))
    val verified = allCand
      .join(a, col("d1") === col("da"))
      .join(bSh, col("d2") === col("db") && col("sha") === col("shb"))
      .groupBy("d1", "d2", "x").agg(count(lit(1)).as("nab"))
      .join(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("sz", "sz2"), "d2")
      .select(col("d1"), col("d2"), col("x"),
        (col("nab").cast("double") /
          (col("sz1") + col("sz2") - col("nab")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val v =
      try verified.localCheckpoint()
      finally {
        incSpread.unpersist(blocking = false)
        candSh.unpersist(blocking = false)
      }
    IncNearDupProbe(
      v.filter(col("x")).select("d1", "d2", "jaccard"),
      v.filter(!col("x")).select("d1", "d2", "jaccard"))
  }

  /** Duplicate-cluster resolution: connected components over verified
    * near-dup pairs — each doc ends up labeled with the smallest doc_id
    * reachable from it, so "keep one per cluster" is `label == doc_id`.
    * Deterministic (min is merge-order-invariant).
    *
    * Each round takes the min over (own label, neighbors' labels, label of
    * own label). The last term is pointer jumping: label chains halve every
    * round, so convergence is O(log diameter) rounds — a 41-node chain
    * closes in ~7 — not the O(diameter) of plain min-propagation (the same
    * doubling idea as Kiveris et al., "Connected Components in
    * MapReduce"). Every round is equi-joins + a map-side-combinable min
    * aggregate over the LABEL table (|docs in any pair| rows — a vanishing
    * fraction of corpus size); `localCheckpoint` cuts the growing lineage
    * so round R's plan doesn't replay rounds 1..R−1.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
      localThreshold: Long = 1L << 20): DataFrame = {
    val edges = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .unionByName(pairs.select(col("d2").cast("long").as("a"), col("d1").cast("long").as("b")))
      .distinct()
      .cache()
    // Local substrate (same gate pattern as the sub-threshold SLOPE fits):
    // verified near-dup pair lists are minuscule next to the corpus, and
    // below the threshold a driver-side union-find beats several
    // cluster-wide iteration barriers by orders of magnitude. Identical
    // output by construction — min-of-component labels either way (the
    // distributed path is exercised in tests by forcing the threshold to 0).
    if (edges.count() <= localThreshold) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find with path compression (recursion would overflow the
      // driver stack on adversarially-ordered long chains)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      // union by min so the root IS the component minimum
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toDF("v", "lbl")
    }
    var labels = edges.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint()
    // labels only ever decrease, so Σlbl strictly decreases until the
    // fixpoint: convergence is one cheap aggregate on the (already
    // materialized) checkpoint — no per-round join-and-compare job.
    // DECIMAL(38,0) keeps the sum overflow-free at any node count.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val viaEdges = edges.join(labels, edges("a") === labels("v"))
        .select(edges("b").as("v"), col("lbl"))
      val viaPtr = labels.as("x")
        .join(labels.as("y"), col("x.lbl") === col("y.v"))
        .select(col("x.v").as("v"), col("y.lbl").as("lbl"))
      // superseded checkpoints stay pinned until the loop ends — bounded by
      // O(rounds·|nodes in pairs|) rows, negligible next to the corpus
      val next = labels.select(col("v"), col("lbl"))
        .unionByName(viaEdges).unionByName(viaPtr)
        .groupBy("v").agg(min("lbl").as("lbl"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    edges.unpersist()
    // pointer jumping converges in O(log diameter) rounds, so 25 rounds
    // cover any graph a dedup corpus can produce (2^25-node chains); if the
    // cap is ever hit anyway, unconverged labels are a silent wrong answer —
    // fail loudly instead
    require(converged,
      s"dupClusters: label fixpoint not reached within $maxIters rounds")
    labels // (v, lbl = min doc_id of v's component)
  }

  /** Representative selection over resolved duplicate clusters: production
    * dedup keeps the BEST document of each cluster (longest, highest
    * quality score, …), not the minimum id. Input: `clusters` = (v, lbl)
    * from [[dupClusters]] plus a per-doc quality column; output one
    * row per cluster: (cluster_rep, keep_id, keep_quality, n_docs), where
    * keep_id is the argmax by (quality desc, id asc). The argmax is a
    * single struct-max aggregation — max over (quality, −id) compares
    * lexicographically, so the tie-break is total and deterministic — with
    * NO window: map-side combinable, a pathologically hot cluster costs
    * one combiner slot per task, never a per-key sort.
    *
    * The quality score compares on the Det 1e-6 integer grid
    * ([[graft.util.Det]] — `floor(q·1e6 + 0.5)` as a long), NOT by a bare
    * long cast: a fractional model score (P37's
    * [[graft.pipeline.TextPipeline.classifierScore]] sigmoid lives in
    * [0,1]) would otherwise truncate to 0 corpus-wide and the policy
    * silently degenerate to min-id. Two docs within 1e-6 of each other tie
    * on the grid and fall to the id tie-break — the same determinism
    * contract as every Det aggregate. Domain: |quality| < 2^63/1e6 ≈
    * 9.2e12 per row (a length, a count, or any bounded score is far
    * inside). `keep_quality` is emitted back on the original scale
    * (grid/1e6, DOUBLE) — exact for integer-valued qualities.
    */
  def keepBest(clusters: DataFrame, docs: DataFrame, qualityCol: Column,
               idCol: String = "doc_id"): DataFrame = {
    val q = docs.select(col(idCol).cast("long").as("v"),
      floor(qualityCol.cast("double") * lit(1e6) + lit(0.5)).cast("long")
        .as("quality"))
    clusters.join(q, "v")
      .groupBy(col("lbl").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("quality"), (-col("v")).as("negid"))).as("best"))
      .select(col("cluster_rep"), (-col("best.negid")).as("keep_id"),
        (col("best.quality").cast("double") / lit(1e6)).as("keep_quality"),
        col("n_docs"))
  }

  /** Per-document duplicated-substring profile — the ExactSubstr signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2021), as a SCORE rather than a cut: for each document, how
    * many of its word `n`-gram occurrences use a gram that also appears in
    * at least one OTHER document. Output per input doc (docs with fewer
    * than `n` tokens get zeros): `n_grams` (occurrences), `n_dup_grams`
    * (occurrences whose gram is cross-doc), `n_distinct`,
    * `n_distinct_dup`, and a `kept` verdict by integer cross-multiply
    * (`n_dup_grams·1000 ≤ maxDupPermille·n_grams` — no float anywhere).
    *
    * Scale shape: the gram keys roll off the token array inside the row
    * ([[graft.functions.RollingGramKeys]] — O(L) per doc, no gram-string
    * concatenation; the key is internal, the oracle re-derives the
    * per-doc counts from literal gram strings, so the substrate cannot
    * silently drift); everything after is keyed on the 64-bit gram key —
    * a (doc, gram) occurrence count, a per-gram distinct-doc count (one
    * row per (doc, gram) feeds it, so a pathological "the the the…" doc
    * contributes ONE row, not its length), and one equi-join back. No
    * all-pairs stage, no per-key window; the hottest gram in a 100 TB
    * corpus costs a single long-keyed count.
    */
  def dupGramProfile(docs: DataFrame, n: Int, maxDupPermille: Int,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    require(maxDupPermille >= 0 && maxDupPermille <= 1000,
      s"maxDupPermille must be in [0, 1000], got $maxDupPermille")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.RollingGramKeys.rollingGramKeys(
          TextPipeline.tokens(col(textCol)), n)).as("g"))
    val occ = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("occ"))
    // one row per (doc, gram) in, so count(*) IS the distinct-doc count.
    // Only the ≥2 SET flows back — the verdict needs one bit per gram, and
    // cross-doc-duplicated grams are a small fraction of a real corpus
    // (~5 % here), so the join's build side shrinks 20× and AQE can often
    // broadcast it outright instead of re-shuffling the occurrence table.
    val dupSet = occ.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("g"), lit(true).as("is_dup"))
    val perDoc = occ.join(dupSet, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("is_dup"), col("occ")).otherwise(0L)).as("n_dup_grams"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_distinct_dup"))
    docs.select(col(idCol).as("doc_id") +: carryCols.map(col): _*)
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_dup_grams", "n_distinct", "n_distinct_dup"))
      .withColumn("kept",
        col("n_dup_grams") * 1000 <= lit(maxDupPermille.toLong) * col("n_grams"))
  }

  /** Maximal duplicated-SPAN geometry — the removal step of ExactSubstr
    * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2021): [[dupGramProfile]] counts how many of a document's
    * word-`n`-gram occurrences use a cross-document gram; this computes
    * WHERE they sit — overlapping-or-adjacent cross-doc windows merge into
    * maximal token intervals (the exact spans a span-cutter would drop)
    * and the profile reports, per input doc, `n_tokens`, `n_dup_windows`
    * (cross-doc windows), `n_spans` (maximal merged intervals) and
    * `covered_tokens` (size of their union).
    *
    * Scale shape: gram windows and positions are row-local; the corpus-
    * wide stages are the per-gram distinct-doc count and one LEFT SEMI
    * join of window rows against the (small) duplicated-gram set — the
    * same substrate as [[dupGramProfile]], so the hot-gram guarantees
    * carry over. The interval merge itself runs INSIDE one row: a doc's
    * duplicated window positions are collected (bounded by document
    * length, never by corpus size) and a single sorted-array `aggregate`
    * pass folds them into islands — no window function, no per-key sort
    * beyond the row-local `sort_array`, exactly one shuffle by doc_id
    * after the semi join.
    */
  /** Folds an ASCENDING array of window start positions (each window
    * covering tokens [i, i+n-1]) into maximal merged intervals: merge
    * while i <= cur_end + 1 (overlap OR adjacency), so a span is a
    * maximal contiguous covered token interval. One window per position
    * and ascending order give i + n - 1 >= cur_end in the merge branch,
    * so the covered increment (i + n - 1) - cur_end is non-negative
    * integer arithmetic throughout. Returns
    * struct(n_spans bigint, covered_tokens bigint); row-local, so the
    * same fold serves the batch profile and the streaming twin.
    */
  private[pipeline] def islandFold(ps: Column, n: Int): Column =
    aggregate(
      ps,
      struct(lit(0L).as("spans"), lit(0L).as("covered"), lit(-2L).as("cur_end")),
      (a, i) => {
        val end = i.cast("long") + lit((n - 1).toLong)
        when(i.cast("long") > a.getField("cur_end") + 1L,
          struct((a.getField("spans") + 1L).as("spans"),
            (a.getField("covered") + n.toLong).as("covered"),
            end.as("cur_end")))
          .otherwise(struct(a.getField("spans").as("spans"),
            (a.getField("covered") + (end - a.getField("cur_end"))).as("covered"),
            end.as("cur_end")))
      },
      a => struct(a.getField("spans").as("n_spans"),
        a.getField("covered").as("covered_tokens")))

  /** Folds an array of `[st, en]` intervals SORTED ascending by (st, en)
    * into maximal merged islands, counting only islands of length >=
    * `minLen` tokens: the policy knob of Lee et al.'s ExactSubstr removal
    * ("only duplicated substrings of at least 50 tokens are cut"), applied
    * to MERGED geometry so adjacent shorter matches that chain into a long
    * island count. Same merge rule as [[islandFold]] (overlap OR
    * adjacency); intervals here carry their own ends because the inputs
    * mix gram orders. Returns struct(n_spans, covered_tokens,
    * longest_span) over the KEPT islands only; row-local.
    */
  private[pipeline] def intervalFold(iv: Column, minLen: Int): Column = {
    val mL = lit(minLen.toLong)
    // close the open island: fold it into the kept counters iff long enough
    def close(a: Column): (Column, Column, Column) = {
      val len = a.getField("cur_en") - a.getField("cur_st") + 1L
      val keep = a.getField("cur_st") >= 0L && len >= mL
      (a.getField("spans") + when(keep, 1L).otherwise(0L),
        a.getField("covered") + when(keep, len).otherwise(0L),
        greatest(a.getField("longest"), when(keep, len).otherwise(lit(0L))))
    }
    aggregate(
      iv,
      struct(lit(0L).as("spans"), lit(0L).as("covered"), lit(0L).as("longest"),
        lit(-2L).as("cur_st"), lit(-2L).as("cur_en")),
      (a, x) => {
        val st = x.getField("st").cast("long")
        val en = x.getField("en").cast("long")
        val (cs, cc, cl) = close(a)
        when(st > a.getField("cur_en") + 1L,
          struct(cs.as("spans"), cc.as("covered"), cl.as("longest"),
            st.as("cur_st"), en.as("cur_en")))
          .otherwise(struct(a.getField("spans").as("spans"),
            a.getField("covered").as("covered"),
            a.getField("longest").as("longest"),
            a.getField("cur_st").as("cur_st"),
            greatest(a.getField("cur_en"), en).as("cur_en")))
      },
      a => {
        val (cs, cc, cl) = close(a)
        struct(cs.as("n_spans"), cc.as("covered_tokens"), cl.as("longest_span"))
      })
  }

  /** VARIABLE-LENGTH duplicated-span geometry — the bounded multi-order
    * composition of [[dupSpanProfile]]: cross-doc duplicated windows at
    * EVERY gram order in `ns` (e.g. 8/16/32) become `[st, en]` token
    * intervals, merge into maximal islands across orders, and only
    * islands of >= `minLen` tokens are reported — approximating the
    * >= 50-token removal policy of Lee et al.'s suffix-array ExactSubstr
    * (P41/P45 emulate it at a single fixed order, where a long threshold
    * must be faked by a long gram) without leaving the gram substrate.
    * Shorter orders add recall at island BOUNDARIES (a 50-token dup whose
    * tail mutated every 32 tokens still chains 8-gram islands), longer
    * orders add precision inside long duplications.
    *
    * Scale shape: per order, exactly the [[dupSpanProfile]] substrate
    * (row-local windows, per-gram distinct-doc count, left-semi against
    * the small dup set); the union across orders is |ns| such passes, the
    * merge is one row-local fold after a single shuffle by doc_id, and
    * the per-doc collect is bounded by |ns| × doc length — never corpus
    * size. Output per input doc: n_tokens, n_spans, covered_tokens,
    * longest_span (zeros when nothing clears `minLen`).
    */
  def dupSpanProfileMulti(docs: DataFrame, ns: Seq[Int], minLen: Int,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Nil, md5Substrate: Boolean = false): DataFrame = {
    val f = dupSpanMultiFrames(docs, ns, minLen, idCol, textCol, md5Substrate)
    // EAGER up to the per-affected-doc span table (one 4-long row per doc
    // that has any cross-doc interval — a vanishing fraction of corpus
    // bytes); the final per-doc join stays LAZY and re-tokenizes the
    // source exactly once. The finally-unpersist is a no-op since the
    // windowed interval stage stopped persisting the substrate — kept so
    // a future persist can never leak on failure.
    val spans =
      try f.spans.localCheckpoint()
      finally f.base.unpersist(blocking = false)
    docs.select(col(idCol).as("doc_id") +:
        (carryCols.map(col) :+
          TextPipeline.tokenCount(col(textCol)).cast("long").as("n_tokens")): _*)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("n_spans", coalesce(col("sp.n_spans"), lit(0L)))
      .withColumn("covered_tokens", coalesce(col("sp.covered_tokens"), lit(0L)))
      .withColumn("longest_span", coalesce(col("sp.longest_span"), lit(0L)))
      .drop("sp")
  }

  /** The lazy internals of [[dupSpanProfileMulti]], exposed for plan-quality
    * tests (the public entry checkpoints `spans`, hiding the interval
    * substrate from the final plan): `base` is the shared token substrate
    * (not persisted — single-consumer), `spans` the lazy per-affected-doc
    * fold.
    */
  private[graft] case class DupSpanMultiFrames(base: DataFrame, spans: DataFrame)

  /** ALL orders' window rows `(doc_id, n, i, g1, g2)` in ONE generator
    * pass: per order, an order-tagged transform of its window-key array,
    * concatenated and exploded once. The per-order chained form scanned
    * the persisted substrate |ns| times PER CONSUMER and shuffled |ns|
    * separate dup-set aggregates; fusing the orders into one tagged
    * stream makes each consumer ONE scan and ONE `(n, g1, g2)`-keyed
    * shuffle of the same total rows — fewer stage barriers at equal data
    * volume, the shape that matters at 1000 executors (adopted on the
    * SPANFUSED_AB.json measurement; geometry pinned identical).
    *
    * Default substrate: [[graft.functions.RollingGramHashes]], two rolled
    * 64-bit polynomials per window in O(L) per document. The default is
    * chosen for KEY WIDTH, not CPU: same-JVM A/Bs across three corpus
    * shapes (SCALING.md round 11) measured the two substrates within
    * ~10 % both ways, but at corpus scale (~10¹² windows) 60-bit md5 keys
    * birthday-collide ~10⁶ times — false duplicate pairs that CUT
    * non-duplicated text in the removal operators — vs ~10⁻¹⁵ expected
    * false pairs for the 128-bit rolling pair. `md5 = true` keeps the
    * literal-string form for sub-collision scales and ADVERSARIAL corpora
    * (fixed-base mod-2⁶⁴ polynomials can be attacked — see the
    * expression's collision contract); there `g2` is the constant 0, so
    * keying on `(n, g1, g2)` degenerates to the order + 60-bit md5 key.
    * Cut/span geometry is bit-identical across substrates on non-hostile
    * corpora (pinned in PipelineSpec).
    */
  private def taggedWindowRows(base: DataFrame, ns: Seq[Int],
      md5: Boolean): DataFrame = {
    val perOrder = ns.map { n =>
      if (md5)
        transform(graft.functions.WordGrams.wordGrams(col("toks"), n),
          (g, i) => struct(lit(n).as("n"), i.cast("long").as("i"),
            Det.md5Hash60(g).as("g1"), lit(0L).as("g2")))
      else
        transform(graft.functions.RollingGramHashes
            .rollingGramHashes(col("toks"), n),
          (s, i) => struct(lit(n).as("n"), i.cast("long").as("i"),
            s.getField("h1").as("g1"), s.getField("h2").as("g2")))
    }
    base.select(col("doc_id"),
        explode(concat(perOrder: _*)).as("w"))
      .select(col("doc_id"), col("w.n").as("n"), col("w.i").as("i"),
        col("w.g1").as("g1"), col("w.g2").as("g2"))
  }

  private[graft] def dupSpanMultiFrames(docs: DataFrame, ns: Seq[Int],
      minLen: Int, idCol: String, textCol: String,
      md5Substrate: Boolean = false): DupSpanMultiFrames = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"gram orders must be >= 1, got $ns")
    require(ns.distinct.length == ns.length, s"duplicate gram orders in $ns")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    // NOT persisted: the windowed interval stage consumes the substrate
    // exactly once (the agg + join-back shape this replaced scanned it
    // twice — the historical reason for the MEMORY_AND_DISK persist here;
    // at ×1000 that persist materialized ~GBs of token arrays for one
    // extra read). All orders' window keys come fused from
    // [[taggedWindowRows]].
    val base = docs
      .select(col(idCol).as("doc_id"), TextPipeline.tokens(col(textCol)).as("toks"))
    val spans = multiDupIntervals(base, ns, md5Substrate)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("iv"))
      .select(col("doc_id"), intervalFold(col("iv"), minLen).as("sp"))
    DupSpanMultiFrames(base, spans)
  }

  /** The cross-doc-duplicated window intervals `(doc_id, st, en)` of ALL
    * orders — [[dupSpanMultiFrames]]' interval stage over the fused tagged
    * stream, as ONE gram-keyed window: `min/max(doc_id) over (partition
    * by n, g1, g2)` decides ">= 2 distinct docs" on every raw window row
    * in place, so duplicated rows flow straight to the per-doc fold.
    *
    * Why a window and not the aggregate + join-back this replaced (round
    * 13; the retired join shape's A/B evidence is committed in
    * SPANFANBACK_AB.json — the shape itself is deleted so no production
    * path can reach it): the dup-SET form still had to ship the verdict back to the
    *  rows — at ×1000 the dup set outgrows any broadcast, so the probe
    * join re-shuffled the full ~1.2 B-row tagged stream a SECOND time
    * (plus re-scanning the substrate for the probe side), and the pair
    * read d3 ≈ 1.1–1.4. The window form moves the full stream through
    * exactly ONE exchange + sort and zero joins; per-gram groups are a
    * handful of rows (duplication fan), and WindowExec's buffer spills,
    * so a hyper-duplicated boilerplate gram degrades to disk instead of
    * blowing an aggregate hash table. Geometry is bit-identical
    * (fingerprint-pinned by the round-13 SpanFanbackAB run,
    * SPANFANBACK_AB.json; oracles unchanged).
    */
  private def multiDupIntervals(base: DataFrame, ns: Seq[Int],
      md5: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("n", "g1", "g2")
    taggedWindowRows(base, ns, md5)
      .select(col("doc_id"), col("i"), col("n"),
        min(col("doc_id")).over(w).as("mn"),
        max(col("doc_id")).over(w).as("mx"))
      .filter(col("mx") > col("mn"))
      .select(col("doc_id"), col("i").as("st"),
        (col("i") + col("n").cast("long") - 1L).as("en"))
  }

  def dupSpanProfile(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.RollingGramKeys.rollingGramKeys(
          TextPipeline.tokens(col(textCol)), n)))
      .select(col("doc_id"), col("pos").cast("long").as("i"), col("col").as("g"))
    // rolling 64-bit window keys (internal — the oracle re-derives the
    // counts from literal gram strings). Cross-doc membership is
    // min(doc_id) != max(doc_id) over the RAW window rows — one
    // map-side-combinable exchange, no per-(doc, gram) distinct shuffle
    // (the ×1000 lesson from the multi-order family)
    val dupSet = grams
      .groupBy("g").agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mx") > col("mn")).select("g")
    val spans = grams.join(dupSet, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_dup_windows"),
        islandFold(col("ps"), n).as("sp"))
      .select(col("doc_id"), col("n_dup_windows"),
        col("sp.n_spans").as("n_spans"),
        col("sp.covered_tokens").as("covered_tokens"))
    docs.select(col(idCol).as("doc_id") +:
        TextPipeline.tokenCount(col(textCol)).cast("long").as("n_tokens") +:
        carryCols.map(col): _*)
      .join(spans, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_windows", "n_spans", "covered_tokens"))
  }

  /** Island intervals as DATA: the same overlap-or-adjacency merge as
    * [[islandFold]] but emitting every maximal interval `[st, en]`
    * (inclusive token coordinates) instead of aggregate counts — the form
    * downstream consumers (loss masking, span cutting) need. Row-local.
    */
  private[pipeline] def islandIntervals(ps: Column, n: Int): Column = {
    val emptyArr = array().cast("array<struct<st:bigint,en:bigint>>")
    aggregate(
      ps,
      struct(emptyArr.as("arr"), lit(-1L).as("cur_st"), lit(-2L).as("cur_end")),
      (a, i) => {
        val end = i.cast("long") + lit((n - 1).toLong)
        val flushed = when(a.getField("cur_st") >= 0L,
          array_append(a.getField("arr"),
            struct(a.getField("cur_st").as("st"), a.getField("cur_end").as("en"))))
          .otherwise(a.getField("arr"))
        when(i.cast("long") > a.getField("cur_end") + 1L,
          struct(flushed.as("arr"), i.cast("long").as("cur_st"), end.as("cur_end")))
          .otherwise(struct(a.getField("arr").as("arr"),
            a.getField("cur_st").as("cur_st"), end.as("cur_end")))
      },
      a => when(a.getField("cur_st") >= 0L,
        array_append(a.getField("arr"),
          struct(a.getField("cur_st").as("st"), a.getField("cur_end").as("en"))))
        .otherwise(a.getField("arr")))
  }

  /** Per-doc duplicated-span INTERVALS — the data form of
    * [[dupSpanProfile]]: `(doc_id, islands)`, where `islands` is the array
    * of maximal merged `[st, en]` token intervals (0-based, inclusive),
    * for AFFECTED docs only — docs holding at least one
    * cross-doc-duplicated gram window (a small corpus fraction; islands
    * is never empty here by construction). Consumers that also need
    * per-doc token counts for unaffected docs should compute those with
    * a separate cheap tokenize scan and join against this — bundling
    * both into one frame is what forced the fan-out double execution
    * `spanMaskReport` used to pay (see its scale note).
    */
  def dupIslands(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextPipeline.wordGramArray(col(textCol), n)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        Det.md5Hash60(col("col")).as("g"))
    // cross-doc membership via min != max over raw rows — one exchange,
    // no distinct shuffle (see dupSpanProfile)
    val dupSet = grams
      .groupBy("g").agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mx") > col("mn")).select("g")
    grams.join(dupSet, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("ps"))
      .select(col("doc_id"), islandIntervals(col("ps"), n).as("islands"))
  }

  /** Folds an array of `[st, en]` intervals SORTED ascending by (st, en)
    * into maximal merged islands — [[intervalFold]]'s geometry-emitting
    * twin: returns the array of merged islands whose merged length is
    * >= `minLen` tokens (the Lee et al. removal-length policy), each as
    * struct(st, en) in ascending order. Row-local.
    */
  private[pipeline] def keptIntervalIslands(iv: Column, minLen: Int): Column = {
    val emptyArr = array().cast("array<struct<st:bigint,en:bigint>>")
    val mL = lit(minLen.toLong)
    // flush the open island into the kept array iff it clears the policy
    def flush(a: Column): Column = {
      val len = a.getField("cur_en") - a.getField("cur_st") + 1L
      when(a.getField("cur_st") >= 0L && len >= mL,
        array_append(a.getField("arr"),
          struct(a.getField("cur_st").as("st"), a.getField("cur_en").as("en"))))
        .otherwise(a.getField("arr"))
    }
    aggregate(
      iv,
      struct(emptyArr.as("arr"), lit(-2L).as("cur_st"), lit(-2L).as("cur_en")),
      (a, x) => {
        val st = x.getField("st").cast("long")
        val en = x.getField("en").cast("long")
        when(st > a.getField("cur_en") + 1L,
          struct(flush(a).as("arr"), st.as("cur_st"), en.as("cur_en")))
          .otherwise(struct(a.getField("arr").as("arr"),
            a.getField("cur_st").as("cur_st"),
            greatest(a.getField("cur_en"), en).as("cur_en")))
      },
      a => flush(a))
  }

  /** Complement of the sorted, disjoint cut islands over the token range
    * `[0, nTokens-1]`: the surviving pieces as struct(st, en) in document
    * order (empty when the whole doc is cut, one full-range piece when
    * nothing is). Row-local.
    */
  private def complementPieces(cuts: Column, nTokens: Column): Column = {
    val emptyArr = array().cast("array<struct<st:bigint,en:bigint>>")
    aggregate(
      cuts,
      struct(emptyArr.as("arr"), lit(0L).as("cursor")),
      (a, x) => {
        val st = x.getField("st").cast("long")
        val en = x.getField("en").cast("long")
        val withGap = when(st > a.getField("cursor"),
          array_append(a.getField("arr"),
            struct(a.getField("cursor").as("st"), (st - 1L).as("en"))))
          .otherwise(a.getField("arr"))
        struct(withGap.as("arr"), (en + 1L).as("cursor"))
      },
      a => when(a.getField("cursor") <= nTokens - 1L,
        array_append(a.getField("arr"),
          struct(a.getField("cursor").as("st"), (nTokens - 1L).as("en"))))
        .otherwise(a.getField("arr")))
  }

  /** ORIGINAL-BYTE variant of [[emitPieces]]: each surviving piece is
    * emitted as a slice of the ORIGINAL document — from the first
    * character of its first kept token to the last character of its last
    * kept token — so interior case, punctuation, and whitespace survive
    * removal verbatim (text before the first / after the last token of a
    * piece is dropped with the cut, a deterministic documented edge).
    * Output adds `char_st`/`char_en` (0-based inclusive character
    * coordinates of the slice) to the [[emitPieces]] schema. When
    * lowercasing changes the string's length (rare Unicode, e.g. U+0130),
    * the token offsets no longer index the original, so the slice falls
    * back to the lowercased text — coordinates stay exact either way.
    * Row-local and LAZY like [[emitPieces]]: one native span scan
    * ([[graft.functions.TokenCharSpans]] — a single byte pass per doc,
    * whose `n_chars` also serves as the length guard so no second
    * `lower()` runs on the common path), one left join against the small
    * cut table, slice — a 100 TB run streams straight to its sink.
    */
  private def emitPiecesOriginal(docs: DataFrame, cuts: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val emptyIv = array().cast("array<struct<st:bigint,en:bigint>>")
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("src_text"),
        graft.functions.TokenCharSpans.tokenCharSpans(col(textCol)).as("tcs"))
      .select(col("doc_id"), col("src_text"),
        col("tcs.spans").as("cspans"), col("tcs.n_chars").as("n_chars"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("cut", coalesce(col("cut"), emptyIv))
      .withColumn("cut_tokens",
        aggregate(col("cut"), lit(0L),
          (a, x) => a + x.getField("en") - x.getField("st") + 1L))
      .withColumn("slice_src",
        when(col("n_chars") === length(col("src_text")).cast("long"),
          col("src_text")).otherwise(lower(col("src_text"))))
      .select(col("doc_id"), col("cspans"), col("cut_tokens"), col("slice_src"),
        posexplode(complementPieces(col("cut"), size(col("cspans")).cast("long"))))
      .withColumn("char_st",
        element_at(col("cspans"), (col("col.st") + 1L).cast("int")).getField("st"))
      .withColumn("char_en",
        element_at(col("cspans"), (col("col.en") + 1L).cast("int")).getField("en"))
      .select(col("doc_id"),
        col("pos").cast("long").as("piece_idx"),
        col("col.st").as("st"), col("col.en").as("en"),
        (col("col.en") - col("col.st") + 1L).as("n_tokens"),
        col("cut_tokens"), col("char_st"), col("char_en"),
        col("slice_src").substr((col("char_st") + 1L).cast("int"),
          (col("char_en") - col("char_st") + 1L).cast("int")).as("text"))
  }

  /** Duplicated-span REMOVAL — the final, corpus-emitting step of the
    * ExactSubstr pipeline (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", 2021): where [[dupSpanProfileMulti]] measures
    * the >= `minLen`-token duplicated islands, this CUTS them out of the
    * token stream and re-emits the surviving pieces, one row per piece:
    * `(doc_id, piece_idx, st, en, n_tokens, cut_tokens, text)` with `st`/
    * `en` the piece's 0-based inclusive token coordinates, `cut_tokens`
    * the doc-level count of removed tokens (0 for untouched docs, which
    * emit exactly one full-range piece), and `text` the piece's tokens
    * re-joined with single spaces (removal is defined over the token
    * stream, so output text is normalized: lowercased `[a-z0-9]+` runs —
    * exactly [[TextPipeline.tokens]]). Docs whose token stream is empty,
    * or fully cut, emit no rows.
    *
    * ONE CANONICAL COPY SURVIVES: a window is cut-eligible only when its
    * gram appears in >= 2 docs AND this doc is not the gram's KEEPER (the
    * smallest doc_id containing it) — so content is never deleted from
    * everywhere it appears, per-order and deterministically. Cut geometry
    * is then the >= `minLen` merged islands over the non-keeper windows of
    * all orders in `ns` (merge across orders, policy on merged length —
    * same geometry rules as [[dupSpanProfileMulti]], restricted to
    * non-keeper occurrences).
    *
    * Scale shape: ONE row-local tagged gram explode over one tokenize
    * scan, ONE gram-keyed exchange whose window decides duplication and
    * keeper on every raw row in place (no dup-set join back, no second
    * substrate scan — the shape that closed the family's ×1000
    * superlinearity; see [[multiDupIntervals]]); islands merge and pieces
    * cut INSIDE one row. The small per-affected-doc cut table is
    * checkpointed; the final pass — tokenize, left-join cuts, slice
    * pieces — is LAZY and row-local, so a 100 TB run streams straight to
    * its sink without materializing the cleaned corpus twice.
    * `emitOriginal = true` emits pieces as slices of the ORIGINAL text
    * instead of normalized token joins — see [[emitPiecesOriginal]].
    */
  def removeDupSpans(docs: DataFrame, ns: Seq[Int], minLen: Int,
      idCol: String = "doc_id", textCol: String = "text",
      md5Substrate: Boolean = false, emitOriginal: Boolean = false): DataFrame = {
    val f = removeDupSpansFrames(docs, ns, minLen, idCol, textCol, md5Substrate)
    val cuts = // eager: affected docs only; finally: no substrate leak on failure
      try f.cuts.localCheckpoint()
      finally f.base.unpersist(blocking = false)
    if (emitOriginal) emitPiecesOriginal(docs, cuts, idCol, textCol)
    else emitPieces(docs, cuts, idCol, textCol)
  }

  /** The shared corpus-emitting tail of the removal operators: left-join
    * the (small, eager) per-affected-doc cut table against a fresh
    * tokenize scan, slice the surviving pieces, re-join their text.
    * Row-local and LAZY, so a 100 TB run streams straight to its sink.
    */
  private def emitPieces(docs: DataFrame, cuts: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val emptyIv = array().cast("array<struct<st:bigint,en:bigint>>")
    docs
      .select(col(idCol).as("doc_id"), TextPipeline.tokens(col(textCol)).as("toks"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("cut", coalesce(col("cut"), emptyIv))
      .withColumn("cut_tokens",
        aggregate(col("cut"), lit(0L),
          (a, x) => a + x.getField("en") - x.getField("st") + 1L))
      .select(col("doc_id"), col("toks"), col("cut_tokens"),
        posexplode(complementPieces(col("cut"), size(col("toks")).cast("long"))))
      .select(col("doc_id"),
        col("pos").cast("long").as("piece_idx"),
        col("col.st").as("st"), col("col.en").as("en"),
        (col("col.en") - col("col.st") + 1L).as("n_tokens"),
        col("cut_tokens"),
        array_join(slice(col("toks"), (col("col.st") + 1L).cast("int"),
          (col("col.en") - col("col.st") + 1L).cast("int")), " ").as("text"))
  }

  /** EXACT duplicated-substring removal — suffix-array-grade ExactSubstr
    * geometry (Lee et al. 2021) on the gram substrate, single pass, no
    * suffix array. The identity that makes this exact: the union of all
    * duplicated token substrings of length >= `minLen` EQUALS the union
    * of all duplicated windows of length EXACTLY `minLen` —
    *
    *   (⊇) a duplicated window IS a duplicated substring of length
    *       `minLen`;
    *   (⊆) any token t inside a duplicated substring S of length
    *       L >= minLen lies inside some minLen-window of S (take start
    *       j = clamp(pos(t) − minLen + 1, st(S), st(S) + L − minLen)),
    *       and every minLen-window of S occurs wherever S occurs, so it
    *       is itself duplicated.
    *
    * So islands of duplicated minLen-windows are EXACTLY the removable
    * region — [[removeDupSpans]]'s multi-order merge (8/16/32 + policy on
    * merged length) approximates this geometry; a single order equal to
    * the policy length computes it exactly, in ONE substrate pass instead
    * of |ns|. Duplication here is >= 2 OCCURRENCES corpus-wide — unlike
    * the multi-order form's distinct-doc count, a substring repeated
    * twice inside one document (boilerplate) is flagged too, matching the
    * suffix-array semantics.
    *
    * `keepFirst = true` (default) retains one canonical copy per window:
    * the first occurrence in (doc_id, position) order is never cut, so
    * content survives somewhere; `false` is the literal Lee et al. policy
    * (every occurrence of a duplicated substring is removed — the paper
    * accepts deleting all copies). Both are single-pass: removal is
    * computed against the ORIGINAL corpus, not re-derived iteratively.
    *
    * Substrate: windows hash via [[graft.functions.RollingGramHashes]] —
    * two independent rolling polynomials over per-token xxhash64 values,
    * O(L) per document. The load-bearing property is the 128-bit joint
    * key: false window pairs stay ~10⁻¹⁵-grade at the ~10¹² windows of a
    * 100 TB corpus, where a 60-bit key would birthday-collide ~10⁶ times
    * and each collision CUTS non-duplicated text (the CPU difference vs
    * gram-string concatenation measured as a wash on tested corpora —
    * SCALING.md round 11; hostile corpora need a cryptographic substrate,
    * see the expression's collision contract).
    *
    * Scale shape: one row-local window-hash explode, one per-gram
    * (occurrence count, min (doc, pos)) aggregate — map-side combinable —
    * one equi-join of window rows against the small dup set (broadcasts
    * under AQE), islands and cuts INSIDE one row, and the same lazy
    * [[emitPieces]] tail as [[removeDupSpans]]. Output schema identical
    * to [[removeDupSpans]]. `emitOriginal = true` switches the tail to
    * [[emitPiecesOriginal]]: pieces come out as slices of the ORIGINAL
    * text (case/punctuation preserved) with `char_st`/`char_en`
    * coordinates — removal geometry is unchanged, only the emission.
    */
  def removeDupSpansExact(docs: DataFrame, minLen: Int,
      idCol: String = "doc_id", textCol: String = "text",
      keepFirst: Boolean = true, emitOriginal: Boolean = false): DataFrame = {
    val f = exactSubstrFrames(docs, minLen, idCol, textCol, keepFirst)
    val cuts = // eager: affected docs only; finally: no substrate leak on failure
      try f.cuts.localCheckpoint()
      finally f.base.unpersist(blocking = false)
    if (emitOriginal) emitPiecesOriginal(docs, cuts, idCol, textCol)
    else emitPieces(docs, cuts, idCol, textCol)
  }

  /** The lazy internals of [[removeDupSpansExact]], exposed for plan-quality
    * tests (same contract as [[removeDupSpansFrames]]).
    */
  private[graft] def exactSubstrFrames(docs: DataFrame, minLen: Int,
      idCol: String, textCol: String, keepFirst: Boolean): RemoveSpanFrames =
    // >= 2 occurrences ANYWHERE (within-doc repeats count); keeper = the
    // first occurrence in (doc_id, position) order. min(struct) is
    // map-side combinable, and the dup set is a small corpus fraction, so
    // the join back broadcasts under AQE.
    gramCutFrames(docs, minLen, idCol, textCol, keepFirst)(grams =>
      SegmentStore.aggregate(grams, GramKeys, "i")
        .filter(col("nocc") >= 2)
        .select("g1", "g2", "keeper"))

  /** The exact family's shared frames: the persisted token substrate, its
    * `minLen`-window rows, and the per-doc cut islands of every window in
    * `dupSetOf(windows)` — `(g1, g2, keeper)`, the duplicated grams with
    * their keepers — other than its keeper under `keepFirst`.
    */
  private def gramCutFrames(docs: DataFrame, minLen: Int, idCol: String,
      textCol: String, keepFirst: Boolean)(
      dupSetOf: DataFrame => DataFrame): RemoveSpanFrames = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val base = tokenRows(docs, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grams = gramRows(base, minLen)
    val joined = grams.join(dupSetOf(grams), Seq("g1", "g2"))
    val cutWins =
      if (keepFirst) joined.filter(struct(col("doc_id"), col("i")) =!= col("keeper"))
      else joined
    // every window has length exactly minLen, so every merged island
    // already clears the >= minLen policy — islandIntervals needs no
    // length filter.
    val cuts = cutWins
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("ps"))
      .select(col("doc_id"), islandIntervals(col("ps"), minLen).as("cut"))
    RemoveSpanFrames(base, cuts)
  }

  /** The lazy internals of [[removeDupSpans]]: token substrate `base`
    * (persisted only by the EXACT family, whose aggregate + probe still
    * fans out; the multi-order windowed stage is single-consumer) plus
    * the lazy per-affected-doc cut-island table `cuts` (doc_id, cut =
    * sorted array of merged >= minLen non-keeper islands). Exposed for
    * plan-quality tests (the public entry checkpoints `cuts`).
    */
  private[graft] case class RemoveSpanFrames(base: DataFrame, cuts: DataFrame)

  private[graft] def removeDupSpansFrames(docs: DataFrame, ns: Seq[Int],
      minLen: Int, idCol: String, textCol: String,
      md5Substrate: Boolean = false): RemoveSpanFrames = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"gram orders must be >= 1, got $ns")
    require(ns.distinct.length == ns.length, s"duplicate gram orders in $ns")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    // NOT persisted — single-consumer under the windowed interval stage
    // (see [[dupSpanMultiFrames]])
    val base = docs
      .select(col(idCol).as("doc_id"), TextPipeline.tokens(col(textCol)).as("toks"))
    val cuts = removalCutIntervals(base, ns, md5Substrate)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("iv"))
      .select(col("doc_id"), keptIntervalIslands(col("iv"), minLen).as("cut"))
      .filter(size(col("cut")) > 0)
    RemoveSpanFrames(base, cuts)
  }

  /** The cut-eligible (non-keeper) duplicated window intervals of ALL
    * orders — [[removeDupSpansFrames]]' interval stage as one gram-keyed
    * window (see [[multiDupIntervals]] for the shape rationale). keeper =
    * `min(doc_id) over (partition by n, g1, g2)`: its occurrences are NOT
    * cut-eligible, so one canonical copy of every duplicated gram
    * survives removal — the same expression that decides duplication
    * yields the keeper for free.
    */
  private def removalCutIntervals(base: DataFrame, ns: Seq[Int],
      md5: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("n", "g1", "g2")
    taggedWindowRows(base, ns, md5)
      .select(col("doc_id"), col("i"), col("n"),
        min(col("doc_id")).over(w).as("keeper"),
        max(col("doc_id")).over(w).as("mx"))
      .filter(col("mx") > col("keeper") && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("i").as("st"),
        (col("i") + col("n").cast("long") - 1L).as("en"))
  }

  /** A pre-built exact-substring dup-gram index — the persisted corpus-side
    * state of INCREMENTAL span removal, mirroring [[NearDupIndex]] for the
    * near-dup family: a [[SegmentStore]] of one row per distinct
    * `minLen`-token window hash of the corpus with its occurrence count
    * and keeper, `(g1, g2, nocc, keeper: struct<doc_id, i>)`. Grams with
    * `nocc = 1` are KEPT — a corpus-unique window becomes duplicated the
    * moment an increment re-crawls it (the same reason a suffix array is
    * corpus-sized). ~40 B per corpus token. `minLen` rides along so a
    * probe can never hash with a mismatched window; `maxDocId` is the
    * [[IdContract]] watermark.
    */
  final case class ExactSubstrIndex(store: SegmentStore, minLen: Int,
      maxDocId: Long = IdContract.Unwatermarked) {
    def unpersist(): Unit = store.unpersist()
  }

  /** The key columns of the gram [[SegmentStore]]. */
  private val GramKeys = Seq("g1", "g2")

  /** `(doc_id, toks)`: the token substrate of the exact family. */
  private def tokenRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextPipeline.tokens(col(textCol)).as("toks"))

  /** `(doc_id, i, g1, g2)`: one row per `minLen`-token window hash. */
  private def gramRows(toks: DataFrame, minLen: Int): DataFrame =
    toks
      .select(col("doc_id"),
        posexplode(graft.functions.RollingGramHashes
          .rollingGramHashes(col("toks"), minLen)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col.h1").as("g1"), col("col.h2").as("g2"))

  /** The per-gram `(nocc, keeper)` aggregate of one corpus side — the
    * build's base and every fold's delta segment.
    */
  private def exactGramAgg(docs: DataFrame, minLen: Int,
      idCol: String, textCol: String): DataFrame =
    SegmentStore.aggregate(
      gramRows(tokenRows(docs, idCol, textCol), minLen), GramKeys, "i")

  /** Build the corpus-side [[ExactSubstrIndex]] once — one corpus-sized
    * aggregate as the base, no open delta; probe it per increment with
    * [[incrementalRemoveDupSpansExact]], fold each shipped increment into
    * it with [[updateExactSubstrIndex]].
    */
  def buildExactSubstrIndex(corpus: DataFrame, minLen: Int,
      idCol: String = "doc_id", textCol: String = "text",
      compactFraction: Double = SegmentStore.DefaultCompactFraction)
      : ExactSubstrIndex =
    exactSubstrIndexAt(corpus, minLen, IdContract.maxId(corpus, idCol),
      idCol, textCol, compactFraction)

  /** [[buildExactSubstrIndex]] with a caller-supplied [[IdContract]]
    * watermark — for a DERIVED corpus chain (the composed cleanup's cleaned
    * corpus) whose `max(id)` the raw side already knows, or
    * [[IdContract.Unwatermarked]] for the one-shot unenforced mode.
    */
  private[graft] def exactSubstrIndexAt(corpus: DataFrame, minLen: Int,
      maxDocId: Long, idCol: String = "doc_id", textCol: String = "text",
      compactFraction: Double = SegmentStore.DefaultCompactFraction)
      : ExactSubstrIndex = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    ExactSubstrIndex(SegmentStore.of(GramKeys,
      exactGramAgg(corpus, minLen, idCol, textCol), compactFraction),
      minLen, maxDocId)
  }

  /** Fold an increment in O(increment): its per-gram aggregate is appended
    * as one delta segment ([[SegmentStore.append]]). Returns a NEW index
    * sharing the input's segments. Monotone-id watermark enforced
    * ([[IdContract]]).
    */
  def updateExactSubstrIndex(index: ExactSubstrIndex, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): ExactSubstrIndex = {
    val wm = IdContract.requireAboveAndAdvance(incoming, idCol,
      index.maxDocId, "updateExactSubstrIndex")
    ExactSubstrIndex(index.store.append(
      exactGramAgg(incoming, index.minLen, idCol, textCol)), index.minLen, wm)
  }

  /** INCREMENTAL exact duplicated-substring removal — the daily-crawl twin
    * of [[removeDupSpansExact]], mirroring [[incrementalNearDup]] vs its
    * prebuilt index: the corpus's per-gram `(nocc, keeper)` state is built
    * ONCE ([[buildExactSubstrIndex]]) and each increment pays only its own
    * O(L) rolling-hash pass, one per-gram aggregate, one equi-join per
    * index segment, and the row-local island/piece kernels. Emits the
    * cleaned INCREMENT in [[removeDupSpans]]'s piece schema.
    *
    * EXACTLY BATCH-EQUAL for increment docs, by construction: for every
    * window hash, the union corpus's occurrence count is
    * `index.nocc + increment count` and its first occurrence is
    * `min(index.keeper, increment keeper)` — both recovered by left joins
    * — so every increment window's cut decision (`total >= 2` and,
    * under `keepFirst`, `(doc_id, i) != keeper`) is identical to running
    * [[removeDupSpansExact]] over corpus ∪ increment. Pinned in
    * PipelineSpec on a random corpus with INTERLEAVED doc ids.
    * Already-shipped corpus docs stay consistent with that batch run
    * whenever doc ids are monotone across crawls (every corpus id below
    * every increment id, the natural crawl ordering): a gram the
    * increment re-duplicates then has its keeper on the corpus side, so
    * no shipped piece would have been cut differently. REQUIRES the
    * increment's `(doc_id, i)` pairs to be disjoint from the corpus's
    * (re-submitting an indexed doc double-counts its windows).
    *
    * Scale shape: the increment side is O(|increment|) everywhere; the
    * index joins are the only corpus-sized terms and co-locate against the
    * bucketed gram segments on a lake ([[writeExactSubstrIndex]]). Nothing
    * re-reads corpus text. Cuts checkpoint small (affected increment docs
    * only); the emit tail is lazy and row-local, as in the batch form.
    */
  def incrementalRemoveDupSpansExact(incoming: DataFrame,
      index: ExactSubstrIndex, idCol: String = "doc_id",
      textCol: String = "text", keepFirst: Boolean = true,
      emitOriginal: Boolean = false): DataFrame = {
    IdContract.requireAbove(incoming, idCol, index.maxDocId,
      "incrementalRemoveDupSpansExact")
    val f = incrementalExactSubstrFramesOver(incoming, index.store,
      index.minLen, idCol, textCol, keepFirst)
    val cuts = // eager: affected docs only; finally: no substrate leak on failure
      try f.cuts.localCheckpoint()
      finally f.base.unpersist(blocking = false)
    if (emitOriginal) emitPiecesOriginal(incoming, cuts, idCol, textCol)
    else emitPieces(incoming, cuts, idCol, textCol)
  }

  /** Convenience form: build the index from a corpus `DataFrame`, probe
    * once, retire it. Deployment should hold a persisted/bucketed index
    * ([[buildExactSubstrIndex]] / [[writeExactSubstrIndex]]) instead —
    * this rebuilds the corpus-side aggregate every call. The throwaway
    * index is UNWATERMARKED ([[IdContract]]): a one-shot probe emits only
    * the increment, so increment-side batch equality under plain id
    * disjointness — the caller's contract here — is all it promises.
    */
  def incrementalRemoveDupSpansExact(incoming: DataFrame, corpus: DataFrame,
      minLen: Int): DataFrame = {
    val idx = exactSubstrIndexAt(corpus, minLen, IdContract.Unwatermarked)
    try incrementalRemoveDupSpansExact(incoming, idx)
    finally idx.unpersist()
  }

  private val SubstrRebuild = "buildExactSubstrIndex + writeExactSubstrIndex"

  private def substrMeta(minLen: Int, maxDocId: Long): Seq[Column] =
    Seq(lit(minLen).as("min_len"), lit(maxDocId).as("max_doc_id"))

  /** Persist an [[ExactSubstrIndex]] in the [[SegmentStore.write]] layout,
    * `meta/` pinning `min_len` and the [[IdContract]] watermark.
    */
  def writeExactSubstrIndex(index: ExactSubstrIndex, dir: String,
      nBuckets: Int = 64): Unit =
    SegmentStore.write(index.store, dir, nBuckets,
      substrMeta(index.minLen, index.maxDocId))

  /** Reload a [[writeExactSubstrIndex]] dir ([[SegmentStore.read]]); a dir
    * in the retired `grams/` layout fails with a rebuild error.
    */
  def readExactSubstrIndex(spark: SparkSession, dir: String): ExactSubstrIndex = {
    val (store, meta) = SegmentStore.read(spark, dir, GramKeys, SubstrRebuild)
    ExactSubstrIndex(store, meta.getAs[Int]("min_len"),
      meta.getAs[Long]("max_doc_id"))
  }

  /** The DAILY DISK FOLD: append one increment to a disk-resident index as
    * ONE new increment-sized segment dir plus a rewritten meta
    * ([[SegmentStore.appendOnDisk]] — crash-retryable, never compacts).
    * Watermark-enforced from the on-disk meta.
    */
  def foldExactSubstrIndexOnDisk(spark: SparkSession, dir: String,
      incoming: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 8): Unit =
    SegmentStore.appendOnDisk(spark, dir, GramKeys, nBuckets, SubstrRebuild) {
      meta =>
        val minLen = meta.getAs[Int]("min_len")
        val wm = IdContract.requireAboveAndAdvance(incoming, idCol,
          meta.getAs[Long]("max_doc_id"), "foldExactSubstrIndexOnDisk")
        (exactGramAgg(incoming, minLen, idCol, textCol), substrMeta(minLen, wm))
    }

  /** The lazy internals of [[incrementalRemoveDupSpansExact]] over a gram
    * store, exposed for plan-quality tests (same contract as
    * [[exactSubstrFrames]]): the increment's own per-gram aggregate meets
    * the store in [[SegmentStore.unionVerdict]] — a single left join with
    * no open delta, hinted chained joins with open deltas.
    */
  private[graft] def incrementalExactSubstrFramesOver(incoming: DataFrame,
      store: SegmentStore, minLen: Int, idCol: String, textCol: String,
      keepFirst: Boolean): RemoveSpanFrames =
    gramCutFrames(incoming, minLen, idCol, textCol, keepFirst)(grams =>
      store.unionVerdict(SegmentStore.aggregate(grams, GramKeys, "i", "inc_")))

  /** The corpus's cross-doc-duplicated gram hashes as a SORTED primitive
    * array — the driver-held substrate of [[dupSpanCols]] (binary-search
    * probes, 8 bytes/gram). Duplicated grams are a small fraction of a
    * real corpus, but the cap still fails LOUDLY when a corpus breaks
    * that assumption — the distributed semi join ([[dupSpanProfile]]) is
    * the right plan there.
    */
  def dupGramArray(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      maxGrams: Int = 1 << 22): Array[Long] = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    // rolling 64-bit window keys — the SAME keys [[dupSpanCols]] /
    // [[dupSpanColsMulti]] probe, so array and prober must always come
    // from the same build (StreamingSpec pins the pair against the batch
    // profile's verdicts, which are substrate-independent)
    val dup = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.RollingGramKeys.rollingGramKeys(
          TextPipeline.tokens(col(textCol)), n)).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mx") > col("mn")).select("g")
    val nG = dup.count()
    require(nG <= maxGrams,
      s"duplicated-gram set $nG exceeds maxGrams=$maxGrams — use " +
        "dupSpanProfile (distributed semi join) instead of the " +
        "broadcast form")
    val arr = dup.collect().map(_.getLong(0))
    java.util.Arrays.sort(arr)
    arr
  }

  /** Row-local twin of [[dupSpanProfile]] against a FIXED duplicated-gram
    * set ([[dupGramArray]], built offline from a corpus snapshot): the
    * whole span geometry — window flags, island merge, covered mass —
    * evaluates inside one row with higher-order functions over the
    * native sorted-set probe ([[graft.functions.BroadcastLookup]]). No
    * explode, no join, no state, so the same column runs on a batch or
    * STREAMING DataFrame in append mode (score the firehose against
    * yesterday's dup profile; `StreamingSpec` pins batch ≡ stream).
    * Returns struct(n_tokens, n_dup_windows, n_spans, covered_tokens),
    * identical to the batch profile whenever `dupGrams` is the same
    * corpus's duplicated-gram set.
    */
  /** Row-local MULTI-ORDER twin of [[dupSpanProfileMulti]] against FIXED
    * per-order duplicated-gram sets (each built offline by
    * [[dupGramArray]] at its order from a corpus snapshot): per order,
    * flagged windows become `[st, en]` intervals inside the row; the
    * concatenated interval set sorts and folds through the same
    * [[intervalFold]] (merge across orders + the >= `minLen` policy). No
    * explode, no join, no state — batch or STREAMING append mode, like
    * [[dupSpanCols]]. Returns struct(n_tokens, n_spans, covered_tokens,
    * longest_span), identical to the batch multi profile whenever the
    * gram sets are the same corpus's. Orders with empty sets contribute
    * nothing (a duplicate-free corpus snapshot at that order).
    */
  def dupSpanColsMulti(textCol: Column,
      dupGramsByOrder: Seq[(Int, Array[Long])], minLen: Int): Column = {
    require(dupGramsByOrder.nonEmpty, "need at least one gram order")
    require(dupGramsByOrder.forall(_._1 >= 1),
      s"gram orders must be >= 1, got ${dupGramsByOrder.map(_._1)}")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val perOrder = dupGramsByOrder.collect {
      case (n, dupGrams) if dupGrams.nonEmpty =>
        val keys = graft.functions.RollingGramKeys.rollingGramKeys(
          TextPipeline.tokens(textCol), n)
        val ps = filter(
          transform(keys, (g, i) =>
            when(graft.functions.BroadcastLookup.inLongSet(g, dupGrams),
              i.cast("long")).otherwise(lit(-1L))),
          x => x >= 0L)
        transform(ps, i =>
          struct(i.as("st"), (i + lit((n - 1).toLong)).as("en")))
    }
    val emptyIv = array().cast("array<struct<st:bigint,en:bigint>>")
    val iv = sort_array(
      perOrder.reduceOption((a, b) => concat(a, b)).getOrElse(emptyIv))
    val sp = intervalFold(iv, minLen)
    struct(
      TextPipeline.tokenCount(textCol).cast("long").as("n_tokens"),
      sp.getField("n_spans").as("n_spans"),
      sp.getField("covered_tokens").as("covered_tokens"),
      sp.getField("longest_span").as("longest_span"))
  }

  def dupSpanCols(textCol: Column, dupGrams: Array[Long], n: Int): Column = {
    require(n >= 1, s"gram order must be >= 1, got $n")
    // An EMPTY gram set is a legitimate state (a duplicate-free corpus
    // snapshot): no window can flag, so the profile is identically zero —
    // matching what the batch dupSpanProfile emits, instead of refusing
    // (the refusal made dupSpanProfileStream throw on clean corpora).
    if (dupGrams.isEmpty) {
      return struct(
        TextPipeline.tokenCount(textCol).cast("long").as("n_tokens"),
        lit(0L).as("n_dup_windows"),
        lit(0L).as("n_spans"),
        lit(0L).as("covered_tokens"))
    }
    val keys = graft.functions.RollingGramKeys.rollingGramKeys(
      TextPipeline.tokens(textCol), n)
    // flagged window starts, ascending by construction (transform
    // preserves positions; filter preserves order)
    val ps = filter(
      transform(keys, (g, i) =>
        when(graft.functions.BroadcastLookup.inLongSet(g, dupGrams),
          i.cast("long")).otherwise(lit(-1L))),
      x => x >= 0L)
    val sp = islandFold(ps, n)
    struct(
      TextPipeline.tokenCount(textCol).cast("long").as("n_tokens"),
      size(ps).cast("long").as("n_dup_windows"),
      sp.getField("n_spans").as("n_spans"),
      sp.getField("covered_tokens").as("covered_tokens"))
  }
}

/** SimHash near-dup detection: 60-bit sign-vote fingerprints over word
  * tokens, with banded Hamming search (prefix buckets, not all-pairs).
  */
object SimHash {

  /** Per-doc 60-bit simhash, term-frequency weighted: for each bit b, sum
    * w(token)·±1 votes of the token's md5-hash bit; bit b of the fingerprint
    * is set iff the vote sum is positive. Frequency weighting is what makes
    * the fingerprint discriminate documents drawn from a shared vocabulary
    * (unweighted distinct-token simhash collapses them). Grouped
    * aggregations only — no pairwise work.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    // hash-partition the doc rows by id BEFORE the kernel pass so the
    // per-doc tokenize+vote CPU runs on all cores even when the local
    // scan is one split (pinned count — sizing by input bytes is wrong
    // for CPU-heavy map stages). GATED like Tables.spread: on a real lake
    // the scan already has more splits than cores, the gate fails, and no
    // forced shuffle of corpus text happens. Note the `.rdd` probe
    // finalizes physical planning of `docs` — pass a RAW SCAN here (all
    // current callers do); an input with its own upstream shuffles would
    // plan them twice.
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val spreadById =
      if (graft.util.Tables.scanPartitions(docs) < target)
        docs.repartition(target, col(idCol))
      else docs
    // row-local fingerprint (native SimhashFp: in-row tf table + 60-slot
    // vote fold, value-identical to the exploded tf-groupBy + 60-column
    // vote aggregation — pinned in SimhashFpSpec). NULL = token-free doc,
    // which the exploded form never emitted a row for.
    spreadById.select(col(idCol).as("doc_id"),
        graft.functions.SimhashFp.simhashFp(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Near-duplicate pairs by Hamming distance ≤ `maxHamming`, found via
    * 15-bit prefix bands (4 buckets per doc): docs sharing any band value
    * become candidates (equi-join on the band key — the LSH structure that
    * replaces the quadratic scan), then the exact popcount filters.
    */
  def hammingPairs(simhashDf: DataFrame, maxHamming: Int = 4): DataFrame =
    simhashDf
      .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 3)")).as("k"))
      .select(col("doc_id"), col("simhash"), col("k"),
        expr("shiftright(simhash, cast(k * 15 as int)) & 32767").as("bandval"))
      .groupBy("k", "bandval")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y ->
          |    struct(x.doc_id as d1, y.doc_id as d2,
          |           bit_count(x.simhash ^ y.simhash) as hamming))))""".stripMargin))
        .as("pair"))
      .select(col("pair.d1").as("d1"), col("pair.d2").as("d2"),
        col("pair.hamming").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
}
