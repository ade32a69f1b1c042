package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed pretraining-cleanup pass, in production order (CCNet/C4/
  * RefinedWeb run the SUB-document pass first, THEN substring-level
  * dedup): paragraph-level exact dedup ([[ParagraphDedup.dedupUnits]] —
  * duplicated units cut, first occurrence kept, blanks exempt), kept
  * units re-joined per document with the CANONICAL separator, and exact
  * duplicated-substring removal ([[Dedup.removeDupSpansExact]], Lee et
  * al. ExactSubstr geometry) over the cleaned text. One call gives the
  * cleaned corpus a training pipeline would actually feed downstream —
  * and because stage 2 consumes stage 1's emission, the composed oracle
  * pins the CHAIN (a boundary bug in either stage breaks the composed
  * text hashes even where each stage's own oracle might not notice).
  *
  * Output = [[Dedup.removeDupSpansExact]]'s piece schema over the
  * cleaned documents: `(doc_id, piece_idx, st, en, n_tokens, cut_tokens,
  * text)` with token coordinates in the CLEANED document's token stream;
  * docs the substring stage does not cut emit one full-range piece, so
  * every document that survives stage 1 appears. A document whose every
  * unit is a non-keeper duplicate emits nothing (it has no kept text).
  *
  * Re-joining uses `joiner` (default `"\n\n"`) regardless of the
  * original separator widths — deliberate structure normalization, the
  * same canonicalization C4 applies when re-assembling kept lines.
  *
  * Scale shape: stage 1 is the paragraph family's (row-local split/
  * fingerprint, one map-side-combinable dup-set aggregate, small
  * checkpointed probe tables); the re-join is ONE per-doc aggregate of
  * the kept units; stage 2 is the removal family's (one gram exchange,
  * small checkpointed cut table, lazy row-local emission). No stage
  * joins corpus-sized frames on anything but their keyed aggregates, so
  * the composition adds exactly one exchange (the re-join) to the sum of
  * its parts.
  */
object CleanPipeline {

  /** The cleaned corpus is `localCheckpoint`ed between the stages: stage
    * 2 consumes it TWICE (its substrate persist and its lazy emission
    * tail), and unlike the removal family's usual raw-parquet input it is
    * a derived chain — re-deriving it per consumer measured 1.4× slower
    * at ×1000 (CLEANPIPE_AB.json, interleaved, geometry-pinned). On a
    * real cluster prefer staging the cleaned corpus to the lake between
    * passes (write + read back): a local checkpoint truncates lineage,
    * so an executor loss mid-stage-2 cannot recompute — the same reason
    * a production chain persists its intermediate anyway.
    */
  def cleanCorpus(docs: DataFrame,
      sepRegex: String = ParagraphDedup.ParagraphSep,
      joiner: String = "\n\n", minLen: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the checkpoint makes the emission's consumption EAGER, so it can
    // ride the already-persisted unit substrate instead of re-deriving
    // the unit table (and the caller's input chain) in a fresh scan —
    // one full split/normalize/md5 pass saved per run (§6 derive-once)
    val (kept, release) =
      ParagraphDedup.dedupUnitsOnSubstrate(docs, sepRegex, idCol, textCol)
    val cleaned =
      try rejoinKept(kept, joiner).localCheckpoint()
      finally release()
    Dedup.removeDupSpansExact(cleaned, minLen)
  }

  /** Kept units re-assembled into cleaned documents: `(doc_id, text)`,
    * units in original order joined with the canonical separator.
    */
  private[graft] def rejoinKept(kept: DataFrame, joiner: String): DataFrame =
    kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("unit_idx"), col("text")))),
          x => x.getField("text")), joiner).as("text"))

  /** The FULL production cleanup chain — [[cleanCorpus]] with the
    * document-level near-dup stage the real pipelines (CCNet, RefinedWeb;
    * SURVEY §2.6) run between the sub-document pass and substring removal:
    *
    *   1. paragraph/line exact dedup ([[ParagraphDedup.dedupUnits]]) and
    *      canonical re-join — the cleaned corpus;
    *   2. document-level dedup over the CLEANED text: exact-duplicate
    *      collapse to min-id representatives ([[Dedup.collapseReps]]),
    *      MinHash + banded-LSH candidate pairs verified by exact Jaccard
    *      ≥ `threshold` ([[Dedup.nearDupFramesFromReps]]), connected-
    *      component cluster resolution ([[Dedup.dupClusters]]), and
    *      KEEP-BEST representative selection ([[Dedup.keepBest]]) under
    *      the caller's `quality` policy — every other cluster member is
    *      dropped whole;
    *   3. exact duplicated-substring removal over the surviving documents
    *      ([[Dedup.removeDupSpansExact]]).
    *
    * Output = the piece schema over SURVIVING docs only: a document
    * dropped as an exact duplicate or a near-dup cluster loser emits
    * nothing; survivors emit their cleaned pieces (uncut survivors one
    * full-range piece). `quality` scores a cleaned document — a `Column`
    * over stage 1's `(doc_id, text)` — and defaults to cleaned-text
    * length ("keep the longest"); [[Dedup.keepBest]] compares it on the Det
    * 1e-6 integer grid, so fractional model scores (P37's
    * `classifierScore`) order correctly; ties (within 1e-6) break to the
    * smaller doc id, so the policy is total and deterministic.
    *
    * Stage boundaries matter: near-dup runs over CLEANED text (CCNet
    * orders it this way because boilerplate paragraphs otherwise make
    * unrelated pages near-duplicates), and substring removal runs LAST so
    * its gram ranks never count occurrences inside documents that dedup
    * discards anyway.
    *
    * Scale shape: stage 1 as in [[cleanCorpus]]; stage 2 adds ONE
    * corpus-sized exchange (the rep collapse — its output is also the
    * persisted signature substrate, so the banding chain and the survivor
    * accounting reuse it rather than re-deriving the cleaned corpus) plus
    * the near-dup family's keyed-bucket stages; pairs, clusters, keep-best
    * and the loser set are all candidate-sized (vanishing fractions of the
    * corpus) and checkpoint small, so the survivor anti-join broadcasts
    * under AQE. Stage 3 is the removal family's shape over the surviving
    * reps. The survivor table is `localCheckpoint`ed between stages (the
    * same persist-the-hand-off rationale as [[cleanCorpus]]): stage 3
    * consumes it twice (token substrate + emission tail), and on a real
    * cluster it is the cleaned artifact a production run stages to the
    * lake anyway.
    */
  def fullCleanCorpus(docs: DataFrame,
      sepRegex: String = ParagraphDedup.ParagraphSep,
      joiner: String = "\n\n", minLen: Int = 20,
      shingleK: Int = 5, nHashes: Int = 18, rowsPerBand: Int = 6,
      threshold: Double = 0.7, quality: Column = length(col("text")),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // stage 1 emission rides the persisted unit substrate (§6 derive-once,
    // as in cleanCorpus): its one consumer — the rep collapse below — is
    // materialized by the verified-pairs checkpoint, after which the
    // substrate is released alongside the spread reps
    val (kept, releasePara) =
      ParagraphDedup.dedupUnitsOnSubstrate(docs, sepRegex, idCol, textCol)
    val cleaned = rejoinKept(kept, joiner)
    // docs shorter than the shingle width never band (the signature kernel
    // self-guards), so ALL reps flow through: short docs simply cannot
    // near-dup-match and survive to stage 3 unless exact-duplicated.
    val f = Dedup.nearDupFramesFromReps(Dedup.collapseReps(cleaned),
      shingleK, nHashes, rowsPerBand, threshold)
    val survivors =
      try {
        val pairs = f.verified.localCheckpoint() // eager: runs the pipeline
        releasePara() // spread reps are materialized — substrate done
        f.candTexts.unpersist(blocking = false)
        val clusters = Dedup.dupClusters(pairs)
        // losers = cluster members that are not their cluster's keep-best
        // winner; quality is scored on the persisted reps (every cluster
        // member is a rep — collapseReps ran first)
        val losers = clusters
          .join(Dedup.keepBest(clusters, f.spread, quality)
            .select(col("keep_id").as("v")), Seq("v"), "left_anti")
          .select(col("v").as("doc_id"))
          .localCheckpoint()
        f.spread.join(losers, Seq("doc_id"), "left_anti").localCheckpoint()
      } finally {
        f.spread.unpersist(blocking = false)
        releasePara() // idempotent — covers the pre-checkpoint failure path
      }
    Dedup.removeDupSpansExact(survivors, minLen)
  }

  // ---- Incremental (daily-crawl) form --------------------------------

  /** The corpus-side state of INCREMENTAL composed cleanup: the paragraph
    * stage's unit-fingerprint index plus the substring stage's gram index
    * built over the CLEANED corpus (stage 2 of the batch chain sees
    * cleaned text, so its index must too). `joiner` rides along so a
    * probe can never re-join with a mismatched canonical separator.
    *
    * CONTRACT — MONOTONE doc ids (every increment id GREATER than every
    * indexed id), stronger than the component indexes' disjointness: a
    * smaller increment id sharing a unit with a corpus doc would steal
    * the union keeper, meaning the batch chain would cut the CORPUS
    * copy — text an incremental pass has already emitted and can never
    * re-emit. Under monotone ids union keepers always land corpus-side
    * (or increment-internal for new content), so the cleaned corpus is
    * stable and increment output is exactly batch-equal. Daily crawls
    * assign ids monotonically, so this is the natural deployment shape.
    *
    * ENFORCED MECHANICALLY ([[IdContract]]): both halves carry a
    * `max_doc_id` watermark maintained by build/update and persisted with
    * the index; every probe checks the RAW increment once against the
    * composed watermark, and every fold `require`s each half's increment
    * ids strictly above its own — so a violating increment fails loudly
    * instead of silently rewriting emitted corpus text.
    */
  final case class CleanIndex(para: ParagraphDedup.ParagraphIndex,
      substr: Dedup.ExactSubstrIndex, joiner: String) {
    /** The composed index's watermark — the largest among its halves (the
      * paragraph half's, which sees every raw corpus id; the substring
      * half's may sit lower when the largest absorbed doc emitted no
      * cleaned text).
      */
    def maxDocId: Long = math.max(para.maxDocId, substr.maxDocId)
    /** Retire the NEWEST handle: a fold shares both halves' segments with
      * the handle it came from, so a superseded handle is never retired
      * (see [[SegmentStore]] on ownership).
      */
    def unpersist(): Unit = { para.unpersist(); substr.unpersist() }
  }

  /** Build both stages' corpus-side state once; probe per increment with
    * [[incrementalCleanCorpus]], fold shipped increments forward with
    * [[updateCleanIndex]]. The substring index is built over the CLEANED
    * corpus (one batch paragraph pass — the same pass that produced the
    * corpus the lake actually stores).
    */
  def buildCleanIndex(corpus: DataFrame,
      sepRegex: String = ParagraphDedup.ParagraphSep,
      joiner: String = "\n\n", minLen: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): CleanIndex = {
    // index + cleaned corpus from ONE unit substrate/aggregate (building
    // them separately re-derived the corpus unit table and re-ran the
    // same per-fp aggregate — a full corpus pass + exchange for nothing)
    val (para, kept, releasePara) = ParagraphDedup.buildParagraphIndexAndDedup(
      corpus, sepRegex, idCol, textCol)
    val cleaned = rejoinKept(kept, joiner)
    // the substring half inherits the paragraph half's watermark rather
    // than re-computing max(id) over `cleaned` — the cleaned corpus is a
    // derived chain, and an eager max over it would cost a full extra
    // stage-1 pass for a number the raw side already knows
    try {
      val substr = Dedup.exactSubstrIndexAt(cleaned, minLen, para.maxDocId)
      // materialize the gram aggregate OFF the substrate-riding emission
      // before releasing it: the base persist is lazy, and deferring it to
      // the first probe would re-derive the whole stage-1 chain from
      // scratch (the build pays it here either way — the probe follows
      // immediately in every deployment of this entry); the count seeds
      // the compaction threshold for free
      CleanIndex(para, substr.copy(store = substr.store.counted()), joiner)
    } finally releasePara()
  }

  /** Persist a composed [[CleanIndex]] — both halves' segment layouts
    * plus a meta table pinning the joiner, mirroring
    * [[writeFullCleanIndex]] for the two-stage chain.
    */
  def writeCleanIndex(index: CleanIndex, dir: String): Unit = {
    ParagraphDedup.writeParagraphIndex(index.para, s"$dir/para")
    Dedup.writeExactSubstrIndex(index.substr, s"$dir/substr")
    val spark = index.para.store.base.sparkSession
    import spark.implicits._
    Seq(index.joiner).toDF("joiner")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Reload a disk-persisted [[writeCleanIndex]] layout; each half caches
    * clustered on its probe key (see the halves' own readers).
    */
  def readCleanIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): CleanIndex =
    CleanIndex(
      ParagraphDedup.readParagraphIndex(spark, s"$dir/para"),
      Dedup.readExactSubstrIndex(spark, s"$dir/substr"),
      spark.read.parquet(s"$dir/meta").head.getAs[String]("joiner"))

  /** INCREMENTAL composed cleanup — the daily-crawl twin of
    * [[cleanCorpus]]: the increment is paragraph-deduped against the unit
    * index (exactly batch-equal, P57), re-joined canonically, and
    * substring-probed against the cleaned-corpus gram index (exactly
    * batch-equal, P52). Under the monotone-id contract the composition is
    * itself exactly batch-equal: running [[cleanCorpus]] over
    * corpus ∪ increment and restricting to increment docs yields these
    * rows bit-for-bit (pinned by the `p_incremental_clean_pipeline`
    * oracle and `CleanPipelineSpec`).
    */
  def incrementalCleanCorpus(incoming: DataFrame, index: CleanIndex,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalCleanCorpusWithCleaned(incoming, index, idCol, textCol)._1

  /** [[incrementalCleanCorpus]] plus the CHECKPOINTED cleaned increment
    * (the stage-1 hand-off) — for callers that also fold the index (the
    * streaming twin), so the paragraph probe + re-join runs ONCE per
    * micro-batch instead of once for the sink and again for the fold.
    */
  private[graft] def incrementalCleanCorpusWithCleaned(incoming: DataFrame,
      index: CleanIndex, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    // increment-sized, consumed twice by stage 2 (substrate + emission)
    // and once more by a folding caller: checkpoint once — cheap at any
    // scale, same rationale as the batch form's stage hand-off.
    // The kept-unit emission rides the persisted increment substrate
    // (§6 derive-once — the checkpoint right here is what makes it eager)
    val (kept, release) = ParagraphDedup.incrementalDedupUnitsOnSubstrate(
      incoming, index.para, index.maxDocId, idCol, textCol)
    val cleanedInc =
      try rejoinKept(kept, index.joiner).localCheckpoint()
      finally release()
    (Dedup.incrementalSpansUnchecked(cleanedInc, index.substr), cleanedInc)
  }

  /** Fold a shipped increment into both halves: the paragraph index folds
    * over the RAW increment (its state is pre-clean unit fingerprints),
    * the substring index over the CLEANED increment (its state mirrors
    * the cleaned lake) — cleaned against the CURRENT paragraph index,
    * before that index absorbs the increment. Returns a NEW index sharing
    * both halves' segments with `index`, so the old handle needs no
    * retiring.
    */
  def updateCleanIndex(index: CleanIndex, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): CleanIndex =
    updateCleanIndexWith(index, incoming,
      rejoinKept(
        ParagraphDedup.incrementalDedupUnits(incoming, index.para, idCol, textCol),
        index.joiner),
      idCol, textCol)

  /** [[updateCleanIndex]] with a caller-supplied cleaned increment — the
    * other half of the derive-once contract
    * ([[incrementalCleanCorpusWithCleaned]]): the streaming twin hands the
    * checkpointed stage-1 output to both the sink path and this fold.
    * `cleanedInc` MUST be the increment cleaned against the CURRENT
    * paragraph index with this index's joiner.
    */
  private[graft] def updateCleanIndexWith(index: CleanIndex,
      incoming: DataFrame, cleanedInc: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): CleanIndex =
    CleanIndex(
      ParagraphDedup.updateParagraphIndex(index.para, incoming, idCol, textCol),
      Dedup.updateExactSubstrIndex(index.substr, cleanedInc),
      index.joiner)

  // ---- Incremental FULL chain (doc-level stage included) ---------------

  /** The corpus-side state of the INCREMENTAL full cleanup chain
    * ([[fullCleanCorpus]]'s daily-crawl form): the paragraph unit index,
    * the near-dup LSH index over ALL cleaned-corpus representatives
    * (losers included — an increment doc whose only contact is a dropped
    * corpus duplicate is still corpus-represented content and must not
    * resurrect it), and the substring gram index over the corpus
    * SURVIVORS' cleaned text (stage 3 of the batch chain never counts
    * occurrences inside discarded documents, so its index must not
    * either). `threshold` rides along so a probe can never verify with a
    * mismatched cut.
    *
    * KEEPER POLICY — FIRST-INGESTED (min id), not quality keep-best, and
    * necessarily so: an incremental deployment has already emitted its
    * survivors, and a later, higher-quality near-duplicate cannot retract
    * shipped training data. Quality-based keep-best is therefore
    * inherently a BATCH (per-epoch re-run) policy — [[fullCleanCorpus]]'s
    * `quality` parameter — while the incremental form freezes the corpus:
    * an increment doc with ANY corpus contact (exact fingerprint or
    * verified near-dup, against any indexed rep) is dropped, and
    * increment-internal clusters keep their smallest id.
    *
    * BATCH EQUALITY: under the monotone-id contract (enforced via the
    * halves' [[IdContract]] watermarks), increment output is exactly
    * `fullCleanCorpus(corpus ∪ increment, quality = lit(0))` restricted to
    * increment ids — UNLESS the increment BRIDGES two distinct corpus
    * near-dup clusters (one increment doc verifying ≥ threshold against
    * members of both). A bridge merges the corpus clusters, and the batch
    * run would retro-drop one already-emitted corpus keeper — exactly the
    * retraction an incremental deployment cannot perform; this form keeps
    * the frozen corpus and both oracles pin THESE semantics
    * (`CleanPipelineSpec` pins the no-bridge equality and documents the
    * bridge divergence explicitly).
    */
  final case class FullCleanIndex(para: ParagraphDedup.ParagraphIndex,
      nearDup: Dedup.NearDupIndex, substr: Dedup.ExactSubstrIndex,
      corpusFps: DataFrame, joiner: String, threshold: Double) {
    /** The composed watermark — the largest among the three halves. */
    def maxDocId: Long =
      Seq(para.maxDocId, nearDup.maxDocId, substr.maxDocId).max
    def unpersist(): Unit = {
      retireSuperseded(); para.unpersist(); substr.unpersist()
    }
    /** Retire this handle once a fold has superseded it: the near-dup
      * index and the fingerprint set, which a fold rebuilds — the
      * paragraph and substring halves share their segments with the folded
      * index (see [[SegmentStore]] on ownership).
      */
    def retireSuperseded(): Unit = {
      nearDup.unpersist(); corpusFps.unpersist(blocking = false)
    }
  }

  /** Build the corpus-side [[FullCleanIndex]] once; probe per increment
    * with [[incrementalFullClean]], fold shipped increments forward with
    * [[updateFullCleanIndex]]. The build runs the batch chain's corpus
    * legs exactly once: one paragraph pass, one signature chain (shared
    * between the LSH index and the corpus's own cluster resolution via
    * [[Dedup.nearDupPairsFromIndex]]), one gram pass over the survivors.
    */
  def buildFullCleanIndex(corpus: DataFrame,
      sepRegex: String = ParagraphDedup.ParagraphSep,
      joiner: String = "\n\n", minLen: Int = 20,
      shingleK: Int = 5, nHashes: Int = 18, rowsPerBand: Int = 6,
      threshold: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text"): FullCleanIndex = {
    // index + cleaned corpus from ONE unit substrate/aggregate (same
    // derive-once rationale as buildCleanIndex); the eager cleaned-corpus
    // checkpoint is what lets the emission ride the substrate, released
    // right here
    val (para, kept, releasePara) = ParagraphDedup.buildParagraphIndexAndDedup(
      corpus, sepRegex, idCol, textCol)
    val cleaned =
      try rejoinKept(kept, joiner).localCheckpoint()
      finally releasePara()
    val nd = Dedup.buildNearDupIndex(cleaned, shingleK, nHashes, rowsPerBand)
    // corpus-internal resolution, min-id keepers: losers are exactly the
    // non-label members of their connected component
    val losers = Dedup.dupClusters(Dedup.nearDupPairsFromIndex(nd, threshold))
      .filter(col("v") =!= col("lbl"))
      .select(col("v").as("doc_id"))
      .localCheckpoint()
    val survivors = nd.docStore.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // the cleaned corpus's exact-fingerprint SET (8 bytes/rep — the probe's
    // shorter-than-shingle exact-contact check must not re-hash the
    // corpus-sized doc store per increment). The doc store holds one rep
    // per fingerprint, so no distinct is needed.
    val fps = nd.docStore
      .select(TextPipeline.fingerprint(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    FullCleanIndex(para, nd,
      Dedup.exactSubstrIndexAt(survivors, minLen, para.maxDocId),
      fps, joiner, threshold)
  }

  /** Persist a [[FullCleanIndex]] to `dir` as parquet — the cross-restart
    * half of the daily-crawl story, composing the halves' own writers
    * (paragraph unit segments, near-dup doc store and bands, survivor gram
    * segments), the fingerprint set, and a meta table pinning the joiner
    * and verify threshold so a reloaded probe can never re-join or verify
    * with a mismatched scheme. Every table is written in its own
    * partitioning (file counts follow the session's parallelism); the
    * readers cluster each probed table into their caches. Watermarks ride
    * in each half's own meta.
    */
  def writeFullCleanIndex(index: FullCleanIndex, dir: String): Unit = {
    ParagraphDedup.writeParagraphIndex(index.para, s"$dir/para")
    Dedup.writeNearDupIndex(index.nearDup, s"$dir/neardup")
    Dedup.writeExactSubstrIndex(index.substr, s"$dir/substr")
    index.corpusFps.write.mode("overwrite").parquet(s"$dir/fps")
    val spark = index.corpusFps.sparkSession
    import spark.implicits._
    Seq((index.joiner, index.threshold)).toDF("joiner", "threshold")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Reload a disk-persisted index ([[writeFullCleanIndex]]) in a fresh
    * session; every half persists lazily, so the first probe pays the
    * parquet scans.
    */
  def readFullCleanIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): FullCleanIndex = {
    val meta = spark.read.parquet(s"$dir/meta").head
    FullCleanIndex(
      ParagraphDedup.readParagraphIndex(spark, s"$dir/para"),
      Dedup.readNearDupIndex(spark, s"$dir/neardup"),
      Dedup.readExactSubstrIndex(spark, s"$dir/substr"),
      // clustered on fp before caching so each increment's anti-join
      // streams the corpus fp set instead of re-exchanging it per probe
      spark.read.parquet(s"$dir/fps")
        .repartition(spark.sessionState.conf.numShufflePartitions, col("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      meta.getAs[String]("joiner"), meta.getAs[Double]("threshold"))
  }

  /** One increment's full probe — pieces plus the two intermediates a
    * folding caller ([[updateFullCleanIndex]], the streaming twin) needs,
    * so nothing is derived twice: the checkpointed cleaned increment and
    * the checkpointed increment survivors.
    */
  private[graft] case class FullCleanProbe(pieces: DataFrame,
      cleanedInc: DataFrame, survivors: DataFrame)

  private[graft] def fullCleanProbe(incoming: DataFrame, index: FullCleanIndex,
      idCol: String, textCol: String): FullCleanProbe = {
    // stage 1: paragraph-probe + canonical re-join; the paragraph probe
    // checks the raw increment against the composed watermark, the one
    // check of this probe. Checkpointed — consumed by the rep collapse.
    // Emission rides the persisted increment substrate (§6 derive-once)
    val (kept, release) = ParagraphDedup.incrementalDedupUnitsOnSubstrate(
      incoming, index.para, index.maxDocId, idCol, textCol)
    val cleanedInc =
      try rejoinKept(kept, index.joiner).localCheckpoint()
      finally release()
    // stage 2a: exact-dup collapse WITHIN the increment (min-id rep)
    val incReps = Dedup.collapseReps(cleanedInc).localCheckpoint()
    // exact contact with ANY indexed rep — covers documents shorter than
    // the shingle width, which never band and so can never near-dup-match
    val exactHit = incReps
      .select(col("doc_id"), TextPipeline.fingerprint(col("text")).as("fp"))
      .join(index.corpusFps, Seq("fp"), "left_semi")
      .select(col("doc_id").cast("long").as("v"))
    // cross-side near-dup contact against the frozen corpus index AND
    // increment-internal pairs, from ONE increment signature chain + one
    // fused verify (the two separate entries re-ran the signature kernel
    // and the verify aggregates twice over the same increment)
    val pf = Dedup.incNearDupProbeFrames(incReps, index.nearDup,
      index.threshold)
    val (cross, internal) = (pf.cross, pf.internal)
    val clusters = Dedup.dupClusters(internal)
    // survival: a rep survives iff its internal cluster (singleton when
    // unpaired) has NO corpus contact and the rep is the cluster min —
    // exactly the union-CC verdict under monotone ids (any corpus contact
    // puts a smaller-than-increment id in the union cluster)
    val labeled = incReps.select(col("doc_id").cast("long").as("v"))
      .join(clusters, Seq("v"), "left")
      .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
    val contactedLbls = labeled
      .join(exactHit.unionByName(cross.select(col("d1").cast("long").as("v")))
        .distinct(), Seq("v"), "left_semi")
      .select("lbl").distinct()
    val losers = labeled.filter(col("v") =!= col("lbl")).select("v")
      .unionByName(labeled.join(contactedLbls, Seq("lbl"), "left_semi")
        .select("v"))
      .distinct()
      .select(col("v").as("doc_id"))
      .localCheckpoint()
    val survivors = incReps.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // stage 3: substring-probe against the corpus-survivor gram index
    FullCleanProbe(
      Dedup.incrementalSpansUnchecked(survivors, index.substr),
      cleanedInc, survivors)
  }

  /** INCREMENTAL full cleanup — [[fullCleanCorpus]]'s daily-crawl twin
    * under the frozen-corpus, first-ingested-keeper semantics documented
    * on [[FullCleanIndex]]. Emits the increment's surviving pieces.
    */
  def incrementalFullClean(incoming: DataFrame, index: FullCleanIndex,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    fullCleanProbe(incoming, index, idCol, textCol).pieces

  /** Fold a shipped increment into all three halves: paragraph index over
    * the RAW increment, near-dup index over the CLEANED increment (ALL
    * its reps — losers stay probe-visible, as in the build), substring
    * index over the increment SURVIVORS (stage 3's substrate is surviving
    * text only). Returns a NEW persisted index; retire the old one with
    * [[FullCleanIndex.retireSuperseded]] once the swap is durable.
    */
  def updateFullCleanIndex(index: FullCleanIndex, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): FullCleanIndex =
    updateFullCleanIndexWith(index, incoming,
      fullCleanProbe(incoming, index, idCol, textCol), idCol, textCol)

  /** [[updateFullCleanIndex]] with the probe already in hand — the
    * derive-once contract for callers that sink and fold the same batch
    * (the streaming twin).
    */
  private[graft] def updateFullCleanIndexWith(index: FullCleanIndex,
      incoming: DataFrame, probe: FullCleanProbe,
      idCol: String, textCol: String): FullCleanIndex = {
    // the fp SET folds by ANTI-JOIN APPEND, not union-distinct: distinct
    // over (corpus ∪ increment) re-shuffles and re-aggregates the whole
    // index-sized set on EVERY daily fold, while the append side is
    // increment-sized — the corpus set streams through the join probe
    // unchanged (a reloaded set is cached clustered on fp, see
    // readFullCleanIndex). Set semantics are identical: the increment's
    // distinct fps minus those already present, appended. FOLDPROBE.json
    // carries the measured decade rows for this shape.
    val incFps = probe.cleanedInc
      .select(TextPipeline.fingerprint(col(textCol)).as("fp"))
      .distinct()
    FullCleanIndex(
      ParagraphDedup.updateParagraphIndex(index.para, incoming, idCol, textCol),
      Dedup.updateNearDupIndex(index.nearDup, probe.cleanedInc),
      Dedup.updateExactSubstrIndex(index.substr, probe.survivors),
      index.corpusFps
        .unionByName(incFps.join(index.corpusFps, Seq("fp"), "left_anti"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      index.joiner, index.threshold)
  }
}
