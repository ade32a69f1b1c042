package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.Det

/** Sub-document (paragraph / line) exact deduplication — the unit-level
  * pass real large-corpus pipelines run BEFORE any document-level dedup
  * (CCNet dedups normalized paragraphs across shards; C4 removes repeated
  * lines; RefinedWeb runs both before MinHash): split every document into
  * units on a separator regex (paragraphs: blank-line runs; lines: `\n`),
  * fingerprint each unit's whitespace-normalized form (the exact-dedup
  * recipe — `TextPipeline.fingerprint`, md5₆₀ of the trimmed,
  * space-collapsed lowercase), and cut every occurrence of a duplicated
  * fingerprint EXCEPT the first in `(doc_id, unit_idx)` order — the same
  * keeper discipline as the exact-substring removal family (one canonical
  * copy always survives). Whitespace-only units normalize to the empty
  * string and are NEVER cut: they are document structure, not content
  * (removing "all duplicate blank lines" would concatenate every
  * paragraph of the corpus).
  *
  * Unit boundaries are CHARACTER-coordinate exact: the split pieces and
  * the separator matches interleave as `p₀ s₀ p₁ s₁ … pₙ`, so one
  * row-local fold over the (piece, separator) length pairs yields each
  * unit's 0-based inclusive `[char_st, char_en]` span in the ORIGINAL
  * text — kept units re-emit verbatim original bytes (case, interior
  * whitespace, punctuation), never a re-join of normalized tokens.
  *
  * Scale shape (100 TB): the split, the coordinate fold and the
  * fingerprint are row-local (no explode wider than the doc's own unit
  * count, no corpus-scale sort); the only wide stages are ONE map-side-
  * combinable per-fingerprint aggregate `(count, min(doc, idx))` whose
  * ≥ 2 survivors — the dup set, a small corpus fraction — are
  * checkpointed, and one equi-join of unit rows against that small set
  * (broadcasts under AQE). The cut table checkpoints per-AFFECTED-doc
  * counts only; the emission tail is a single fresh scan + two small
  * joins, lazy and row-local, so a 100 TB run streams straight to its
  * sink. No all-pairs stage, no per-key window; the hottest boilerplate
  * paragraph in the corpus costs one long-keyed combiner slot per task.
  */
object ParagraphDedup {

  /** Default paragraph separator: runs of ≥ 2 consecutive newlines —
    * PURE newline runs only. A "blank" line that contains horizontal
    * whitespace (`"\n \n"`) is NOT a paragraph break under this default;
    * callers wanting the tolerant blank-line notion pass their own
    * separator, e.g. `"\n[\t ]*(?:\n[\t ]*)+"` (still never
    * empty-matching, as [[unitSpans]] requires).
    */
  val ParagraphSep: String = "\n{2,}"

  /** Line separator for per-line dedup. Spans come from the native
    * one-scan kernel (O(units) per document — see [[unitSpans]]), so a
    * single document with hundreds of thousands of lines costs linear
    * row-local work; only CUSTOM separator regexes fall back to the
    * quadratic fold ([[unitSpansHof]]).
    */
  val LineSep: String = "\n"

  /** Character spans of the separator-split units of `text`, as
    * `array<struct<st:bigint, en:bigint>>` (0-based, inclusive; an empty
    * piece — leading/trailing/adjacent separators — has `en = st - 1`).
    * The two SHIPPED separators ([[ParagraphSep]]/[[LineSep]]) dispatch to
    * the native one-scan kernel [[graft.functions.NewlineUnitSpans]] —
    * O(units) per document, closing the fold's O(units²) `array_append`
    * copying that made single documents with tens of thousands of LINES
    * quadratic (the round-12 ADVICE caveat); custom separator regexes take
    * the generic fold ([[unitSpansHof]]), which remains the definition the
    * kernel is spec-pinned against.
    */
  private[graft] def unitSpans(text: Column, sepRegex: String): Column =
    sepRegex match {
      case ParagraphSep =>
        graft.functions.NewlineUnitSpans.newlineUnitSpans(text, 2)
      case LineSep =>
        graft.functions.NewlineUnitSpans.newlineUnitSpans(text, 1)
      case _ => unitSpansHof(text, sepRegex)
    }

  /** The generic regex form of [[unitSpans]] — `split` gives the pieces,
    * `regexp_extract_all` the separator matches (exactly
    * `size(pieces) - 1` of them, in order, by the interleave identity),
    * and one fold accumulates the char cursor. `sepRegex` MUST NOT match
    * the empty string (the interleave identity breaks; `split` and
    * `regexp_extract_all` would disagree on bounds). O(units²) per row —
    * the fold's accumulator array is copied per step — which is fine at
    * paragraph granularity and the reason the shipped separators take the
    * native kernel instead.
    */
  private[graft] def unitSpansHof(text: Column, sepRegex: String): Column = {
    val pieces = split(text, sepRegex, -1)
    val seps = regexp_extract_all(text, lit(sepRegex), lit(0))
    val emptyArr = array().cast("array<struct<st:bigint,en:bigint>>")
    val lens = zip_with(pieces, concat(seps, array(lit(""))),
      (p, s) => struct(length(p).cast("long").as("pl"),
        length(s).cast("long").as("sl")))
    aggregate(
      lens,
      struct(emptyArr.as("arr"), lit(0L).as("cur")),
      (a, x) => struct(
        array_append(a.getField("arr"),
          struct(a.getField("cur").as("st"),
            (a.getField("cur") + x.getField("pl") - 1L).as("en"))).as("arr"),
        (a.getField("cur") + x.getField("pl") + x.getField("sl")).as("cur")),
      a => a.getField("arr"))
  }

  /** One row per unit: `(doc_id, idx, st, en, utext, fp, blank)` — `idx`
    * the 0-based unit index, `[st, en]` the original-char span, `utext`
    * the verbatim original slice, `fp` the normalized-form fingerprint,
    * `blank` true when the unit normalizes to the empty string (fp is
    * meaningless there and the unit is exempt from dedup). Row-local.
    */
  private[graft] def unitTable(docs: DataFrame, sepRegex: String,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(unitSpans(col("t"), sepRegex)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col.st").as("st"), col("col.en").as("en"),
        col("t").substr((col("col.st") + 1L).cast("int"),
          (col("col.en") - col("col.st") + 1L).cast("int")).as("utext"))
      .withColumn("norm", TextPipeline.normalize(col("utext")))
      .withColumn("blank", col("norm") === lit(""))
      .withColumn("fp", Det.md5Hash60(col("norm")))
      .drop("norm")

  /** The lazy internals, exposed for plan-quality tests: `base` is the
    * persisted unit table; `dupSet` the lazy `(fp, keeper)` set of
    * duplicated non-blank fingerprints; `cuts` the lazy per-affected-doc
    * cut counts. The public entries checkpoint `dupSet`/`cuts` eagerly
    * (small) and release `base`.
    */
  private[graft] case class ParagraphFrames(
      base: DataFrame, dupSet: DataFrame, cuts: DataFrame)

  private[graft] def paragraphFrames(docs: DataFrame, sepRegex: String,
      idCol: String, textCol: String): ParagraphFrames = {
    require(sepRegex.nonEmpty, "separator regex must be non-empty")
    // unit split + fingerprint feed TWO consumers (the dup-set aggregate
    // and the cut probe); persisting the unit table collapses that to one
    // split/md5 pass — same fan-out rationale as the removal family's
    // token substrate.
    val base = unitTable(docs, sepRegex, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ≥ 2 occurrences corpus-wide (within-doc repeats count — a doc
    // repeating its own boilerplate paragraph is C4's own motivating
    // case); keeper = first occurrence in (doc_id, idx) order. Map-side
    // combinable; the dup set is a small corpus fraction, so the probe
    // join broadcasts under AQE.
    val dupSet = fpAgg(base)
      .filter(col("nocc") >= 2)
      .select("fp", "keeper")
    ParagraphFrames(base, dupSet, cutCounts(base, dupSet))
  }

  /** Per-affected-doc removed-unit counts `(doc_id, cut_units)` — the ONE
    * cut derivation both public entries read (the emission path re-derives
    * it over the CHECKPOINTED dup set so the probe join rides the
    * checkpoint, not the lazy aggregate).
    */
  private def cutCounts(units: DataFrame, dupSet: DataFrame): DataFrame =
    units.filter(!col("blank"))
      .join(dupSet, Seq("fp"))
      .filter(struct(col("doc_id"), col("idx")) =!= col("keeper"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("cut_units"))

  /** Per-document dedup profile: `(doc_id, n_units, n_dup_units,
    * n_cut_units, kept_units)` — `n_dup_units` counts every occurrence of
    * a duplicated fingerprint (keepers included), `n_cut_units` the
    * non-keeper occurrences a [[dedupUnits]] pass would remove,
    * `kept_units = n_units − n_cut_units`. Blank units count in `n_units`
    * only. One row per input doc (zeros for unit-free docs).
    */
  def unitDedupProfile(docs: DataFrame, sepRegex: String = ParagraphSep,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val f = paragraphFrames(docs, sepRegex, idCol, textCol)
    // ONE pass over the persisted base: per-doc unit counts and dup/cut
    // verdicts together, checkpointed small (one narrow row per doc);
    // finally: a failed job must not leak the persisted unit table
    val perDoc =
      try {
        f.base
          .join(f.dupSet, Seq("fp"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_units"),
            sum(when(col("keeper").isNotNull && !col("blank"), 1L)
              .otherwise(0L)).as("n_dup_units"),
            sum(when(col("keeper").isNotNull && !col("blank") &&
                struct(col("doc_id"), col("idx")) =!= col("keeper"), 1L)
              .otherwise(0L)).as("n_cut_units"))
          .localCheckpoint()
      } finally f.base.unpersist(blocking = false)
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_units", "n_dup_units", "n_cut_units"))
      .withColumn("kept_units", col("n_units") - col("n_cut_units"))
  }

  /** Cleaned-corpus emission: one row per KEPT unit —
    * `(doc_id, unit_idx, char_st, char_en, cut_units, text)` with `text`
    * the VERBATIM original slice (original case/whitespace/punctuation),
    * `[char_st, char_en]` its 0-based inclusive character span in the
    * source document, and `cut_units` the doc-level count of removed
    * units (0 for untouched docs). Kept = not a non-keeper occurrence of
    * a duplicated fingerprint; blank units are always kept. Docs with no
    * units (empty text still yields one empty unit) emit their units
    * unchanged.
    *
    * The dup set and the per-affected-doc cut counts are checkpointed
    * small; the emission tail is a fresh row-local unit scan + two
    * equi-joins against them — lazy, so a 100 TB run streams to its sink.
    */
  def dedupUnits(docs: DataFrame, sepRegex: String = ParagraphSep,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val f = paragraphFrames(docs, sepRegex, idCol, textCol)
    // dupSet first (cuts derives from it): both eager, then release the
    // substrate; finally-chain so a failure at either checkpoint still
    // unpersists
    val (dupSet, cuts) =
      try {
        val d = f.dupSet.localCheckpoint()
        val c = cutCounts(f.base, d).localCheckpoint()
        (d, c)
      } finally f.base.unpersist(blocking = false)
    emitKept(docs, sepRegex, idCol, textCol, dupSet, cuts)
  }

  /** The shared kept-unit emission tail: one fresh row-local unit scan,
    * one fp-keyed left join against the (small, eager) dup set, one
    * doc_id-keyed join against the (small, eager) cut counts — lazy, so a
    * 100 TB run streams straight to its sink.
    */
  private def emitKept(docs: DataFrame, sepRegex: String, idCol: String,
      textCol: String, dupSet: DataFrame, cuts: DataFrame): DataFrame =
    emitKeptFromUnits(unitTable(docs, sepRegex, idCol, textCol), dupSet, cuts)

  /** [[emitKept]]'s join/filter/projection tail over an already-derived
    * unit table — the substrate-riding form the fused entries use so a
    * MATERIALIZING caller never re-derives the unit split/normalize/md5
    * pass (or the caller's own input fixture) a second time.
    */
  private def emitKeptFromUnits(units: DataFrame, dupSet: DataFrame,
      cuts: DataFrame): DataFrame =
    units
      .join(dupSet, Seq("fp"), "left")
      .filter(col("keeper").isNull || col("blank") ||
        struct(col("doc_id"), col("idx")) === col("keeper"))
      .join(cuts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("cut_units"))
      .select(col("doc_id"), col("idx").as("unit_idx"),
        col("st").as("char_st"), col("en").as("char_en"),
        col("cut_units"), col("utext").as("text"))

  /** [[dedupUnits]] whose kept-unit emission READS the persisted unit
    * substrate instead of a fresh corpus scan — for callers that
    * MATERIALIZE the emission promptly (the composed batch chains, which
    * checkpoint/persist the cleaned corpus immediately): the substrate is
    * already persisted for the dup-set and cut aggregates, so riding it
    * saves one full unit split/normalize/md5 pass AND one derivation of
    * the caller's input chain, for zero extra persistence (§6
    * derive-once). Returns the kept-unit frame plus a RELEASE thunk the
    * caller MUST invoke once the emission is materialized — until then
    * the substrate stays persisted (which is why the public lazy
    * [[dedupUnits]] keeps its fresh-scan tail: its emission may be
    * consumed arbitrarily late, and a 100 TB stream-to-sink run must not
    * pin a corpus-sized cache for its whole duration). Value-identical to
    * [[dedupUnits]] (same dup set, same cuts, same tail over the same
    * unit rows).
    */
  private[graft] def dedupUnitsOnSubstrate(docs: DataFrame,
      sepRegex: String = ParagraphSep, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, () => Unit) = {
    val f = paragraphFrames(docs, sepRegex, idCol, textCol)
    val kept =
      try {
        val d = f.dupSet.localCheckpoint()
        val c = cutCounts(f.base, d).localCheckpoint()
        emitKeptFromUnits(f.base, d, c)
      } catch {
        case t: Throwable => f.base.unpersist(blocking = false); throw t
      }
    (kept, () => f.base.unpersist(blocking = false))
  }

  // ---- Incremental (daily-crawl) form --------------------------------

  /** A pre-built unit-fingerprint index — the sub-document analogue of
    * [[graft.pipeline.Dedup.ExactSubstrIndex]], on the same
    * [[SegmentStore]], and the corpus-side state of INCREMENTAL
    * paragraph/line dedup: one row per distinct NON-BLANK unit fingerprint
    * of the corpus, `(fp, nocc, keeper: struct<doc_id, idx>)`.
    * Fingerprints with `nocc = 1` are KEPT — a corpus-unique paragraph
    * becomes duplicated the moment a crawl repeats it (tens of bytes per
    * corpus unit: one row per distinct PARAGRAPH, not per token window).
    * `sepRegex` rides along so a probe can never split with a mismatched
    * unit notion; `maxDocId` is the [[IdContract]] watermark every
    * probe/fold `require`s increment ids strictly above
    * ([[IdContract.Unwatermarked]] — the one-shot convenience overload's
    * mode — disables it).
    */
  final case class ParagraphIndex(store: SegmentStore, sepRegex: String,
      maxDocId: Long = IdContract.Unwatermarked) {
    def unpersist(): Unit = store.unpersist()
  }

  /** The key column of the unit-fingerprint [[SegmentStore]]. */
  private val FpKey = Seq("fp")

  /** The per-fingerprint `(nocc, keeper)` aggregate of one corpus side —
    * the map-side-combinable build step shared by [[buildParagraphIndex]],
    * [[updateParagraphIndex]] and the probe's increment-side aggregate.
    * Blank units never enter the index (they are exempt from dedup).
    */
  private def unitFpAgg(docs: DataFrame, sepRegex: String,
      idCol: String, textCol: String): DataFrame =
    fpAgg(unitTable(docs, sepRegex, idCol, textCol))

  /** [[SegmentStore.aggregate]] over a unit table's non-blank units. */
  private def fpAgg(units: DataFrame, prefix: String = ""): DataFrame =
    SegmentStore.aggregate(units.filter(!col("blank")), FpKey, "idx", prefix)

  /** Build the corpus-side [[ParagraphIndex]] once; probe it per increment
    * with [[incrementalDedupUnits]], fold each shipped increment into it
    * with [[updateParagraphIndex]].
    */
  def buildParagraphIndex(corpus: DataFrame, sepRegex: String = ParagraphSep,
      idCol: String = "doc_id", textCol: String = "text"): ParagraphIndex = {
    require(sepRegex.nonEmpty, "separator regex must be non-empty")
    ParagraphIndex(
      SegmentStore.of(FpKey, unitFpAgg(corpus, sepRegex, idCol, textCol)),
      sepRegex, IdContract.maxId(corpus, idCol))
  }

  /** [[buildParagraphIndex]] and [[dedupUnits]] over THE SAME corpus from
    * ONE substrate — the entry the composed index builds
    * ([[graft.pipeline.CleanPipeline.buildCleanIndex]] /
    * `buildFullCleanIndex`) use. Calling the two public entries separately
    * derives the corpus unit table twice and runs the per-fp aggregate
    * twice (the index aggregate and the dup-set aggregate are the same
    * `groupBy(fp).agg(count, min(keeper))` over the same units); here the
    * unit table is derived and persisted once, the aggregate runs once and
    * becomes BOTH the index and (its `nocc >= 2` slice) the dup set — one
    * full unit split/normalize/md5 pass and one corpus-sized exchange
    * saved per build, at every scale. The kept-unit emission RIDES the
    * persisted substrate (the composed builds all materialize the cleaned
    * corpus promptly, so a fresh-scan tail would re-derive the unit table
    * AND the caller's input fixture once more for nothing — the same §6
    * derive-once as [[dedupUnitsOnSubstrate]]); the caller MUST invoke the
    * returned release thunk once the emission is materialized. The index
    * is eagerly materialized (it must outlive the released substrate).
    * Value-identical to the two separate entries (pinned in
    * ParagraphDedupSpec).
    */
  private[graft] def buildParagraphIndexAndDedup(corpus: DataFrame,
      sepRegex: String = ParagraphSep, idCol: String = "doc_id",
      textCol: String = "text"): (ParagraphIndex, DataFrame, () => Unit) = {
    require(sepRegex.nonEmpty, "separator regex must be non-empty")
    val base = unitTable(corpus, sepRegex, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (index, kept) =
      try {
        val units = fpAgg(base).persist(StorageLevel.MEMORY_AND_DISK)
        // materialize the index OFF the substrate before the caller
        // releases it — a lazy persist would re-derive the unit table on
        // first use; the count seeds the compaction threshold for free
        val n = units.count()
        val d = units.filter(col("nocc") >= 2).select("fp", "keeper")
          .localCheckpoint()
        val c = cutCounts(base, d).localCheckpoint()
        (ParagraphIndex(SegmentStore(FpKey, units, n), sepRegex,
          IdContract.maxId(corpus, idCol)),
          emitKeptFromUnits(base, d, c))
      } catch {
        case t: Throwable => base.unpersist(blocking = false); throw t
      }
    (index, kept, () => base.unpersist(blocking = false))
  }

  /** Fold an increment into the index in O(increment): its per-fp
    * `(nocc, keeper)` aggregate is appended as one delta segment
    * ([[SegmentStore.append]]) — occurrence counts ADD and keepers MIN on
    * read, because both are fingerprint-wise monoid aggregates of the
    * union corpus. Returns a NEW index sharing the input's segments. Like
    * the substring index (and unlike the near-dup rep store), the COUNT
    * half is not idempotent: re-folding the same increment inflates
    * `nocc` — keepers stay exact, so cut GEOMETRY survives a replay, but
    * a unit unique to the replayed increment then reads as duplicated.
    * Replays and non-monotone ids are REJECTED mechanically when the index
    * is watermarked: the fold `require`s every increment id strictly above
    * `maxDocId` and advances the watermark ([[IdContract]]).
    */
  def updateParagraphIndex(index: ParagraphIndex, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): ParagraphIndex = {
    val wm = IdContract.requireAboveAndAdvance(incoming, idCol,
      index.maxDocId, "updateParagraphIndex")
    ParagraphIndex(index.store.append(
      unitFpAgg(incoming, index.sepRegex, idCol, textCol)), index.sepRegex, wm)
  }

  /** Persist a [[ParagraphIndex]] in the [[SegmentStore.write]] layout,
    * `meta/` pinning the separator regex and the [[IdContract]] watermark.
    */
  def writeParagraphIndex(index: ParagraphIndex, dir: String): Unit =
    SegmentStore.write(index.store, dir,
      Seq(lit(index.sepRegex).as("sep_regex"),
        lit(index.maxDocId).as("max_doc_id")))

  /** Reload a [[writeParagraphIndex]] dir ([[SegmentStore.read]]); a dir
    * in the retired `units/` layout fails with a rebuild error.
    */
  def readParagraphIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): ParagraphIndex = {
    val (store, meta) = SegmentStore.read(spark, dir, FpKey,
      "buildParagraphIndex + writeParagraphIndex")
    ParagraphIndex(store, meta.getAs[String]("sep_regex"),
      meta.getAs[Long]("max_doc_id"))
  }

  /** INCREMENTAL paragraph/line dedup — the daily-crawl twin of
    * [[dedupUnits]], mirroring the substring family's index probe: the
    * corpus's per-fingerprint `(nocc, keeper)` state is built ONCE
    * ([[buildParagraphIndex]]) and each increment pays only its own
    * row-local split/fingerprint pass, one per-fp aggregate, one equi-join
    * per index segment ([[SegmentStore.unionVerdict]]), and the shared
    * emission tail. Emits the cleaned
    * INCREMENT in [[dedupUnits]]'s kept-unit schema.
    *
    * EXACTLY BATCH-EQUAL for increment docs, by construction: for every
    * fingerprint the union corpus's occurrence count is
    * `index.nocc + increment count` and its first occurrence is
    * `min(index.keeper, increment keeper)` — both recovered by left joins
    * — so every increment unit's cut decision (`total >= 2` and
    * `(doc_id, idx) != keeper`) is identical to running [[dedupUnits]]
    * over corpus ∪ increment (pinned in ParagraphDedupSpec on a random
    * corpus with INTERLEAVED doc ids). REQUIRES the increment's doc ids
    * to be disjoint from the corpus's (re-submitting an indexed doc
    * double-counts its units — the substring-index contract); when the
    * index is watermarked (every `build`/`update` product), the stronger
    * monotone form is ENFORCED here — see [[IdContract]].
    *
    * Scale shape: the increment side is O(|increment|) everywhere; the
    * index joins are the only corpus-sized terms, against unit segments a
    * reloaded index clusters on fp in its cache ([[readParagraphIndex]]).
    * Nothing re-reads corpus text. The dup set and cut counts checkpoint small
    * (affected increment docs only); the emission tail is lazy and
    * row-local, as in the batch form.
    */
  def incrementalDedupUnits(incoming: DataFrame, index: ParagraphIndex,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val f = incrementalKeptFrames(incoming, index, index.maxDocId, idCol,
      textCol)
    try emitKept(incoming, index.sepRegex, idCol, textCol, f.dupSet, f.cuts)
    finally f.base.unpersist(blocking = false)
  }

  /** [[incrementalDedupUnits]] whose emission RIDES the persisted
    * increment unit substrate — the composed probes' entry (they
    * checkpoint the cleaned increment immediately, so the lazy fresh-scan
    * tail would re-derive the increment unit table and the caller's input
    * chain once more; same §6 derive-once as [[dedupUnitsOnSubstrate]]).
    * The caller MUST invoke the returned release thunk once the emission
    * is materialized. Value-identical to [[incrementalDedupUnits]]; the
    * raw increment is checked against `watermark`, the composed index's
    * (the largest among its halves), so the composed probe checks once.
    */
  private[graft] def incrementalDedupUnitsOnSubstrate(incoming: DataFrame,
      index: ParagraphIndex, watermark: Long, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val f = incrementalKeptFrames(incoming, index, watermark, idCol, textCol)
    (emitKeptFromUnits(f.base, f.dupSet, f.cuts),
      () => f.base.unpersist(blocking = false))
  }

  /** The shared increment-side derivation of [[incrementalDedupUnits]]:
    * persisted unit substrate, union-verdict dup set (checkpointed), cut
    * counts (checkpointed). On failure the substrate is released here; on
    * success the CALLER owns it (the lazy entry releases immediately, the
    * substrate-riding entry hands back a thunk).
    */
  private def incrementalKeptFrames(incoming: DataFrame,
      index: ParagraphIndex, watermark: Long, idCol: String,
      textCol: String): ParagraphFrames = {
    IdContract.requireAbove(incoming, idCol, watermark, "incrementalDedupUnits")
    val base = unitTable(incoming, index.sepRegex, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val d = index.store.unionVerdict(fpAgg(base, "inc_")).localCheckpoint()
      val c = cutCounts(base, d).localCheckpoint()
      ParagraphFrames(base, d, c)
    } catch {
      case t: Throwable => base.unpersist(blocking = false); throw t
    }
  }

  /** Convenience form: build the index from a corpus `DataFrame`, probe
    * once, retire it. Deployment should hold a persisted index
    * ([[buildParagraphIndex]] / [[writeParagraphIndex]]) instead — this
    * rebuilds the corpus-side aggregate every call. The throwaway index is
    * UNWATERMARKED: a one-shot probe emits only the increment, so there is
    * no persisted corpus emission for the monotone contract to protect —
    * increment-side batch equality holds under plain id disjointness,
    * which stays the caller's contract here (and is what lets oracles and
    * specs pin keeper exactness under interleaved ids).
    */
  def incrementalDedupUnits(incoming: DataFrame, corpus: DataFrame,
      sepRegex: String): DataFrame = {
    require(sepRegex.nonEmpty, "separator regex must be non-empty")
    val idx = ParagraphIndex(
      SegmentStore.of(FpKey, unitFpAgg(corpus, sepRegex, "doc_id", "text")),
      sepRegex)
    try incrementalDedupUnits(incoming, idx)
    finally idx.unpersist()
  }
}
