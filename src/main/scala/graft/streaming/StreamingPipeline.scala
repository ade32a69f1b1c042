package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.TextPipeline

/** One event of a user activity stream (sessionization input). */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session accumulator kept in the state store (one per user).
  * `sumGrid` holds the value sum on the Det integer grid (units of 1e-6,
  * see `graft.util.Det`): long addition is associative, so the emitted
  * `sum_value` is bit-identical across retries, shuffles, and batch
  * boundaries — and matches the batch twin's `Det.dsum` exactly.
  *
  * STATE SCHEMA v2 (was `sumValue: Double`): a query restarted from a
  * checkpoint written by the v1 schema fails Spark's state-schema check by
  * design — start such a query from a fresh checkpoint directory; do NOT
  * disable the check (the stored Double bits would be reinterpreted as
  * grid longs and every open session's sum would be silently garbage).
  */
final case class SessionState(startMs: Long, lastMs: Long,
                              nEvents: Long, sumGrid: Long)

/** A closed session. */
final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                             session_end: java.sql.Timestamp,
                             n_events: Long, sum_value: Double)

/** One hash-bucket's Misra–Gries summary in the state store: items seen
  * and the ≤ k surviving counters (see `heavyHittersStream`).
  */
final case class MgBucketState(n: Long, counters: Map[String, Long])

/** A bucket's current heavy-hitter candidates, re-emitted every trigger
  * (Update mode): counts are MG lower bounds (error ≤ n_bucket/k).
  */
final case class BucketSketch(bucket: Int, n_bucket: Long,
                              toks: Seq[String], lowers: Seq[Long])

/** One tagged row of the streaming as-of input (side 0 = reference
  * update, side 1 = event to enrich).
  */
final case class AsofEvent(key: Long, ts: java.sql.Timestamp, side: Int,
                           value: Double)

/** Latest reference value per key — the O(1) as-of state. */
final case class AsofState(refTsMs: Long, refValue: Double)

/** An event enriched with the as-of reference value (None before the
  * first reference update for its key).
  */
final case class AsofEnriched(key: Long, ts: java.sql.Timestamp,
                              value: Double, ref_value: Option[Double])

/** A running streaming-removal query plus the live handle to its
  * forward-folding substring index ([[StreamingPipeline
  * .removeDupSpansExactStream]]): `currentIndex()` always returns the
  * corpus ∪ processed-batches state — after `query` stops, that is what
  * deployment persists ([[graft.pipeline.Dedup.writeExactSubstrIndex]])
  * for the next run, and what the caller unpersists.
  */
final case class StreamingRemoval(
    query: org.apache.spark.sql.streaming.StreamingQuery,
    currentIndex: () => graft.pipeline.Dedup.ExactSubstrIndex)

/** A running streaming near-dup query plus the live handle to its
  * forward-folding LSH index ([[StreamingPipeline.incrementalNearDupStream]]):
  * `currentIndex()` always returns the corpus ∪ processed-batches state —
  * after `query` stops, that is what deployment persists
  * ([[graft.pipeline.Dedup.writeNearDupIndex]]) for the next run, and what
  * the caller unpersists.
  */
final case class StreamingNearDup(
    query: org.apache.spark.sql.streaming.StreamingQuery,
    currentIndex: () => graft.pipeline.Dedup.NearDupIndex)

/** A running streaming paragraph/line-dedup query plus the live handle to
  * its forward-folding unit-fingerprint index
  * ([[StreamingPipeline.dedupUnitsStream]]): `currentIndex()` always
  * returns the corpus ∪ processed-batches state — after `query` stops,
  * that is what deployment persists
  * ([[graft.pipeline.ParagraphDedup.writeParagraphIndex]]) for the next
  * run, and what the caller unpersists.
  */
final case class StreamingParagraphDedup(
    query: org.apache.spark.sql.streaming.StreamingQuery,
    currentIndex: () => graft.pipeline.ParagraphDedup.ParagraphIndex)

/** Handle on a running COMPOSED-cleanup stream
  * ([[StreamingPipeline.cleanCorpusStream]]): `currentIndex()` is the
  * two-stage corpus ∪ processed-batches state (paragraph unit index +
  * cleaned-corpus gram index) — what deployment persists for the next
  * run, and what the caller unpersists.
  */
final case class StreamingCleanPipeline(
    query: org.apache.spark.sql.streaming.StreamingQuery,
    currentIndex: () => graft.pipeline.CleanPipeline.CleanIndex)

/** Handle on a running FULL-cleanup stream
  * ([[StreamingPipeline.fullCleanCorpusStream]]): `currentIndex()` is the
  * three-stage corpus ∪ processed-batches state (paragraph unit index +
  * cleaned-rep LSH index + survivor gram index).
  */
final case class StreamingFullCleanPipeline(
    query: org.apache.spark.sql.streaming.StreamingQuery,
    currentIndex: () => graft.pipeline.CleanPipeline.FullCleanIndex)

/** Structured Streaming variants of the stateless pipeline operators
  * (SURVEY.md §7.5: the reference is strictly batch; streaming enters only
  * on the extension surface). The same codegen'd column expressions from
  * `TextPipeline` apply verbatim to a streaming DataFrame — that is the
  * point of keeping them UDF-free: one definition serves `read` and
  * `readStream`.
  */
object StreamingPipeline {

  /** Streaming exact-dedup: drop rows whose normalized-text fingerprint was
    * already seen within the watermark horizon. State is bounded by the
    * watermark (fingerprints older than `delayThreshold` are evicted), which
    * is what makes this run forever at ingest scale.
    */
  def dedupStream(docs: DataFrame, tsCol: String, delayThreshold: String,
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", TextPipeline.fingerprint(col(textCol)))
      .withWatermark(tsCol, delayThreshold)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp") // internal dedup key — keep the caller's schema

  /** Per-language rolling text-quality profile over event-time windows:
    * watermarked tumbling-window aggregation (late data beyond the
    * threshold is dropped, state is evicted per window).
    */
  def textProfileStream(docs: DataFrame, tsCol: String, window: String,
                        delayThreshold: String, textCol: String = "text",
                        langCol: String = "lang"): DataFrame =
    docs
      .withWatermark(tsCol, delayThreshold)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextPipeline.tokenCount(col(textCol)).cast("long")).as("sum_tokens"),
        sum(TextPipeline.stopwordCount(col(textCol)).cast("long")).as("sum_stopwords"),
        avg(length(col(textCol))).as("avg_chars"))

  /** Streaming language-ID tagging — fully stateless projection. */
  def langIdStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("pred_lang", TextPipeline.langId(col(textCol)))

  /** Streaming rate-based mixture sampling — the BATCH operator applied
    * verbatim: `Sampling.rateSample`'s verdict is a row-local salted-hash
    * comparison with no state, so the same call works on an unbounded
    * stream and gives the SAME verdict a batch run over the same rows
    * gives (asserted in StreamingSpec). This is the payoff of designing
    * the sampling layer deterministic + row-local: mixture policy applies
    * at ingest time with zero reprocessing drift.
    */
  def rateSampleStream(docs: DataFrame, strataCol: String,
                       ratesPermille: Map[String, Int], defaultPermille: Int,
                       salt: String, idCol: String): DataFrame =
    graft.pipeline.Sampling.rateSample(docs, col(strataCol), ratesPermille,
      defaultPermille, salt, idCol)

  /** Streaming PII scrub — stateless projection of the batch redact/count
    * columns (`graft.pipeline.Pii`), for scrubbing at ingest before
    * anything lands in the lake.
    */
  def piiScrubStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("n_emails", graft.pipeline.Pii.emailCount(col(textCol)))
      .withColumn("redacted", graft.pipeline.Pii.redact(col(textCol)))

  /** Streaming corpus-frequency quality filter (P39's stream twin): the
    * corpus vocabulary — built ONCE offline by `TextPipeline.corpusVocab`
    * over a batch snapshot, collected via `corpusVocabModel` — rides into
    * the stream as a literal map, and every verdict is row-local
    * higher-order-function arithmetic: zero state, append mode, verdicts
    * bit-identical to the batch join form (StreamingSpec). The CCNet
    * deployment shape: score the firehose against a fixed corpus profile.
    */
  def corpusFreqQualityStream(docs: DataFrame, vocab: Map[String, Long],
                              minInVocabPermille: Int, minMeanTf: Long,
                              textCol: String = "text"): DataFrame =
    TextPipeline.corpusFreqProfileBroadcast(docs, col(textCol), vocab,
      minInVocabPermille, minMeanTf)

  /** Streaming benchmark decontamination: flags rows sharing any word
    * n-gram with a FIXED eval set ([[graft.pipeline.Decontaminate
    * .EvalGrams]], built offline by `Decontaminate.evalGrams` — real eval
    * sets are tiny; the tag carries gram order and key substrate, so a
    * stream can never probe with a mismatched build). Row-local sorted-
    * array lookups, zero state, append mode — contaminated training data
    * never lands in the lake instead of being audited out later.
    */
  def decontaminateStream(docs: DataFrame,
                          evalGrams: graft.pipeline.Decontaminate.EvalGrams,
                          textCol: String = "text"): DataFrame =
    docs.withColumn("contaminated",
      graft.pipeline.Decontaminate.contaminatedFlag(col(textCol), evalGrams))

  /** Streaming bigram-LM quality filter (P43's stream twin): a FIXED
    * driver-held LM (`TextPipeline.bigramLmModel`, trained offline)
    * applied row-locally — same `length(bin(·))` surprisal integers as
    * the batch operator, summed inside the row. Zero state, append mode.
    */
  def bigramLmQualityStream(docs: DataFrame, maxMeanDecibits: Int,
                            model: TextPipeline.BigramLmModel,
                            textCol: String = "text"): DataFrame =
    TextPipeline.bigramLmProfileBroadcast(docs, maxMeanDecibits, model,
      col(textCol))

  /** Streaming model-based quality filter (P37's stream twin): a FIXED
    * logistic model's linear predictor over the heuristic text features
    * (`TextPipeline.classifierScore` — the β slot is exactly what an
    * offline binomial SLOPE fit emits), thresholded in exact LINEAR space
    * (`z ≥ logit(τ)`). Pure row-local codegen'd arithmetic: zero state,
    * append mode, verdicts bit-identical to the batch `p_model_quality_
    * filter` scoring (StreamingSpec pins batch ≡ stream). The
    * fasttext-classifier-filter deployment shape at ingest; completes the
    * streaming story for every quality filter (P12/P37/P39/P43).
    */
  def modelQualityStream(docs: DataFrame, beta: Array[Double],
                         zThreshold: Double = 0.0,
                         textCol: String = "text"): DataFrame =
    docs.withColumn("z", TextPipeline.classifierScore(col(textCol), beta))
      .withColumn("kept", col("z") >= lit(zThreshold))

  /** Streaming duplicated-span profile (P45's stream twin): the corpus's
    * cross-doc duplicated-gram set — built ONCE offline by
    * `Dedup.dupGramArray` from a batch snapshot — rides into the stream
    * as a driver-held sorted array, and the whole span geometry (window
    * flags, island merge, covered-token mass) evaluates row-locally via
    * `Dedup.dupSpanCols`. Zero state, append mode: incoming docs are
    * scored against yesterday's dup profile at ingest, the ExactSubstr
    * analogue of [[decontaminateStream]].
    */
  def dupSpanProfileStream(docs: DataFrame, dupGrams: Array[Long], n: Int,
                           textCol: String = "text"): DataFrame = {
    val sp = graft.pipeline.Dedup.dupSpanCols(col(textCol), dupGrams, n)
    docs.withColumn("n_tokens", sp.getField("n_tokens"))
      .withColumn("n_dup_windows", sp.getField("n_dup_windows"))
      .withColumn("n_spans", sp.getField("n_spans"))
      .withColumn("covered_tokens", sp.getField("covered_tokens"))
  }

  /** Streaming VARIABLE-LENGTH duplicated-span profile (P49's stream
    * twin): per-order duplicated-gram sets — each built ONCE offline by
    * `Dedup.dupGramArray` at its order — ride in as driver-held sorted
    * arrays, and the whole multi-order geometry (flag per order, merge
    * across orders, >= minLen policy) evaluates row-locally via
    * `Dedup.dupSpanColsMulti`. Zero state, append mode.
    */
  def dupSpanProfileMultiStream(docs: DataFrame,
      dupGramsByOrder: Seq[(Int, Array[Long])], minLen: Int,
      textCol: String = "text"): DataFrame = {
    val sp = graft.pipeline.Dedup.dupSpanColsMulti(
      col(textCol), dupGramsByOrder, minLen)
    docs.withColumn("n_tokens", sp.getField("n_tokens"))
      .withColumn("n_spans", sp.getField("n_spans"))
      .withColumn("covered_tokens", sp.getField("covered_tokens"))
      .withColumn("longest_span", sp.getField("longest_span"))
  }

  /** Streaming EXACT substring removal (P52's stream form) — the
    * accumulating daily-crawl loop as a `foreachBatch` runner: every
    * micro-batch is cleaned against the per-gram (count, keeper) index of
    * the corpus PLUS ALL PRIOR BATCHES
    * ([[graft.pipeline.Dedup.incrementalRemoveDupSpansExact]]), its
    * cleaned pieces handed to `sink`, and the index folded forward
    * ([[graft.pipeline.Dedup.updateExactSubstrIndex]]) before the next
    * batch. foreachBatch is the honest vehicle here — the probe needs a
    * per-batch gram AGGREGATE (the batch's own occurrence counts and
    * first-occurrence keepers), which is batch semantics per trigger, not
    * row-at-a-time state; the index itself is the cross-batch state, and
    * it lives outside the state store because it is corpus-sized and
    * disk-persistable ([[graft.pipeline.Dedup.writeExactSubstrIndex]]).
    * The segmented index is built for exactly this loop: each fold
    * appends one batch-sized segment — O(batch) per trigger — and
    * compacts only when the open deltas cross the index's threshold.
    *
    * With doc ids monotone across batches (the natural crawl ordering),
    * every emitted piece is bit-equal to the BATCH
    * [[graft.pipeline.Dedup.removeDupSpansExact]] run over
    * corpus ∪ all batches restricted to that batch's docs — pinned in
    * StreamingSpec with a duplicate planted across two micro-batches
    * (cut only because the index fold carried batch 1's grams into
    * batch 2's probe).
    *
    * Nothing is retired here: folds share frames append-only, and a
    * compaction retires the segments it consumed itself — `initial`'s
    * base included (see [[graft.pipeline.Dedup.ExactSubstrIndex]]
    * ownership). After the query stops, `currentIndex()` is the
    * corpus ∪ all-batches state, which deployment writes to disk as the
    * next run's `initial` (and the caller unpersists once done with it).
    * Micro-batches run sequentially per query, so the index swap needs
    * no lock.
    */
  def removeDupSpansExactStream(docs: DataFrame,
      initial: graft.pipeline.Dedup.ExactSubstrIndex,
      sink: (DataFrame, Long) => Unit,
      emitOriginal: Boolean = false): StreamingRemoval = {
    @volatile var idx = initial
    // foreachBatch is AT-LEAST-ONCE: an epoch can re-run after a failure,
    // and the fold is not idempotent (a double fold double-counts every
    // gram of the batch, silently corrupting keeper/count state). A
    // replayed epoch (epoch <= lastFolded) is skipped WHOLE — probe
    // included: the batch's pieces were already emitted by the completed
    // attempt, and re-probing against the already-folded state would
    // both inflate counts AND fail the probe's own watermark check
    // (replayed ids sit at or below the advanced maxDocId). A restart
    // from checkpoint must still pair a re-read index with the offsets
    // it was folded to (write the index per epoch).
    var lastFolded = Long.MinValue
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (epoch > lastFolded) {
          sink(graft.pipeline.Dedup.incrementalRemoveDupSpansExact(batch, idx,
            emitOriginal = emitOriginal), epoch)
          // O(batch): the fold materializes only the new delta
          idx = graft.pipeline.Dedup.updateExactSubstrIndex(idx, batch)
          lastFolded = epoch
        }
      }
      .start()
    StreamingRemoval(q, () => idx)
  }

  /** Streaming incremental NEAR-DUP detection (P46's stream form) — the
    * daily-crawl loop as a `foreachBatch` runner, mirroring
    * [[removeDupSpansExactStream]]: every micro-batch probes the LSH index
    * of the corpus PLUS ALL PRIOR BATCHES
    * ([[graft.pipeline.Dedup.incrementalNearDup]]) — its verified
    * cross-side pairs `(new_id, idx_id, jaccard)` handed to `sink` — and
    * the index is folded forward
    * ([[graft.pipeline.Dedup.updateNearDupIndex]]) before the next batch.
    * foreachBatch is the honest vehicle for the same reason as the
    * substring twin: the probe needs the batch's own rep-collapse +
    * signature AGGREGATE (batch semantics per trigger), and the index is
    * corpus-sized cross-batch state that lives outside the state store
    * (disk-persistable via `writeNearDupIndex`).
    *
    * The fold is provably batch-equal: the rep store is a per-fingerprint
    * `min(struct(doc_id, text))` monoid, so `currentIndex()` after N
    * batches IS `buildNearDupIndex(corpus ∪ batches)` (pinned in
    * StreamingSpec), and — unlike the substring index's occurrence sums —
    * the fold is IDEMPOTENT (min twice = min once), so an at-least-once
    * epoch replay cannot corrupt the state. The epoch guard below still
    * skips redundant re-folds for cost, not correctness. The caller owns
    * `initial` (never unpersisted here); superseded folds are retired as
    * they are replaced.
    */
  def incrementalNearDupStream(docs: DataFrame,
      initial: graft.pipeline.Dedup.NearDupIndex,
      threshold: Double,
      sink: (DataFrame, Long) => Unit): StreamingNearDup = {
    @volatile var idx = initial
    var lastFolded = Long.MinValue
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.pipeline.Dedup.incrementalNearDup(batch, idx, threshold),
          epoch)
        if (epoch > lastFolded) {
          val next = graft.pipeline.Dedup.updateNearDupIndex(idx, batch)
          // materialize before retiring the superseded index
          next.docStore.count(); next.bands.count()
          if (idx ne initial) idx.unpersist()
          idx = next
          lastFolded = epoch
        }
      }
      .start()
    StreamingNearDup(q, () => idx)
  }

  /** Streaming incremental PARAGRAPH/LINE dedup (P55's stream form) — the
    * sub-document pass real crawls run FIRST, as the same `foreachBatch`
    * loop as [[removeDupSpansExactStream]] over the unit index: every
    * micro-batch is cleaned against the per-fingerprint `(nocc, keeper)`
    * index of the corpus PLUS ALL PRIOR BATCHES
    * ([[graft.pipeline.ParagraphDedup.incrementalDedupUnits]]), its kept
    * units handed to `sink` in [[graft.pipeline.ParagraphDedup
    * .dedupUnits]]'s verbatim-byte schema, and the index folded forward
    * ([[graft.pipeline.ParagraphDedup.updateParagraphIndex]], one
    * batch-sized segment) before the next batch; nothing is retired, for
    * the same ownership reason.
    *
    * With doc ids monotone across batches, every emitted unit row is
    * bit-equal to the BATCH [[graft.pipeline.ParagraphDedup.dedupUnits]]
    * run over corpus ∪ all batches restricted to that batch's docs —
    * pinned in StreamingSpec with a duplicate paragraph planted across two
    * micro-batches. The fold's count half SUMS (a replayed epoch would
    * inflate `nocc` — geometry survives, see `updateParagraphIndex`), so
    * the epoch guard skips redundant re-folds.
    */
  def dedupUnitsStream(docs: DataFrame,
      initial: graft.pipeline.ParagraphDedup.ParagraphIndex,
      sink: (DataFrame, Long) => Unit): StreamingParagraphDedup = {
    @volatile var idx = initial
    var lastFolded = Long.MinValue
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.pipeline.ParagraphDedup.incrementalDedupUnits(batch, idx),
          epoch)
        if (epoch > lastFolded) {
          // O(batch): the fold materializes only the new delta
          idx = graft.pipeline.ParagraphDedup.updateParagraphIndex(idx, batch)
          lastFolded = epoch
        }
      }
      .start()
    StreamingParagraphDedup(q, () => idx)
  }

  /** Streaming COMPOSED cleanup (P58/P59's stream form) — the same loop
    * over the two-stage index: every micro-batch runs the full production
    * chain (paragraph-probe → canonical re-join → substring-probe,
    * [[graft.pipeline.CleanPipeline.incrementalCleanCorpus]] — exactly
    * batch-equal under the monotone-id contract), its cleaned pieces
    * handed to `sink`, and BOTH halves folded forward
    * ([[graft.pipeline.CleanPipeline.updateCleanIndex]]: raw batch into
    * the paragraph half, CLEANED batch into the gram half) before the next
    * trigger. Both folds SUM counts, so same-process retries are guarded
    * by epoch as in [[removeDupSpansExactStream]] (a restart from
    * checkpoint must pair a re-read index with the offsets it was folded
    * to). Nothing is retired here: each half appends one batch-sized
    * segment and shares every older one with the handle it came from (see
    * [[graft.pipeline.SegmentStore]] ownership).
    */
  def cleanCorpusStream(docs: DataFrame,
      initial: graft.pipeline.CleanPipeline.CleanIndex,
      sink: (DataFrame, Long) => Unit): StreamingCleanPipeline = {
    @volatile var idx = initial
    var lastFolded = Long.MinValue
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // derive the cleaned batch ONCE (checkpointed) and hand it to both
        // the sink path and the gram-half fold — the fold used to re-run
        // the paragraph probe + re-join per trigger
        val (pieces, cleanedBatch) = graft.pipeline.CleanPipeline
          .incrementalCleanCorpusWithCleaned(batch, idx)
        sink(pieces, epoch)
        if (epoch > lastFolded) {
          // O(batch): each half's fold materializes only its new delta
          idx = graft.pipeline.CleanPipeline
            .updateCleanIndexWith(idx, batch, cleanedBatch, "doc_id", "text")
          lastFolded = epoch
        }
      }
      .start()
    StreamingCleanPipeline(q, () => idx)
  }

  /** Streaming FULL cleanup (P60/P61's stream form) — every micro-batch
    * runs the whole production chain against the three-stage index
    * (paragraph-probe → re-join → frozen-corpus doc-level dedup with
    * first-ingested keepers → survivor substring-probe,
    * [[graft.pipeline.CleanPipeline.incrementalFullClean]]), its pieces
    * handed to `sink`, and ALL THREE halves folded forward
    * ([[graft.pipeline.CleanPipeline.updateFullCleanIndex]]: raw batch
    * into the paragraph half, CLEANED batch reps into the LSH half, batch
    * SURVIVORS into the gram half). The probe is derived ONCE per trigger
    * and shared between the sink path and the fold (the derive-once
    * contract of `fullCleanProbe`). Same at-least-once/epoch-guard notes
    * as [[cleanCorpusStream]]; each superseded handle is retired with
    * `retireSuperseded` — the rebuilt near-dup index and fingerprint set
    * only, the paragraph and gram halves being shared segment stores.
    */
  def fullCleanCorpusStream(docs: DataFrame,
      initial: graft.pipeline.CleanPipeline.FullCleanIndex,
      sink: (DataFrame, Long) => Unit): StreamingFullCleanPipeline = {
    @volatile var idx = initial
    var lastFolded = Long.MinValue
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val probe = graft.pipeline.CleanPipeline
          .fullCleanProbe(batch, idx, "doc_id", "text")
        sink(probe.pieces, epoch)
        if (epoch > lastFolded) {
          val next = graft.pipeline.CleanPipeline
            .updateFullCleanIndexWith(idx, batch, probe, "doc_id", "text")
          // materialize the rebuilt halves before retiring the superseded
          // ones (the segment-store folds materialize their own deltas)
          next.nearDup.docStore.count(); next.nearDup.bands.count()
          next.corpusFps.count()
          if (idx ne initial) idx.retireSuperseded()
          idx = next
          lastFolded = epoch
        }
      }
      .start()
    StreamingFullCleanPipeline(q, () => idx)
  }

  /** Gap-based user sessionization with CUSTOM state
    * (`flatMapGroupsWithState`, the engine's stateful-streaming extension
    * point): events of a user belong to one session while consecutive gaps
    * stay ≤ `gapMs`; a session closes when the event-time watermark passes
    * its last event + gap (event-time timeout) or when a later same-batch
    * event opens the next session. State per user is ONE fixed-size record,
    * evicted on close — bounded by active users, not history, so the query
    * runs forever at ingest scale. Batch twin (identical session
    * semantics, SQL-window form): `p_sessionize`.
    *
    * Input columns: `user_id` (long), `ts` (timestamp), `value` (double).
    */
  def sessionizeStream(events: DataFrame, gapMs: Long,
                       delayThreshold: String): Dataset[UserSession] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", delayThreshold)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        updateSessions(gapMs))
  }

  /** Streaming twin of [[graft.pipeline.TemporalJoin.asofJoin]]: every
    * event is enriched with the latest reference value at-or-before it.
    * State per key is ONE (ts, value) record. With `stateTtlMs > 0` (and
    * a `delayThreshold` watermark), a key idle past the TTL is EVICTED on
    * event-time timeout, so the store is bounded by RECENTLY ACTIVE keys
    * and the query runs forever under key churn — a later event for an
    * evicted key enriches to null, the documented price of forgetting.
    * With any `stateTtlMs <= 0` (the default is -1) nothing is ever evicted: exact
    * forever, but the store grows with every key EVER seen — only for
    * closed key domains.
    *
    * Semantics: within a micro-batch the enrichment is EXACT as-of
    * (rows process in (ts, side) order, reference updates first on
    * ties). Across batches only the latest reference survives, so an
    * event arriving LATER than a newer reference update is enriched
    * with the latest-known value — the standard streaming-enrich
    * trade; use the batch operator for reprocessing-exact semantics.
    *
    * `events` columns: key (long), ts (timestamp), value (double);
    * `refUpdates`: key, ts, ref_value.
    */
  def asofEnrichStream(events: DataFrame, refUpdates: DataFrame,
                       delayThreshold: String = "",
                       stateTtlMs: Long = -1L): Dataset[AsofEnriched] = {
    // same predicate as the timeout selection below: any stateTtlMs <= 0
    // (0 included) means "never evict", which needs no watermark
    require(stateTtlMs <= 0 || delayThreshold.nonEmpty,
      "asofEnrichStream: a state TTL needs a watermark (delayThreshold) " +
        "to drive event-time timeouts")
    val sp = events.sparkSession
    import sp.implicits._
    val union = refUpdates
      .select(col("key").cast("long").as("key"), col("ts"),
        lit(0).as("side"), col("ref_value").cast("double").as("value"))
      .unionByName(events.select(col("key").cast("long").as("key"), col("ts"),
        lit(1).as("side"), col("value").cast("double").as("value")))
    val tagged =
      (if (delayThreshold.nonEmpty) union.withWatermark("ts", delayThreshold)
       else union).as[AsofEvent]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofEnriched](
        OutputMode.Append(), timeout)(updateAsof(stateTtlMs))
  }

  private def updateAsof(stateTtlMs: Long)(
      key: Long, rows: Iterator[AsofEvent],
      state: GroupState[AsofState]): Iterator[AsofEnriched] = {
    if (state.hasTimedOut) {
      state.remove() // idle past the TTL — forget the reference
      Iterator.empty
    } else {
      // (ts, side, value): refs before events on tied timestamps, value as
      // the deterministic tie-break (same rationale as updateSessions)
      val evs = rows.toArray.sortBy(e => (e.ts.getTime, e.side, e.value))
      var cur = state.getOption
      var maxTs = Long.MinValue
      val out = Array.newBuilder[AsofEnriched]
      evs.foreach { e =>
        maxTs = math.max(maxTs, e.ts.getTime)
        if (e.side == 0) {
          if (cur.forall(c => e.ts.getTime >= c.refTsMs))
            cur = Some(AsofState(e.ts.getTime, e.value))
        } else {
          out += AsofEnriched(key, e.ts, e.value, cur.map(_.refValue))
        }
      }
      cur.foreach { c =>
        state.update(c)
        if (stateTtlMs > 0)
          state.setTimeoutTimestamp(math.max(maxTs, c.refTsMs) + stateTtlMs)
      }
      out.result().iterator
    }
  }

  /** Det grid scale for the session value sum (matches `Det.dsum` default). */
  private val GridScale = 1e6

  private def toGrid(v: Double): Long = {
    require(java.lang.Double.isFinite(v), s"sessionize: non-finite value $v")
    val g = math.floor(v * GridScale + 0.5)
    require(math.abs(g) < 9.223372036854776e18,
      s"sessionize: value $v overflows the 1e-6 grid")
    g.toLong
  }

  private def emit(user: Long, s: SessionState): UserSession =
    UserSession(user, new java.sql.Timestamp(s.startMs),
      new java.sql.Timestamp(s.lastMs), s.nEvents, s.sumGrid.toDouble / GridScale)

  private def updateSessions(gapMs: Long)(
      user: Long, events: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[UserSession] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(emit(user, s))
    } else {
      // batches are unordered within a group — order by event time, with
      // value as a tie-break: a bare ts sort is stable on arrival order,
      // which is nondeterministic across retries (grid sums make the SUM
      // order-invariant anyway, but session SPLITS at a gap boundary must
      // not depend on arrival order of tied timestamps either)
      val evs = events.toArray.sortBy(e => (e.ts.getTime, e.value))
      var closed = List.empty[UserSession]
      var cur = state.getOption
      evs.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastMs <= gapMs =>
            cur = Some(SessionState(s.startMs, math.max(s.lastMs, t),
              s.nEvents + 1, s.sumGrid + toGrid(e.value)))
          case Some(s) =>
            closed = emit(user, s) :: closed
            cur = Some(SessionState(t, t, 1, toGrid(e.value)))
          case None =>
            cur = Some(SessionState(t, t, 1, toGrid(e.value)))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastMs + gapMs)
      }
      closed.reverseIterator
    }
  }

  /** Streaming Misra–Gries heavy hitters — the batch [[graft.pipeline.Sketch]]
    * run forever: tokens hash-partition into `nBuckets` groups (shared
    * 60-bit md5, so bucketing is deterministic across engines and
    * restarts), each group keeps ONE fixed-size MG summary (≤ `k`
    * counters) in the state store, updated with the batch `Sketch.mgUpdate`
    * verbatim, and every trigger re-emits the group's current candidate
    * set (Update output mode). State is O(nBuckets·k) FOREVER — no
    * watermark needed, which is the whole point of the sketch.
    *
    * Guarantee carried over: a token hashes to exactly one bucket, and its
    * bucket's stream length n_b never exceeds the global N, so any token
    * with global count > N/k also has bucket count > n_b/k and SURVIVES in
    * its bucket's counters (same Agarwal et al. mergeability argument as
    * the batch pass-1). As in batch, emitted counts are lower-bound
    * approximations (error ≤ n_b/k) — follow with an exact recount of the
    * ≤ nBuckets·k candidates for exact output.
    */
  def heavyHittersStream(docs: DataFrame, k: Int, nBuckets: Int,
                         textCol: String = "text"): Dataset[BucketSketch] = {
    require(k > 0, s"k must be positive, got $k")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(explode(TextPipeline.tokens(col(textCol))).as("tok"))
      .select(pmod(graft.util.Det.md5Hash60(col("tok")), lit(nBuckets.toLong))
        .cast("int").as("bucket"), col("tok"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[MgBucketState, BucketSketch](
        GroupStateTimeout.NoTimeout()) { (bucket, rows, state) =>
        val counters = scala.collection.mutable.Map.empty[String, Long]
        val prev = state.getOption.getOrElse(MgBucketState(0L, Map.empty))
        prev.counters.foreach { case (t, c) => counters.update(t, c) }
        var n = prev.n
        rows.foreach { case (_, tok) =>
          n += 1
          graft.pipeline.Sketch.mgUpdate(counters, tok, k)
        }
        val next = MgBucketState(n, counters.toMap)
        state.update(next)
        val sorted = next.counters.toSeq.sortBy { case (t, c) => (-c, t) }
        BucketSketch(bucket, n, sorted.map(_._1), sorted.map(_._2))
      }
  }
}
