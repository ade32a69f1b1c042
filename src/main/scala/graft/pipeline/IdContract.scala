package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mechanical enforcement of the incremental indexes' doc-id contracts.
  *
  * Every incremental index in this package ([[ParagraphDedup.ParagraphIndex]]
  * and [[Dedup.ExactSubstrIndex]] — the two [[SegmentStore]] users —
  * [[Dedup.NearDupIndex]],
  * [[CleanPipeline.CleanIndex]], [[CleanPipeline.FullCleanIndex]]) carries
  * a `maxDocId` WATERMARK — the largest doc id the corpus side has
  * absorbed — and every index probe and fold `require`s the increment's
  * ids STRICTLY ABOVE it. The contract this enforces is monotone crawl
  * ids, and the reason it must fail loudly is
  * that the violation corrupts silently: a smaller increment id sharing
  * content with an indexed doc steals the union keeper, so the batch
  * equivalent would cut the CORPUS copy — text an incremental deployment
  * has already emitted and can never re-emit — and replaying an absorbed id
  * double-counts its units/grams. Neither produces an error downstream;
  * both produce wrong data.
  *
  * `Unwatermarked` (`Long.MinValue`) disables enforcement and folding: the
  * one-shot convenience overloads build unwatermarked indexes (they emit
  * only the increment, so there is no persisted corpus emission for
  * monotonicity to protect — batch-equality of increment output needs only
  * DISJOINT ids, which stays the caller's documented contract there), and
  * specs that deliberately pin keeper exactness under interleaved ids opt
  * out the same way. An unwatermarked index stays unwatermarked across
  * folds — a half-enforced watermark would claim a guarantee the early
  * folds never checked.
  */
object IdContract {

  /** Sentinel: no watermark — enforcement and folding disabled. */
  val Unwatermarked: Long = Long.MinValue

  /** The watermark of a corpus: `max(id)`, or [[Unwatermarked]] when the
    * corpus is empty. One narrow (column-pruned) aggregate job.
    */
  private[graft] def maxId(df: DataFrame, idCol: String): Long = {
    val r = df.agg(max(col(idCol).cast("long"))).head
    if (r.isNullAt(0)) Unwatermarked else r.getLong(0)
  }

  /** Probe-side check: every id of `incoming` must sit strictly above
    * `watermark`. No-op (and no Spark job) when unwatermarked or the
    * increment is empty.
    */
  private[graft] def requireAbove(incoming: DataFrame, idCol: String,
      watermark: Long, what: String): Unit =
    if (watermark != Unwatermarked) {
      val r = incoming.agg(min(col(idCol).cast("long"))).head
      if (!r.isNullAt(0))
        require(r.getLong(0) > watermark,
          s"$what: monotone doc-id contract violated — increment min id " +
            s"${r.getLong(0)} <= index watermark $watermark. Ids at or below " +
            "the watermark would silently steal union keepers (rewriting " +
            "already-emitted corpus text) or double-count a replayed doc; " +
            "assign increment ids above the watermark, or probe an " +
            "unwatermarked one-shot index if you only need increment-side " +
            "batch equality under disjoint ids.")
    }

  /** Fold-side check + advance: enforces like [[requireAbove]] and returns
    * the new watermark `max(watermark, max(incoming id))`. An unwatermarked
    * index stays unwatermarked (no job runs).
    */
  private[graft] def requireAboveAndAdvance(incoming: DataFrame, idCol: String,
      watermark: Long, what: String): Long =
    if (watermark == Unwatermarked) Unwatermarked
    else {
      val r = incoming.agg(min(col(idCol).cast("long")),
        max(col(idCol).cast("long"))).head
      if (r.isNullAt(0)) watermark
      else {
        require(r.getLong(0) > watermark,
          s"$what: monotone doc-id contract violated — increment min id " +
            s"${r.getLong(0)} <= index watermark $watermark (see " +
            "IdContract: a violated fold silently corrupts the index state).")
        math.max(watermark, r.getLong(1))
      }
    }
}
