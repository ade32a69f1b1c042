package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Det

/** Interpreted regex / higher-order-function definitions of the native text
  * kernels. Each is the independently-derived form its native expression
  * is property-tested against; none runs on a production path, so they
  * live in test scope. (`stopwordCountHof` / `langScoreHof` stay in
  * [[TextPipeline]]: README documents them as user opt-outs.)
  */
object HofTwins {

  /** Twin of [[TextPipeline.normalize]] (NormalizeTextSpec). */
  def normalizeHof(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Twin of [[TextPipeline.tokens]] (TextTokensSpec). */
  def tokensHof(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Twin of [[TextPipeline.bpeishTokenCount]] (TextCountsSpec). */
  def bpeishTokenCountHof(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Twin of [[TextPipeline.punctCount]] (TextCountsSpec). */
  def punctCountHof(c: Column): Column =
    size(regexp_extract_all(c, lit(s"[${TextPipeline.punctChars}]"), lit(0)))

  /** Twin of [[TextPipeline.wordGramArray]] (RepetitionSpec).
    * NULL text → NULL, like the native expression (the bare
    * when/otherwise would silently turn NULL into the empty array);
    * token arrays from `tokens` never contain NULL elements, so the
    * native path's element-poisoning case has no HOF analogue here.
    */
  def wordGramArrayHof(c: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = TextPipeline.tokens(c)
    // sequence(1, size-n+1) would count DOWN for short docs; guard first.
    when(toks.isNull, lit(null).cast("array<string>"))
      .when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Twin of the native [[graft.functions.TokenCharSpans]] token→char
    * coordinate bridge (TokenCharSpansSpec): one `regexp_extract_all` for
    * the tokens, one `split` on the same pattern for the `n+1` separators
    * around them (leading/trailing empties kept, so the interleave is
    * exact), then a single fold accumulating the char cursor —
    * `st(i) = |sep₀| + Σ_{j<i}(|tok_j| + |sep_{j+1}|)`. Offsets are
    * computed against the LOWERCASED text; they index the original
    * exactly whenever lowercasing preserves length (all of ASCII; the
    * rare exceptions — e.g. U+0130 İ lowercases to two chars — are why
    * `Dedup.emitPiecesOriginal` guards on the lowered length before
    * slicing the original).
    */
  def tokenCharSpansHof(text: Column): Column = {
    val lowered = lower(text)
    val toks = TextPipeline.tokens(text)
    val seps = split(lowered, "[a-z0-9]+", -1)
    val emptyArr = array().cast("array<struct<st:bigint,en:bigint>>")
    val lens = zip_with(toks, slice(seps, lit(2), size(toks)),
      (t, s) => struct(length(t).cast("long").as("tl"),
        length(s).cast("long").as("sl")))
    aggregate(
      lens,
      struct(emptyArr.as("arr"),
        length(element_at(seps, 1)).cast("long").as("cur")),
      (a, x) => struct(
        array_append(a.getField("arr"),
          struct(a.getField("cur").as("st"),
            (a.getField("cur") + x.getField("tl") - 1L).as("en"))).as("arr"),
        (a.getField("cur") + x.getField("tl") + x.getField("sl")).as("cur")),
      a => a.getField("arr"))
  }

  /** Exploded formulation of [[SimHash.simhash]] — tf groupBy + 60-column
    * vote aggregation — the independently-derived twin the native
    * kernel is pinned against (SimhashFpSpec).
    */
  def simhashExploded(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(TextPipeline.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("w"))
      .select(col("doc_id"), col("w"), Det.md5Hash60(col("tok")).as("h"))
    // all 60 bit-votes in one wide aggregation (exploding a bit column would
    // shuffle 60× the rows); the fingerprint assembles from the vote columns
    val voteAggs = (0 until 60).map(b =>
      sum(expr(s"w * ((shiftright(h, $b) & 1) * 2 - 1)")).as(s"v_$b"))
    val assemble = (0 until 60).map(b =>
      s"(CASE WHEN v_$b > 0 THEN shiftleft(cast(1 as bigint), $b) ELSE cast(0 as bigint) END)")
      .mkString(" + ")
    toks.groupBy("doc_id")
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"), expr(assemble).as("simhash"))
  }
}
