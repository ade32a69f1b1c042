package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native token/character coordinate bridge: `token_char_spans(text)`
  * returns `struct(spans: array<struct<st,en>>, n_chars: bigint)` — the
  * 0-based inclusive CHARACTER span of every `[a-z0-9]+` token of
  * `lower(text)` (exactly the [[graft.pipeline.TextPipeline.tokens]]
  * tokenization, so `size(spans)` is the token count and `spans(i)`
  * locates token i in the lowered string), plus the lowered string's
  * character length (`n_chars`), which callers compare against
  * `length(text)` to decide whether the offsets index the ORIGINAL string
  * too (they do whenever lowercasing preserves length — all of ASCII).
  *
  * This is the codegen'd twin of the higher-order-function bridge
  * (`regexp_extract_all` for the tokens + `split` on the same pattern for
  * the separators + an `aggregate` fold accumulating the char cursor,
  * retained in test scope as `HofTwins.tokenCharSpansHof` and pinned
  * equal in TokenCharSpansSpec). That chain runs three regex passes over every
  * document and builds the span array by per-element `array_append` on the
  * interpreted lambda evaluator — O(L²) array copying per doc. Here the
  * whole bridge is ONE branch-free scan over the lowered string's UTF-8
  * bytes: `[a-z0-9]` only ever occupies a single ASCII byte, so token
  * membership is a byte-range test and the character cursor advances on
  * non-continuation bytes. The original-byte removal family pays this for
  * EVERY document — cut or not — which is why the bridge, not the cut
  * geometry, dominated `p_exact_substr_removal_bytes` at ×100
  * (SCALING.md round 11).
  *
  * NULL text → NULL. Empty / token-free text → empty span array.
  */
case class TokenCharSpans(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def dataType: DataType = TokenCharSpans.outType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TokenCharSpanOps.spans(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TokenCharSpanOps.spans($s)")

  override def prettyName: String = "token_char_spans"

  override protected def withNewChildInternal(newChild: Expression): TokenCharSpans =
    copy(child = newChild)
}

object TokenCharSpans {
  val outType: DataType = StructType(Seq(
    StructField("spans", ArrayType(StructType(Seq(
      StructField("st", LongType, nullable = false),
      StructField("en", LongType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  def tokenCharSpans(text: Column): Column =
    GraftSql.column(TokenCharSpans(GraftSql.expression(text)))
}

/** Static helper called from generated code. */
object TokenCharSpanOps {

  /** One pass over the LOWERED string's UTF-8 bytes. Lowercasing uses
    * `UTF8String.toLowerCase` — the same mapping as Spark's `lower()`, so
    * offsets and `n_chars` agree exactly with the SQL-facing guard
    * `length(lower(text))`. A UTF-8 character's continuation bytes are
    * `10xxxxxx`; every other byte starts a character, so the char cursor
    * increments there, and `[a-z0-9]` — pure ASCII — can only match on a
    * single-byte character.
    */
  def spans(text: UTF8String): GenericInternalRow = {
    val lowered = text.toLowerCase
    val n = lowered.numBytes
    val buf = new java.util.ArrayList[Any]()
    var charIdx = -1L
    var runSt = -1L
    var i = 0
    while (i < n) {
      val b = lowered.getByte(i)
      if ((b & 0xc0) != 0x80) charIdx += 1
      val tok = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (tok) {
        if (runSt < 0) runSt = charIdx
      } else if (runSt >= 0) {
        buf.add(new GenericInternalRow(Array[Any](runSt, charIdx - 1L)))
        runSt = -1L
      }
      i += 1
    }
    if (runSt >= 0) buf.add(new GenericInternalRow(Array[Any](runSt, charIdx)))
    new GenericInternalRow(Array[Any](
      new GenericArrayData(buf.toArray), charIdx + 1L))
  }
}
