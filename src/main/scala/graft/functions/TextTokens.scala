package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word tokenizer: `text_tokens(text)` returns the maximal
  * `[a-z0-9]+` runs of `lower(text)` in document order — exactly
  * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)`, the corpus-wide
  * tokenization every text/dedup operator here builds on (retained in
  * test scope as `HofTwins.tokensHof` and pinned equal in TextTokensSpec).
  *
  * The regex form pays `lower()` materializing a second string, a
  * java.util.regex matcher walk, and a per-match String copy, per
  * document, on EVERY tokenizing query — the single hottest expression in
  * the pipeline suite. Here: one `UTF8String.toLowerCase` (ASCII fast
  * path), one scan over its UTF-8 bytes (`[a-z0-9]` can only occupy a
  * single ASCII byte, so token membership is a byte-range test and
  * multi-byte characters are skipped by their lead byte), and each token
  * is a ZERO-COPY `UTF8String.fromBytes` view over the lowered buffer.
  *
  * NULL text → NULL. Empty / token-free text → empty array.
  */
case class TextTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextTokenOps.tokens(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextTokenOps.tokens($s)")

  override def prettyName: String = "text_tokens"

  override protected def withNewChildInternal(newChild: Expression): TextTokens =
    copy(child = newChild)
}

object TextTokens {
  def textTokens(text: Column): Column =
    GraftSql.column(TextTokens(GraftSql.expression(text)))
}

/** Static helper called from generated code. */
object TextTokenOps {

  def tokens(text: UTF8String): GenericArrayData = {
    val lowered = text.toLowerCase
    val bs = lowered.getBytes
    val n = bs.length
    val buf = new java.util.ArrayList[Any]()
    var runSt = -1
    var i = 0
    while (i < n) {
      val b = bs(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (runSt < 0) runSt = i
      } else if (runSt >= 0) {
        buf.add(UTF8String.fromBytes(bs, runSt, i - runSt))
        runSt = -1
      }
      i += 1
    }
    if (runSt >= 0) buf.add(UTF8String.fromBytes(bs, runSt, n - runSt))
    new GenericArrayData(buf.toArray)
  }
}
