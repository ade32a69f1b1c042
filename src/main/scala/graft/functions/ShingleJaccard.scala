package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact character k-shingle Jaccard of two texts in ONE row-local pass:
  * `shingle_jaccard(a, b, k)` = `nab / (sz1 + sz2 − nab)` over the two
  * DISTINCT shingle sets (double arithmetic, as the shingle-row verify
  * computed it), 0.0 when no shingle is shared. It replaces the exploded
  * verify — shingle rows per candidate doc, a distinct, a size aggregate,
  * two shingle-level joins and a pair aggregate — by a list intersection
  * per candidate pair: each text's distinct shingles fill an
  * open-addressing table of byte ranges, b's table probes a's.
  *
  * Shingle semantics match `substring(lower(text), i, k)`: k code points
  * of the `UTF8String.toLowerCase` text, compared as exact byte ranges (the
  * hash only picks a slot, equality is always a byte compare); a text
  * shorter than k has no shingles. NULL on either side → NULL. Pinned
  * against the shingle-row definition in ShingleJaccardSpec.
  */
case class ShingleJaccard(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  require(k >= 1, s"shingle width must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got ${l.sql} and ${r.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = ShingleJaccardOps.jaccard(
    a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ShingleJaccardOps.jaccard($a, $b, $k)")

  override def prettyName: String = "shingle_jaccard"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

object ShingleJaccard {
  def shingleJaccard(a: Column, b: Column, k: Int): Column =
    GraftSql.column(ShingleJaccard(GraftSql.expression(a),
      GraftSql.expression(b), k))
}

/** Static helper called from generated code. */
object ShingleJaccardOps {

  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = new ShingleSet(a, k)
    val sb = new ShingleSet(b, k)
    var nab = 0
    for (s <- sb.slots) if (s != 0 && sa.find(sb, s - 1) >= 0) nab += 1
    if (nab == 0) 0.0 else nab.toDouble / (sa.size + sb.size - nab).toDouble
  }

  /** The distinct k-shingles of one lowered text: a linear-probing table
    * (load < 1/2) whose slots hold a shingle's start char + 1 (0 = empty).
    */
  private final class ShingleSet(text: UTF8String, k: Int) {
    val bs: Array[Byte] = text.toLowerCase.getBytes
    val offs = new Array[Int](bs.length + 1)
    private val n = math.max(0, MinhashSigOps.charStarts(bs, offs) - k + 1)
    val slots = new Array[Int](Integer.highestOneBit(2 * n + 1) * 2)
    var size = 0
    for (w <- 0 until n) {
      val i = find(this, w)
      if (i < 0) { slots(-i - 1) = w + 1; size += 1 }
    }

    /** The slot holding `s`'s shingle `w` here, else `-(free slot + 1)`. */
    def find(s: ShingleSet, w: Int): Int = {
      val mask = slots.length - 1
      var h = 0x811c9dc5 // FNV-1a over the shingle's bytes
      var i = s.offs(w)
      while (i < s.offs(w + k)) { h = (h ^ (s.bs(i) & 0xff)) * 0x01000193; i += 1 }
      i = (h ^ (h >>> 16)) & mask
      while (slots(i) != 0 && !java.util.Arrays.equals(
          bs, offs(slots(i) - 1), offs(slots(i) - 1 + k),
          s.bs, s.offs(w), s.offs(w + k)))
        i = (i + 1) & mask
      if (slots(i) != 0) i else -(i + 1)
    }
  }
}
