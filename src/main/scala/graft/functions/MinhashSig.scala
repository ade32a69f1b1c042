package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document MinHash signature in ONE pass:
  * `minhash_sig(text, k, n)` returns the n-element signature
  * `min over char-k-shingles of (a_i · (md5₆₀(shingle) mod p) + b_i) mod p`
  * — value-identical to the exploded formulation (shingle rows → md5 per
  * occurrence → one wide groupBy of n mins) every caller previously ran,
  * pinned in MinhashSigSpec.
  *
  * What the exploded form pays per document of L chars: L−k+1 generated
  * rows through the whole-stage pipeline, one `substring` allocation + one
  * UnsafeRow write per row, then a hash-aggregate over the explode output.
  * Here the same L−k+1 MD5s run over IN-PLACE byte ranges of the lowered
  * string (char-boundary offsets computed once; no substring objects, no
  * rows), the n affine updates fold into local registers, and the
  * signature emerges row-locally — so the signature stage of the near-dup
  * pipeline needs NO corpus-scale explode and NO aggregation exchange at
  * all. At 100 TB that converts the dedup pipeline's largest shuffle input
  * (shingle partial-aggregate rows) into pure map-side CPU.
  *
  * Shingle semantics match `substring(lower(text), i, k)` exactly: shingles
  * are k CHARACTERS (code points) of the lowered text, hashed as their
  * UTF-8 bytes; docs shorter than k chars → empty array (the exploded
  * path's length filter drops them before the explode). NULL text → NULL.
  * Seed constants come from [[MinhashSig.seedsFor]] — the single source of
  * truth also embedded into the generated DuckDB oracle SQL.
  */
case class MinhashSig(child: Expression, k: Int, n: Int)
    extends UnaryExpression {

  require(k >= 1, s"shingle width must be >= 1, got $k")
  require(n >= 1, s"signature width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    MinhashSigOps.signature(s.asInstanceOf[UTF8String], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.MinhashSigOps.signature($s, $k, $n)")

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {

  /** Prime field for the affine minhash family (2³¹−1, Mersenne). */
  val Prime: Long = 2147483647L

  /** Seed constants (a_i ∈ [1, p−1], b_i ∈ [0, p−1]) for the affine family
    * h_i(x) = (a_i·x + b_i) mod p — splitmix64-derived so they're well
    * spread but fully deterministic. `Dedup.minhashSeeds` delegates here
    * and the DuckDB oracles embed the same values.
    */
  def seedsFor(n: Int): Array[(Long, Long)] = Array.tabulate(n) { i =>
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = java.lang.Long.remainderUnsigned(mix(2L * i + 1), Prime - 2) + 1
    val b = java.lang.Long.remainderUnsigned(mix(2L * i + 2), Prime)
    (a, b)
  }

  def minhashSig(text: Column, k: Int, n: Int): Column =
    GraftSql.column(MinhashSig(GraftSql.expression(text), k, n))
}

/** Static helpers called from generated code. */
object MinhashSigOps {

  // per-width seed cache: (a_0..a_{n-1}, b_0..b_{n-1}) flattened
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()

  private def seeds(n: Int): (Array[Long], Array[Long]) =
    seedCache.computeIfAbsent(n, _ => {
      val s = MinhashSig.seedsFor(n)
      (s.map(_._1), s.map(_._2))
    })

  /** Char-boundary byte offsets of UTF-8 `bs`: fills `offs(c)` with the
    * byte index of char c and `offs(L) = bs.length`, returns L. `offs` is
    * sized `bs.length + 1` (the byte-scan worst case), NOT numChars+1:
    * numChars derives from lead-byte widths while this scan counts
    * non-continuation bytes, and on malformed UTF-8 (binary-cast strings)
    * the two disagree — a numChars-sized array would overflow. Hostile
    * bytes just yield deterministic garbage shingles instead of an
    * ArrayIndexOutOfBounds. Shared by every char-shingle kernel.
    */
  def charStarts(bs: Array[Byte], offs: Array[Int]): Int = {
    var c = 0
    var i = 0
    while (i < bs.length) {
      if ((bs(i) & 0xc0) != 0x80) { offs(c) = i; c += 1 }
      i += 1
    }
    offs(c) = bs.length
    c
  }

  def signature(text: UTF8String, k: Int, n: Int): GenericArrayData = {
    val p = MinhashSig.Prime
    val lowered = text.toLowerCase
    val bs = lowered.getBytes
    val offs = new Array[Int](bs.length + 1)
    val L = charStarts(bs, offs)
    if (L < k) return new GenericArrayData(Array.empty[Any])
    val (as, bs2) = seeds(n)
    val mins = Array.fill(n)(Long.MaxValue)
    var w = 0
    while (w <= L - k) {
      val base = Md5Hash60.hash60Range(bs, offs(w), offs(w + k) - offs(w)) % p
      var s = 0
      while (s < n) {
        val x = (base * as(s) + bs2(s)) % p
        if (x < mins(s)) mins(s) = x
        s += 1
      }
      w += 1
    }
    new GenericArrayData(mins.map(x => x: Any))
  }
}
