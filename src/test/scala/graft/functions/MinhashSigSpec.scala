package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the native whole-document MinHash signature to the exploded
  * definition it replaces: per char-k-shingle, base = md5₆₀(shingle) mod p
  * (the exact [[Md5Hash60]] bytes), then min over the affine family —
  * brute-forced per window here, and cross-checked as the FULL row-local
  * signature+banding chain (`Dedup.docBands`) against the exploded
  * shingle → minhash → bands chain on a corpus with exact dups, near
  * dups, short docs and Unicode. Both codegen and interpreted paths.
  */
class MinhashSigSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-minhashsig-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def bothPaths(body: => Unit): Unit = {
    body
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  /** Brute force: code-point k-shingles of the Java-lowered string, each
    * hashed through the SAME [[Md5Hash60.hash60]] the exploded path used.
    */
  private def brute(s: String, k: Int, n: Int): Seq[Long] = {
    val p = MinhashSig.Prime
    val l = s.toLowerCase(java.util.Locale.ROOT)
    val cps = l.codePoints().toArray
    if (cps.length < k) return Seq.empty
    val seeds = MinhashSig.seedsFor(n)
    val mins = Array.fill(n)(Long.MaxValue)
    for (i <- 0 to cps.length - k) {
      val sh = new String(cps, i, k)
      val base = Md5Hash60.hash60(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)) % p
      for (j <- 0 until n) {
        val (a, b) = seeds(j)
        val x = (base * a + b) % p
        if (x < mins(j)) mins(j) = x
      }
    }
    mins.toSeq
  }

  private val cases = Seq(
    "the cat sat on the mat",
    "abcde",            // exactly k=5 chars: one shingle
    "abcd",             // shorter than k: empty signature
    "", "!!!",
    "The CAT sat ON the mat",  // lowercase folding
    "é中文 mixed höla 中a文longer run of text",
    "😀 emoji x😀y tail with some length",
    "İstanbul İİ end — length-growing lowercase",
    "x" * 300,
    "the cat sat on the mat " * 20)

  test("kernel equals the brute-force exploded definition on every shape") {
    for (s <- cases; k <- Seq(3, 5); n <- Seq(1, 18)) {
      val out = MinhashSigOps.signature(UTF8String.fromString(s), k, n)
      val got = (0 until out.numElements()).map(out.getLong)
      assert(got == brute(s, k, n), s"case '$s' k=$k n=$n")
    }
  }

  test("Column form matches the kernel on both codegen and interpreted paths, incl. NULL") {
    val sp = spark; import sp.implicits._
    val df = (cases :+ null).toDF("t")
    bothPaths {
      val rows = df.select(MinhashSig.minhashSig(col("t"), 5, 18).as("sig")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        if (i == cases.length) assert(r.isNullAt(0), "NULL text must yield NULL")
        else assert(r.getSeq[Long](0) == brute(cases(i), 5, 18), s"case ${cases(i)}")
      }
    }
  }

  test("malformed UTF-8 degrades gracefully (no array overflow)") {
    // a 3-byte lead (0xE4) followed by ASCII bytes is malformed: numChars
    // (lead-byte widths) undercounts the non-continuation bytes the offset
    // scan sees. UTF8String.toLowerCase currently sanitizes via a String
    // round-trip, but the kernel must not DEPEND on that: the offset array
    // is sized by the byte-scan worst case, so hostile bytes yield a
    // deterministic signature instead of an ArrayIndexOutOfBounds.
    val hostile = Seq(
      Array[Byte](0xE4.toByte, 'A', 'B', 'C', 'D', 'E', 'F'),
      Array[Byte]('x', 0xC3.toByte, 'y', 'z', 'w', 'q', 0x85.toByte, 'r'),
      Array[Byte](0x85.toByte, 0x85.toByte, 'a', 'b', 'c', 'd', 'e'))
    hostile.foreach { bs =>
      val s = UTF8String.fromBytes(bs)
      val a = MinhashSigOps.signature(s, 5, 18)
      val b = MinhashSigOps.signature(s, 5, 18)
      assert((0 until a.numElements()).map(a.getLong) ==
        (0 until b.numElements()).map(b.getLong), "non-deterministic on hostile bytes")
    }
  }

  test("docBands equals the exploded shingle→minhash→bands chain on a mixed corpus") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.{Dedup, ShingleRows}
    val rnd = new scala.util.Random(59)
    val words = Vector("the", "cat", "sat", "mat", "dog", "ran", "far", "near")
    def doc() = Seq.fill(6 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc()))
    val corpus = (base ++
      base.take(8).map { case (i, t) => (100L + i, t) } ++            // exact dups
      base.take(8).map { case (i, t) => (200L + i, t + " extra") } ++ // near dups
      Seq((300L, "abc"), (301L, ""), (302L, "é中文 short"))            // sub-k / unicode
      ).toDF("doc_id", "text")
    for ((nh, rpb) <- Seq((18, 6), (16, 6))) { // incl. a partial trailing band
      val old = ShingleRows.bands(ShingleRows.minhash(
          ShingleRows.shingles(corpus, k = 5, dedup = false), nh), rpb)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val got = Dedup.docBands(corpus, k = 5, nHashes = nh, rowsPerBand = rpb)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == old, s"nHashes=$nh rowsPerBand=$rpb")
    }
  }
}
