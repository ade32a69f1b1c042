package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Direct unit coverage for the native token→char coordinate bridge. The
  * binding property: `token_char_spans(text)` must equal the retained
  * higher-order-function derivation (`HofTwins.tokenCharSpansHof` — three
  * regex passes + a cursor fold over the token/separator interleave) on
  * ANY input, and `n_chars` must equal `length(lower(text))` — including
  * on multi-byte Unicode, supplementary (4-byte) characters, and the
  * length-CHANGING lowercase mappings (U+0130) the emit path's guard
  * exists for. Exercised on the static kernel directly (what generated
  * code calls), the Column under whole-stage codegen, and the Column with
  * codegen disabled (interpreted nullSafeEval).
  */
class TokenCharSpansSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-tokencharspans-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def kernel(s: String): (Seq[(Long, Long)], Long) = {
    val out = TokenCharSpanOps.spans(UTF8String.fromString(s))
    val arr = out.getArray(0)
    val spans = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getLong(0), r.getLong(1))
    }
    (spans, out.getLong(1))
  }

  /** Brute force over CODE POINTS of the Java-lowercased string — an
    * independent derivation of both the spans and the char count. Java's
    * `toLowerCase(Locale.ROOT)` and `UTF8String.toLowerCase` agree on
    * every case in this spec (ASCII fast path; the Unicode cases were
    * cross-checked by the equality below failing if they ever diverged).
    */
  private def brute(s: String): (Seq[(Long, Long)], Long) = {
    val l = s.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var st = -1L
    var charIdx = -1L
    var i = 0
    while (i < l.length) {
      val cp = l.codePointAt(i)
      charIdx += 1
      val tok = (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')
      if (tok && st < 0) st = charIdx
      if (!tok && st >= 0) { out += ((st, charIdx - 1)); st = -1 }
      i += Character.charCount(cp)
    }
    if (st >= 0) out += ((st, charIdx))
    (out.toSeq, charIdx + 1)
  }

  private def bothPaths(body: => Unit): Unit = {
    body
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  private val cases = Seq(
    "a b c",
    "  Leading, trailing!  ",
    "",
    "!!!;;;",
    "ab",
    "A1b, C-2d! e",
    "é中文 mixed höla 中a文",      // multi-byte chars interleaved with tokens
    "😀 emoji x😀y tail", // supplementary (4-byte) chars
    "İstanbul İİ end",            // U+0130: lowercase grows the string
    "tab\tand\nnewline breaks",
    "0123456789",
    "ALLCAPS MiXeD lower")

  test("kernel equals code-point brute force on every shape") {
    cases.foreach { s =>
      assert(kernel(s) == brute(s), s"case '$s'")
    }
    // randomized: mixed ASCII/punct/unicode soup
    val rnd = new scala.util.Random(43)
    val pool = "aZ9 .!é中\t-_"
    for (trial <- 1 to 200) {
      val s = Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString
      assert(kernel(s) == brute(s), s"trial $trial: '$s'")
    }
  }

  test("n_chars equals length(lower(text)), including the U+0130 growth case") {
    val sp = spark; import sp.implicits._
    val df = cases.toDF("t")
    val rows = df.select(
      TokenCharSpans.tokenCharSpans(col("t")).getField("n_chars").as("got"),
      length(lower(col("t"))).cast("long").as("want")).collect()
    rows.zip(cases).foreach { case (r, c) =>
      assert(r.getLong(0) == r.getLong(1), s"case '$c'")
    }
    // and the İ case really does grow: guard must be able to fire
    val i130 = rows(cases.indexOf("İstanbul İİ end"))
    assert(i130.getLong(0) == "İstanbul İİ end".length + 3L)
  }

  test("Column form matches the HOF derivation on both codegen and interpreted paths") {
    val sp = spark; import sp.implicits._
    val df = (cases :+ null).toDF("t")
    bothPaths {
      val got = df.select(
          TokenCharSpans.tokenCharSpans(col("t")).getField("spans").as("native"),
          graft.pipeline.HofTwins.tokenCharSpansHof(col("t")).as("hof"))
        .collect()
      got.zipWithIndex.foreach { case (r, i) =>
        if (i == cases.length) assert(r.isNullAt(0), "NULL text must yield NULL")
        else {
          def norm(j: Int) = r.getSeq[Row](j).map(x => (x.getLong(0), x.getLong(1)))
          assert(norm(0) == norm(1), s"case '${cases(i)}'")
        }
      }
    }
  }
}
