package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins every native one-pass text counter to the definition it replaces,
  * on adversarially-shaped inputs: word-boundary traps (substring words,
  * underscore/digit-adjacent words — `_` is `\w`, so "the_" must NOT
  * count), multi-byte and supplementary Unicode, the U+0130
  * length-growing lowercase, ASCII control whitespace, and random soup.
  * Both codegen and interpreted paths.
  *
  * Boundary-semantics note: Java's `\b` is UNICODE-aware ("中the文" does
  * NOT match `\bthe\b` under java.util.regex), while RE2 — the engine
  * behind the DuckDB oracle — defines `\b` over ASCII word chars (it
  * DOES match). The native counter deliberately implements the ASCII
  * (RE2/oracle) semantics, so the regex-equality pin runs on ASCII text
  * where all three agree, and the Unicode shapes are pinned against a
  * code-point brute force of the ASCII-run definition instead.
  */
class TextCountsSpec extends AnyFunSuite with BeforeAndAfterAll {

  import graft.pipeline.TextPipeline._
  import graft.pipeline.HofTwins.{bpeishTokenCountHof, punctCountHof}

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-textcounts-test")
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

  // ASCII-only shapes: Java \b, RE2 \b and the native ASCII-run semantics
  // all agree here, so native == Java-regex is the right pin.
  private val asciiCases = Seq(
    "the cat and the hat",
    "The THE tHe theatre there _the the_ 1the the1 the",  // boundary traps
    "a-the.the,the;the the!",
    "", "!!!", "   ",
    "und der die das, la le les... el en es",
    "tab\tthe\nthethe\fthe\rthe thethe",  // every Java \s char
    "a1b2c3 123 abc 1a2b -- ??",
    "punct: .,;:!? and .. ,, !!")

  // Unicode shapes: pinned against the brute force of the ASCII-run
  // definition (see class scaladoc) — NOT against Java regex.
  private val unicodeCases = Seq(
    "é中文 the mixed höla 中the文",
    "😀 the x😀the tail",
    "İstanbul the İİ the end",
    "éthe theé 中the1中 _the中")

  private def soup(seed: Int, n: Int, pool: String): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(50))(pool(rnd.nextInt(pool.length))).mkString)
  }

  private val asciiPool = "thea ndofis .!\t-_019Z"
  private val uniPool = "thea ndofis .!é中\t-_019Z"

  test("stopword / langScore word-set counts equal the \\b-alternation regex on ASCII text") {
    val sp = spark; import sp.implicits._
    val df = (asciiCases ++ soup(51, 300, asciiPool) :+ null).toDF("t")
    bothPaths {
      val cols = Seq(
        stopwordCount(col("t")).as("n0"), stopwordCountHof(col("t")).as("h0")) ++
        langWords.zip(langPatterns).zipWithIndex.flatMap {
          case (((_, ws), (_, p)), i) => Seq(
            langScore(col("t"), ws).as(s"n${i + 1}"),
            langScoreHof(col("t"), p).as(s"h${i + 1}"))
        }
      val rows = df.select(cols: _*).collect()
      rows.zipWithIndex.foreach { case (r, ri) =>
        for (i <- 0 to 4) {
          val (n, h) = (r.get(2 * i), r.get(2 * i + 1))
          assert(n == h, s"row $ri set $i: native $n != regex $h")
        }
      }
    }
  }

  /** Brute force of the ASCII-run definition: count maximal [a-z0-9_]
    * runs of the lowered text (any other code point, ASCII or not, breaks
    * a run) that equal a set word.
    */
  private def bruteWordCount(s: String, words: Set[String]): Int = {
    val l = s.toLowerCase(java.util.Locale.ROOT)
    var count = 0
    val sb = new StringBuilder
    def close(): Unit = { if (sb.nonEmpty && words(sb.toString)) count += 1; sb.clear() }
    var i = 0
    while (i < l.length) {
      val cp = l.codePointAt(i)
      val word = (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') || cp == '_'
      if (word) sb.appendAll(Character.toChars(cp)) else close()
      i += Character.charCount(cp)
    }
    close()
    count
  }

  test("word-set count on Unicode text follows the ASCII-run (RE2/oracle) semantics") {
    val all = unicodeCases ++ soup(57, 300, uniPool)
    all.foreach { s =>
      val got = TextCountOps.wordSetCount(UTF8String.fromString(s),
        WordSetCount.buildSet(stopwords))
      val want = bruteWordCount(s, stopwords.toSet)
      assert(got == want, s"case '$s'")
    }
    // and the divergence is real: Java regex refuses the CJK-adjacent hit
    val asciiRun = TextCountOps.wordSetCount(
      UTF8String.fromString("中the文"), WordSetCount.buildSet(Seq("the")))
    assert(asciiRun == 1)
    assert("\\bthe\\b".r.findAllIn("中the文").isEmpty)
  }

  test("bpeish and punct counts equal their regex definitions (incl. Unicode)") {
    val sp = spark; import sp.implicits._
    val df = (asciiCases ++ unicodeCases ++ soup(53, 300, uniPool) :+ null).toDF("t")
    bothPaths {
      val rows = df.select(
        bpeishTokenCount(col("t")).as("nb"), bpeishTokenCountHof(col("t")).as("hb"),
        punctCount(col("t")).as("np"), punctCountHof(col("t")).as("hp")).collect()
      rows.zipWithIndex.foreach { case (r, ri) =>
        assert(r.get(0) == r.get(1), s"row $ri bpeish: ${r.get(0)} != ${r.get(1)}")
        assert(r.get(2) == r.get(3), s"row $ri punct: ${r.get(2)} != ${r.get(3)}")
      }
    }
  }

  test("derived patterns are byte-identical to the original literals") {
    assert(stopwordPattern == "\\b(the|a|and|of|to|in|is|on|for|with)\\b")
    assert(langPatterns.toMap.apply("en") ==
      "\\b(the|and|of|to|in|is|that|it|was|for)\\b")
    assert(langPatterns.map(_._1) == Seq("en", "de", "fr", "es"))
  }

  test("semantically identical word-set counters canonicalize together") {
    // the words field is a Seq, not an Array, precisely so two counters
    // over the same list compare equal — Array equality is identity-based
    // and would defeat Catalyst CSE / exchange reuse (round-11 advice)
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    val c = BoundReference(0, StringType, nullable = true)
    val w1 = WordSetCount(c, Vector("the", "and"))
    val w2 = WordSetCount(c, List("the", "and"))
    assert(w1 == w2, "equal word lists must make equal expressions")
    assert(w1.hashCode == w2.hashCode)
    assert(w1.canonicalized == w2.canonicalized)
    assert(w1 != WordSetCount(c, Vector("the")))
  }
}
