package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Direct unit coverage for the native tokenizer. Binding property:
  * `text_tokens(text)` must equal the regex definition
  * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` on ANY input —
  * punctuation soup, multi-byte and supplementary Unicode, the U+0130
  * length-growing lowercase — since the whole suite's hashes ride on
  * that tokenization. Exercised on the static kernel, the Column under
  * whole-stage codegen, and the Column interpreted.
  */
class TextTokensSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-texttokens-test")
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

  private val cases = Seq(
    "a b c",
    "  Leading, trailing!  ",
    "",
    "!!!;;;",
    "ab",
    "A1b, C-2d! e",
    "é中文 mixed höla 中a文",
    "😀 emoji x😀y tail",
    "İstanbul İİ end",
    "tab\tand\nnewline breaks",
    "0123456789",
    "ALLCAPS MiXeD lower",
    "token" * 200)

  test("kernel equals the regex definition on every shape") {
    cases.foreach { s =>
      val got = {
        val arr = TextTokenOps.tokens(UTF8String.fromString(s))
        (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
      }
      val want = "[a-z0-9]+".r.findAllIn(s.toLowerCase(java.util.Locale.ROOT)).toSeq
      assert(got == want, s"case '$s'")
    }
  }

  test("Column form matches the regex twin on both codegen and interpreted paths, incl. NULL") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(47)
    val pool = "aZ9 .!é中\t-_"
    val soup = Seq.fill(200)(
      Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString)
    val df = (cases ++ soup :+ null).toDF("t")
    bothPaths {
      val got = df.select(
          TextTokens.textTokens(col("t")).as("native"),
          graft.pipeline.HofTwins.tokensHof(col("t")).as("regex"))
        .collect()
      got.zipWithIndex.foreach { case (r, i) =>
        if (r.isNullAt(1)) assert(r.isNullAt(0), s"row $i: NULL text must yield NULL")
        else assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i")
      }
    }
  }
}
