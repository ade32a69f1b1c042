package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins `normalize_text` to `trim(regexp_replace(lower(text),'\s+',' '))`
  * on whitespace-adversarial and Unicode inputs, both codegen paths.
  */
class NormalizeTextSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-normalizetext-test")
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
    "a b", "  a  b  ", "", " ", "\t\n\f\r", "A\tB\nC",
    "one", "  Leading", "Trailing  ", "a\r\n\r\nb",
    "é中文  mixed\thöla  中a文", "😀  emoji\n tail", "İstanbul  İİ",
    "MiXeD   CaSehere")

  test("kernel equals the regex composition on every shape") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(67)
    val pool = "aB .\t\n\r\fé中!"
    val soup = Seq.fill(300)(
      Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString)
    val df = (cases ++ soup :+ null).toDF("t")
    bothPaths {
      val rows = df.select(
        graft.pipeline.TextPipeline.normalize(col("t")).as("n"),
        graft.pipeline.HofTwins.normalizeHof(col("t")).as("h")).collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        if (r.isNullAt(1)) assert(r.isNullAt(0), s"row $i: NULL must stay NULL")
        else assert(r.getString(0) == r.getString(1), s"row $i")
      }
    }
    // direct kernel check of the pure-whitespace edge
    assert(NormalizeTextOps.normalize(UTF8String.fromString(" \t ")).toString == "")
  }
}
