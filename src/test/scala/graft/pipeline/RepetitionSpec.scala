package graft.pipeline

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class RepetitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-repetition-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf(rows: (Long, String)*): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  /** Reference histogram stats: (max count, argmax gram w/ min-string
    * tie-break, distinct count).
    */
  private def exactStats(grams: Seq[String]): (Long, String, Long) =
    if (grams.isEmpty) (0L, "", 0L)
    else {
      val hist = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val best = hist.toSeq.minBy { case (g, c) => (-c, g) }
      (best._2, best._1, hist.size.toLong)
    }

  test("topRunStats matches a brute-force histogram on random arrays") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(11)
    val arrays = Seq.fill(60)(Seq.fill(rnd.nextInt(20))(s"g${rnd.nextInt(6)}"))
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "arr")
    val got = df.select(col("id"),
      Repetition.topRunStats(array_sort(col("arr"))).as("s"))
      .select(col("id"), col("s.best"), col("s.bestg"), col("s.uniq"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    arrays.zipWithIndex.foreach { case (a, i) =>
      assert(got(i.toLong) == exactStats(a), s"id=$i arr=$a")
    }
  }

  test("native GramRunStats == HOF topRunStats on random arrays (codegen path)") {
    val sp = spark; import sp.implicits._
    import graft.functions.GramRunStats.gramRunStats
    val rnd = new Random(41)
    // spark.range keeps the input non-foldable so whole-stage codegen runs
    val pool = Seq.tabulate(8)(i => s"g$i")
    val arrays = Seq.fill(80)(Seq.fill(rnd.nextInt(25))(pool(rnd.nextInt(pool.size))))
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a.mkString(" ")) }
      .toDF("id", "text")
    // n=1 (element runs) and n=3 (internal gram build) against the HOF twin
    val both = df.select(col("id"),
      gramRunStats(TextPipeline.tokens(col("text"))).as("nat"),
      Repetition.topRunStats(array_sort(TextPipeline.tokens(col("text")))).as("hof"),
      gramRunStats(TextPipeline.tokens(col("text")), 3).as("nat3"),
      Repetition.topRunStats(array_sort(TextPipeline.wordGramArray(col("text"), 3))).as("hof3"))
      .collect()
    both.foreach { r =>
      for ((ni, hi) <- Seq((1, 2), (3, 4))) {
        val nat = r.getStruct(ni)
        val hof = r.getStruct(hi)
        assert(nat.getLong(0) == hof.getLong(0), s"best @id=${r.getLong(0)} col$ni")
        assert(nat.getString(1) == hof.getString(1), s"bestg @id=${r.getLong(0)} col$ni")
        assert(nat.getLong(2) == hof.getLong(2), s"uniq @id=${r.getLong(0)} col$ni")
      }
    }
    // null element poisons (even when the array is shorter than n);
    // empty array is the zero struct
    val edge = Seq((0L, Seq[String]("a", null, "b")), (1L, Seq.empty[String]),
      (2L, Seq[String]("a", null)))
      .toDF("id", "arr")
      .select(col("id"), gramRunStats(col("arr")).as("s"),
        graft.functions.WordGrams.wordGrams(col("arr"), 3).as("g"))
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getStruct(1), if (r.isNullAt(2)) null else r.getSeq[String](2))))
      .toMap
    assert(edge(0L)._1 == null)
    assert(edge(1L)._1.getLong(0) == 0L && edge(1L)._1.getString(1) == "" && edge(1L)._1.getLong(2) == 0L)
    assert(edge(1L)._2 == Seq.empty[String])
    assert(edge(2L)._1 == null && edge(2L)._2 == null) // short AND dirty still poisons
    // NULL text: native and HOF twins agree on NULL out
    val nulls = docsDf(0L -> (null: String))
      .select(TextPipeline.wordGramArray(col("text"), 2).as("nat"),
        HofTwins.wordGramArrayHof(col("text"), 2).as("hof")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("wordGramArray: occurrence order and short-doc guard") {
    val df = docsDf(0L -> "a b a b a", 1L -> "a b")
    val got = df.select(col("doc_id"),
      TextPipeline.wordGramArray(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L) == Seq("a b a", "b a b", "a b a"))
    assert(got(1L).isEmpty)
  }

  test("native wordGramArray == HOF twin on random texts") {
    val rnd = new Random(53)
    val texts = Seq.fill(50)(Seq.fill(rnd.nextInt(15))(s"w${rnd.nextInt(5)}").mkString(" "))
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    for (n <- Seq(1, 2, 4)) {
      val rows = df.select(col("doc_id"),
        TextPipeline.wordGramArray(col("text"), n).as("nat"),
        HofTwins.wordGramArrayHof(col("text"), n).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"n=$n id=${r.getLong(0)}")
      }
    }
  }

  test("qualityByLang flags repeated-2-gram and duplicate-3-gram docs") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      // "spam spam" 2-gram dominates: 9 occurrences x 9 chars = 81 chars of
      // a 49-char text -> R1 fires; 3-grams all "spam spam spam" -> R2 fires
      (0L, "spam spam spam spam spam spam spam spam spam spam", "en"),
      // varied prose: no flags
      (1L, "the quick brown fox jumps over one lazy dog today", "en"),
      // too short for any gram: clean by construction
      (2L, "hi", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Repetition.qualityByLang(df)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("de", 1L, 0L, 0L, 1L), ("en", 2L, 1L, 1L, 1L)))
  }
}
