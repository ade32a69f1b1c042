package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.pipeline.{Dedup, ShingleRows}

/** Pins the native shingle-set Jaccard kernel, and the one verify built on
  * it (`Dedup.jaccardVerify`), to the shingle-row definition it replaced
  * ([[ShingleRows.jaccardVerify]]): same pairs, same doubles bit for bit,
  * on ASCII, mixed case, 2/3/4-byte code points, repeated shingles,
  * texts of length k−1, k and k+1, empty and NULL text, and 200 seeded
  * random pairs. Both codegen and interpreted paths.
  */
class ShingleJaccardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-shinglejaccard-test")
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

  private val cases: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumped over the lazy dogs",
    "The QUICK Brown FOX jumps OVER the lazy DOG",   // mixed case → 1.0
    "café naïve résumé über straße",                 // 2-byte code points
    "cafe naive resume uber strasse",
    "中文字符测试中文字符",                             // 3-byte code points
    "中文字符测试 mixed 中文",
    "😀😁😂🤣😃😄 emoji 😀😁😂",                        // 4-byte code points
    "😀😁😂🤣 emoji",
    "abababababababab",                              // repeated shingles
    "abababab",
    "aaaaaaaaaaaa",
    "aaaaa",
    "abcd", "abcde", "abcdef",                       // k−1, k, k+1 at k = 5
    "bcdef", "ABCDE",
    "", "a")

  /** Random pairs over an alphabet mixing 1- to 4-byte code points; the
    * second text is a light mutation of the first half the time, so many
    * pairs share shingles.
    */
  private def randomPairs(n: Int, seed: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = Vector("a", "b", "c", "A", "B", " ", "é", "Ж", "中", "😀")
    def text(): String =
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.size))).mkString
    def mutate(s: String): String = {
      val cps = s.codePoints().toArray.map(c => new String(Character.toChars(c)))
      cps.map(c => if (rnd.nextInt(6) == 0) alphabet(rnd.nextInt(alphabet.size))
        else c).mkString
    }
    Seq.fill(n) {
      val a = text()
      (a, if (rnd.nextBoolean()) mutate(a) else text())
    }
  }

  private def asMap(df: DataFrame): Map[(Long, Long), Long] =
    df.select("d1", "d2", "jaccard").collect().map(r =>
      (r.getLong(0), r.getLong(1)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap

  test("the verify equals the shingle-row definition bit for bit, with the same pairs") {
    val sp = spark; import sp.implicits._
    val rand = randomPairs(200, 71)
    val texts: Seq[String] = cases ++ rand.flatMap { case (a, b) => Seq(a, b) }
    val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (texts.size.toLong, null: String)).toDF("doc_id", "text")
    val nc = cases.size
    val handPairs = for (i <- 0 until nc; j <- i + 1 until nc) yield (i.toLong, j.toLong)
    val randPairs = rand.indices.map(p => ((nc + 2 * p).toLong, (nc + 2 * p + 1).toLong))
    val nullPairs = Seq((0L, texts.size.toLong), (texts.size.toLong, 1L))
    val cand = (handPairs ++ randPairs ++ nullPairs).toDF("d1", "d2")
    for (k <- Seq(3, 5)) {
      val ref = asMap(ShingleRows.jaccardVerify(cand,
        ShingleRows.shingles(docs, k = k), 0.0))
      bothPaths {
        val got = asMap(Dedup.jaccardVerify(cand, docs, k, 0.0))
        assert(got.keySet == ref.keySet,
          s"k=$k pairs differ: only-kernel=${got.keySet -- ref.keySet} " +
            s"only-rows=${ref.keySet -- got.keySet}")
        got.foreach { case (p, bits) =>
          assert(bits == ref(p), s"k=$k jaccard differs at $p") }
      }
      assert(ref.size > 50 && ref.size < cand.count(),
        s"k=$k: the cases must cover both shared and disjoint pairs")
    }
  }

  test("a pair with no shared shingle emits no verify row; the kernel reads 0.0") {
    val sp = spark; import sp.implicits._
    val docs = Seq(0L -> "aaaaaaaa", 1L -> "bbbbbbbb", 2L -> "aaaaaaaa",
      3L -> "abc").toDF("doc_id", "text")
    val cand = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 3L)).toDF("d1", "d2")
    val out = asMap(Dedup.jaccardVerify(cand, docs, 5, 0.0))
    assert(out.keySet == Set((0L, 2L)), s"got ${out.keySet}")
    def j(a: String, b: String) = ShingleJaccardOps.jaccard(
      UTF8String.fromString(a), UTF8String.fromString(b), 5)
    assert(j("aaaaaaaa", "bbbbbbbb") == 0.0)
    assert(j("abc", "abc") == 0.0, "texts shorter than k have no shingles")
    assert(j("aaaaaaaa", "aaaaaaaa") == 1.0)
  }

  test("Column form: NULL on either side yields NULL; extra candidate columns ride through") {
    val sp = spark; import sp.implicits._
    val df = Seq(("abcdefg", null: String), (null: String, "abcdefg"),
      ("abcdefg", "abcdefg")).toDF("a", "b")
    bothPaths {
      val rows = df.select(ShingleJaccard.shingleJaccard(col("a"), col("b"), 5))
        .collect()
      assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
      assert(rows(2).getDouble(0) == 1.0)
    }
    val docs = Seq(0L -> "abcdefgh", 1L -> "abcdefgx").toDF("doc_id", "text")
    val out = Dedup.jaccardVerify(Seq((0L, 1L, true)).toDF("d1", "d2", "x"),
      docs, 5, 0.0)
    assert(out.columns.toSeq == Seq("d1", "d2", "x", "jaccard"))
    // shingles: abcde bcdef cdefg | defgh vs defgx → 3 / (4 + 4 − 3)
    assert(out.head.getDouble(3) == 3.0 / 5.0)
  }
}
