package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the native whole-document SimHash to the exploded definition:
  * per distinct token, md5₆₀ bit votes weighted by term frequency, bit b
  * of the fingerprint set iff vote_b > 0. Brute-forced per document here,
  * and cross-checked as whole DataFrames (`Dedup.simhash` native vs
  * `HofTwins.simhashExploded`) on a mixed corpus — including the token-free
  * doc the exploded form silently drops and the native form NULLs.
  */
class SimhashFpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-simhashfp-test")
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

  /** Brute force over Java-regex tokens and per-token [[Md5Hash60]]. */
  private def brute(s: String): Option[Long] = {
    val toks = "[a-z0-9]+".r.findAllIn(s.toLowerCase(java.util.Locale.ROOT)).toSeq
    if (toks.isEmpty) return None
    val votes = new Array[Long](60)
    toks.groupBy(identity).foreach { case (t, occ) =>
      val h = Md5Hash60.hash60(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val w = occ.size.toLong
      for (b <- 0 until 60)
        votes(b) += (if (((h >>> b) & 1L) == 1L) w else -w)
    }
    Some((0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum)
  }

  private val cases = Seq(
    "the cat sat on the mat",
    "the the the cat",          // tf weighting matters
    "", "!!!",                  // token-free → NULL
    "The CAT sat ON the mat",
    "é中文 mixed höla 中a文",
    "😀 emoji x😀y tail",
    "İstanbul İİ end",
    "a1b2 123 abc",
    ("lorem ipsum dolor sit amet " * 30) + "tail")

  test("kernel equals the brute-force vote fold on every shape") {
    cases.foreach { s =>
      val got = Option(SimhashFpOps.fingerprint(UTF8String.fromString(s))).map(_.longValue)
      assert(got == brute(s), s"case '$s'")
    }
  }

  test("native simhash DataFrame equals the exploded formulation on a mixed corpus") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(61)
    val words = Vector("the", "cat", "sat", "mat", "dog", "ran", "近", "ε")
    val corpus = ((0L until 60L).map(i =>
        (i, Seq.fill(3 + rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" "))) ++
        Seq((100L, ""), (101L, ";;;"), (102L, "solo")))
      .toDF("doc_id", "text")
    bothPaths {
      val native = graft.pipeline.SimHash.simhash(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val exploded = graft.pipeline.HofTwins.simhashExploded(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(native == exploded)
      assert(!native.contains(100L) && !native.contains(101L),
        "token-free docs must not appear (exploded-form parity)")
    }
  }
}
