package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Mechanical enforcement of the incremental indexes' monotone doc-id
  * contract ([[IdContract]]): a violating increment must fail LOUDLY at
  * every probe/fold entry — the silent alternative rewrites already-
  * emitted corpus text or double-counts a replayed doc — and the
  * watermark must survive the disk round-trip, advance across folds, and
  * stay disabled on the one-shot (unwatermarked) path.
  */
class IdContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-idcontract-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def df(rows: (Long, String)*) = {
    val ss = spark; import ss.implicits._
    rows.toDF("doc_id", "text")
  }

  private def corpus = df(
    1L -> "alpha beta gamma\n\ndelta epsilon zeta",
    5L -> "one two three four five six seven eight")
  private def violating = df(3L -> "anything at all")  // 3 <= watermark 5
  private def ok = df(9L -> "fresh content nine")

  private def assertViolates(what: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains("monotone doc-id contract violated"),
      s"$what: wrong failure message: ${e.getMessage}")
  }

  test("paragraph index: build watermarks, probe and fold reject a low id, fold advances") {
    val idx = ParagraphDedup.buildParagraphIndex(corpus)
    // a fold shares the segments of the handle it came from (SegmentStore
    // ownership): state is retired through the newest handle only
    var live = idx
    try {
      assert(idx.maxDocId == 5L)
      assertViolates("probe") {
        ParagraphDedup.incrementalDedupUnits(violating, idx).count()
      }
      assertViolates("fold") {
        ParagraphDedup.updateParagraphIndex(idx, violating)
      }
      live = ParagraphDedup.updateParagraphIndex(idx, ok)
      assert(live.maxDocId == 9L)
    } finally live.unpersist()
  }

  test("exact-substr index: probe and fold reject a low id; watermark round-trips") {
    val idx = Dedup.buildExactSubstrIndex(corpus, minLen = 3)
    try {
      assert(idx.maxDocId == 5L)
      assertViolates("probe") {
        Dedup.incrementalRemoveDupSpansExact(violating, idx).count()
      }
      assertViolates("fold") { Dedup.updateExactSubstrIndex(idx, violating) }
      val dir = java.nio.file.Files.createTempDirectory("graft-wm-substr").toString
      Dedup.writeExactSubstrIndex(idx, dir, nBuckets = 2)
      val rd = Dedup.readExactSubstrIndex(spark, dir)
      try {
        assert(rd.maxDocId == 5L, "watermark lost in the disk round-trip")
        assertViolates("reloaded probe") {
          Dedup.incrementalRemoveDupSpansExact(violating, rd).count()
        }
      } finally rd.unpersist()
    } finally idx.unpersist()
  }

  test("paragraph index watermark round-trips through write/read") {
    val idx = ParagraphDedup.buildParagraphIndex(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft-wm-para").toString
    ParagraphDedup.writeParagraphIndex(idx, dir, nBuckets = 2)
    val rd = ParagraphDedup.readParagraphIndex(spark, dir)
    try {
      assert(rd.maxDocId == 5L)
      assertViolates("reloaded probe") {
        ParagraphDedup.incrementalDedupUnits(violating, rd).count()
      }
    } finally { rd.unpersist(); idx.unpersist() }
  }

  test("near-dup index: probe and fold reject a low id; watermark round-trips") {
    val idx = Dedup.buildNearDupIndex(corpus)
    try {
      assert(idx.maxDocId == 5L)
      assertViolates("probe") {
        Dedup.incrementalNearDup(violating, idx, 0.7).count()
      }
      assertViolates("fold") { Dedup.updateNearDupIndex(idx, violating) }
      val dir = java.nio.file.Files.createTempDirectory("graft-wm-nd").toString
      Dedup.writeNearDupIndex(idx, dir, nBuckets = 2)
      val rd = Dedup.readNearDupIndex(spark, dir)
      try assert(rd.maxDocId == 5L, "watermark lost in the disk round-trip")
      finally rd.unpersist()
    } finally idx.unpersist()
  }

  test("clean index: the composed probe and fold reject a low id through the halves") {
    val idx = CleanPipeline.buildCleanIndex(corpus)
    try {
      assert(idx.maxDocId == 5L)
      assert(idx.substr.maxDocId == 5L,
        "substring half must inherit the raw-corpus watermark")
      assertViolates("probe") {
        CleanPipeline.incrementalCleanCorpus(violating, idx).count()
      }
      assertViolates("fold") { CleanPipeline.updateCleanIndex(idx, violating) }
      val folded = CleanPipeline.updateCleanIndex(idx, ok)
      try assert(folded.maxDocId == 9L)
      finally folded.unpersist()
    } finally idx.unpersist()
  }

  test("the one-shot convenience path stays unwatermarked: interleaved ids keep working") {
    // corpus ids ABOVE the increment's — exactly what the watermark
    // rejects, and exactly what the disjoint-id convenience contract
    // allows (the parity-split oracles rely on it)
    val out = ParagraphDedup.incrementalDedupUnits(
      df(1L -> "solo inc para"), corpus, ParagraphDedup.ParagraphSep)
    assert(out.count() == 1L)
    val spans = Dedup.incrementalRemoveDupSpansExact(
      df(1L -> "a b c"), corpus, 3)
    assert(spans.count() >= 1L)
    // an empty increment is a no-op against a watermarked index, not an error
    val idx = ParagraphDedup.buildParagraphIndex(corpus)
    var live = idx // retired through the newest handle, as above
    try {
      assert(ParagraphDedup.incrementalDedupUnits(
        df().limit(0), idx).count() == 0L)
      live = ParagraphDedup.updateParagraphIndex(idx, df().limit(0))
      assert(live.maxDocId == 5L)
    } finally live.unpersist()
  }
}
