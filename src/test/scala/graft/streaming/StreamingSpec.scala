package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("graft-streaming-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming exact-dedup drops duplicate fingerprints within the watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingPipeline.dedupStream(
      input.toDF().toDF("ts", "text"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2026-01-01 10:00:00"), "Hello   World"),
        (ts("2026-01-01 10:00:30"), "hello world"), // same fp within watermark → dropped
        (ts("2026-01-01 10:01:00"), "something else"))
      q.processAllAvailable()
      val rows = sp.sql("SELECT text FROM dedup_out").collect().map(_.getString(0))
      assert(rows.length == 2, rows.toSeq)
      assert(rows.count(_.toLowerCase.contains("hello")) == 1)
    } finally q.stop()
  }

  test("windowed streaming text profile aggregates per (window, lang)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val out = StreamingPipeline.textProfileStream(
      input.toDF().toDF("ts", "lang", "text"), "ts", "5 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("profile_out")
      .outputMode("update").start()
    try {
      input.addData(
        (ts("2026-01-01 10:00:10"), "en", "the cat and the dog"),
        (ts("2026-01-01 10:01:10"), "en", "a bird in the bush"),
        (ts("2026-01-01 10:02:10"), "de", "der hund und die katze"))
      q.processAllAvailable()
      val rows = sp.sql("SELECT lang, n_docs, sum_tokens FROM profile_out")
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      // one entry per lang since all rows share one 5-minute window
      assert(rows.size == 2)
      val en = sp.sql("SELECT n_docs, sum_tokens FROM profile_out WHERE lang='en'").head()
      assert(en.getLong(0) == 2 && en.getLong(1) == 10)
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingPipeline.sessionizeStream(
      input.toDF().toDF("user_id", "ts", "value"),
      gapMs = 10 * 60 * 1000, delayThreshold = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 55-min gap
      // opens a second session within the same batch → first closes inline
      input.addData(
        (1L, ts("2026-01-01 10:00:00"), 1.0),
        (1L, ts("2026-01-01 10:05:00"), 2.0),
        (1L, ts("2026-01-01 11:00:00"), 4.0),
        (2L, ts("2026-01-01 10:00:00"), 8.0),
        (2L, ts("2026-01-01 10:02:00"), 16.0))
      q.processAllAvailable()
      // a much later event pushes the watermark past every open timeout
      input.addData((9L, ts("2026-01-01 20:00:00"), 0.5))
      q.processAllAvailable()
      val rows = sp.sql(
        """SELECT user_id, session_start, session_end, n_events, sum_value
          |FROM sess_out ORDER BY user_id, session_start""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4)))
      assert(rows.toSeq == Seq(
        (1L, ts("2026-01-01 10:00:00"), ts("2026-01-01 10:05:00"), 2L, 3.0),
        (1L, ts("2026-01-01 11:00:00"), ts("2026-01-01 11:00:00"), 1L, 4.0),
        (2L, ts("2026-01-01 10:00:00"), ts("2026-01-01 10:02:00"), 2L, 24.0)))
    } finally q.stop()
  }

  test("streaming sessionization matches the batch operator on closed sessions") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val gapMs = 10 * 60 * 1000L
    val events = Seq(
      (1L, ts("2026-01-01 09:00:00"), 1.0),
      (1L, ts("2026-01-01 09:04:00"), 2.0),
      (1L, ts("2026-01-01 09:30:00"), 4.0),
      (3L, ts("2026-01-01 09:10:00"), 8.0),
      (3L, ts("2026-01-01 09:12:00"), 16.0),
      (3L, ts("2026-01-01 09:40:00"), 32.0))
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingPipeline.sessionizeStream(
      input.toDF().toDF("user_id", "ts", "value"), gapMs, "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData((99L, ts("2026-01-02 00:00:00"), 0.0)) // advance watermark
      q.processAllAvailable()
      val streamed = sp.sql(
        """SELECT user_id, session_start, session_end, n_events, sum_value
          |FROM sess_parity WHERE user_id != 99""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getLong(3), r.getDouble(4))).toSet
      val batch = graft.pipeline.Sessionize.sessions(
          events.toDF("user_id", "ts", "value"), gapMs * 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2) / 1000, r.getLong(3) / 1000,
          r.getLong(4), r.getDouble(5))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming as-of enrich: exact within a batch, latest-ref state across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = MemoryStream[(Long, Timestamp, Double)]
    val refs = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingPipeline.asofEnrichStream(
      events.toDF().toDF("key", "ts", "value"),
      refs.toDF().toDF("key", "ts", "ref_value"))
    // batch 1 data is buffered BEFORE the query starts so refs and events
    // land in ONE micro-batch (started queries may split two addData calls
    // across batches, which would exercise only the cross-batch path):
    // within-batch exactness — event at 10:05 sees the 10:00 ref, not the
    // 10:10 one; event at 09:55 predates every ref → null; a tied
    // timestamp includes the ref (at-or-before)
    refs.addData((1L, ts("2026-01-01 10:00:00"), 100.0),
      (1L, ts("2026-01-01 10:10:00"), 200.0))
    events.addData(
      (1L, ts("2026-01-01 09:55:00"), 1.0),
      (1L, ts("2026-01-01 10:05:00"), 2.0),
      (1L, ts("2026-01-01 10:10:00"), 3.0))
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val b1 = sp.sql("SELECT value, ref_value FROM asof_out").collect()
        .map(r => r.getDouble(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      assert(b1(1.0).isEmpty, "event before any ref must enrich to null")
      assert(b1(2.0).contains(100.0), "mid event must see the 10:00 ref")
      assert(b1(3.0).contains(200.0), "tied timestamp includes the ref")

      // batch 2: only the LATEST ref survives as state
      events.addData((1L, ts("2026-01-01 10:20:00"), 4.0))
      q.processAllAvailable()
      val b2 = sp.sql("SELECT ref_value FROM asof_out WHERE value = 4.0")
        .head().getDouble(0)
      assert(b2 == 200.0)
      // a key with no refs at all enriches to null
      events.addData((2L, ts("2026-01-01 10:21:00"), 5.0))
      q.processAllAvailable()
      assert(sp.sql("SELECT ref_value FROM asof_out WHERE value = 5.0").head().isNullAt(0))
    } finally q.stop()
  }

  test("streaming as-of TTL evicts idle references once the watermark passes") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = MemoryStream[(Long, Timestamp, Double)]
    val refs = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingPipeline.asofEnrichStream(
      events.toDF().toDF("key", "ts", "value"),
      refs.toDF().toDF("key", "ts", "ref_value"),
      delayThreshold = "1 second", stateTtlMs = 60000L)
    refs.addData((1L, ts("2026-01-01 10:00:00"), 100.0))
    events.addData((1L, ts("2026-01-01 10:00:30"), 1.0))
    val q = out.writeStream.format("memory").queryName("asof_ttl_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sp.sql("SELECT ref_value FROM asof_ttl_out WHERE value = 1.0")
        .head().getDouble(0) == 100.0)
      // advance the watermark far past key 1's TTL (timeout at 10:01:30)…
      events.addData((2L, ts("2026-01-01 11:00:00"), 2.0))
      q.processAllAvailable()
      // …so the NEXT trigger evicts key 1's reference (it has no new data)
      events.addData((3L, ts("2026-01-01 11:00:10"), 3.0))
      q.processAllAvailable()
      // a later key-1 event finds no reference — enriched to null
      events.addData((1L, ts("2026-01-01 11:02:00"), 4.0))
      q.processAllAvailable()
      assert(sp.sql("SELECT ref_value FROM asof_ttl_out WHERE value = 4.0")
        .head().isNullAt(0), "evicted reference must enrich to null")
    } finally q.stop()
  }

  test("streaming rate sample gives the batch verdicts; streaming PII scrub redacts") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = (0L until 50L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
    val input = MemoryStream[(Long, String)]
    val out = StreamingPipeline.rateSampleStream(
      input.toDF().toDF("doc_id", "lang"), "lang",
      Map("en" -> 1000, "zh" -> 200), 500, "s-mix", "doc_id")
    val q = out.writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    try {
      input.addData(rows.take(20): _*)
      q.processAllAvailable()
      input.addData(rows.drop(20): _*) // second micro-batch: verdicts stable
      q.processAllAvailable()
      val got = sp.sql("SELECT doc_id, keep FROM rate_out")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = graft.pipeline.Sampling.rateSample(rows.toDF("doc_id", "lang"),
          org.apache.spark.sql.functions.col("lang"),
          Map("en" -> 1000, "zh" -> 200), 500, "s-mix", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got == batch, "stream and batch must agree row-for-row")
      assert(got.count(_._2) < 50 && got.count(_._2) > 25, "en kept, zh mostly dropped")
    } finally q.stop()

    val pin = MemoryStream[String]
    val pq = StreamingPipeline.piiScrubStream(pin.toDF().toDF("text"))
      .writeStream.format("memory").queryName("pii_out").outputMode("append").start()
    try {
      pin.addData("mail bob@x.io from 10.1.2.3 now")
      pq.processAllAvailable()
      val r = sp.sql("SELECT n_emails, redacted FROM pii_out").collect().head
      assert(r.getInt(0) == 1 && r.getString(1) == "mail [EMAIL] from [IP] now")
    } finally pq.stop()
  }

  test("streaming dup-span profile: row-local islands match the batch semi-join profile") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val n = 2
    // snapshot corpus: docs 0/1 share (a b),(b c),(c d) and (f g),(g h);
    // doc 2 shares nothing; doc 3 too short for a bigram
    val corpus = Seq(
      (0L, "a b c d e q f g h"),
      (1L, "a b c d x x f g h"),
      (2L, "zz yy"),
      (3L, "solo")).toDF("doc_id", "text")
    val dupGrams = graft.pipeline.Dedup.dupGramArray(corpus, n)
    assert(dupGrams.length == 5) // (a b),(b c),(c d),(f g),(g h)
    val batch = graft.pipeline.Dedup.dupSpanProfile(corpus, n)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens"))).toMap

    val input = MemoryStream[(Long, String)]
    val out = StreamingPipeline.dupSpanProfileStream(
      input.toDF().toDF("doc_id", "text"), dupGrams, n)
    val q = out.writeStream.format("memory").queryName("spans_out")
      .outputMode("append").start()
    try {
      input.addData((0L, "a b c d e q f g h"), (1L, "a b c d x x f g h"))
      q.processAllAvailable()
      input.addData((2L, "zz yy"), (3L, "solo")) // second micro-batch
      q.processAllAvailable()
      val got = sp.sql(
        """SELECT doc_id, n_tokens, n_dup_windows, n_spans, covered_tokens
          |FROM spans_out""".stripMargin)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == batch, "stream and batch span profiles must agree row-for-row")
      assert(got(0L) == ((9L, 5L, 2L, 7L))) // tokens 0..3 and 6..8 covered
    } finally q.stop()
  }

  test("streaming MULTI-ORDER dup-span profile matches the batch multi-order profile") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val ns = Seq(2, 3)
    val minLen = 3
    // docs 0/1 share long runs at both orders; doc 2 shares a SHORT run
    // (must be filtered by minLen); doc 3 shares nothing
    val corpus = Seq(
      (0L, "a b c d e q f g h"),
      (1L, "a b c d x x f g h"),
      (2L, "q q pp qq rr"),
      (3L, "nothing shared here")).toDF("doc_id", "text")
    val gramsByOrder = ns.map(n =>
      n -> graft.pipeline.Dedup.dupGramArray(corpus, n))
    val batch = graft.pipeline.Dedup.dupSpanProfileMulti(corpus, ns, minLen)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("covered_tokens"), r.getAs[Long]("longest_span"))).toMap

    val input = MemoryStream[(Long, String)]
    val out = StreamingPipeline.dupSpanProfileMultiStream(
      input.toDF().toDF("doc_id", "text"), gramsByOrder, minLen)
    val q = out.writeStream.format("memory").queryName("spans_multi_out")
      .outputMode("append").start()
    try {
      input.addData((0L, "a b c d e q f g h"), (1L, "a b c d x x f g h"))
      q.processAllAvailable()
      input.addData((2L, "q q pp qq rr"), (3L, "nothing shared here"))
      q.processAllAvailable()
      val got = sp.sql(
        """SELECT doc_id, n_tokens, n_spans, covered_tokens, longest_span
          |FROM spans_multi_out""".stripMargin)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == batch, "stream and batch multi-order profiles must agree")
      assert(got(0L)._2 >= 1L && got(0L)._4 >= minLen.toLong,
        "doc 0 must carry a kept span")
    } finally q.stop()
  }

  test("streaming exact-substring removal: index fold makes every micro-batch batch-equal") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val minLen = 3
    val corpus = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "x x a b c d e y y"),  // repeats corpus run "a b c d e" -> cut vs index
      (11L, "p q r s t u v"))      // unique now; batch 2 repeats its prefix
    val batch2 = Seq(
      (20L, "m m p q r s t n n"),  // repeats BATCH-1 doc 11's "p q r s t" — cut
                                   // ONLY because the fold carried b1's grams
      (21L, "w1 w2 w3"))           // unique
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq

    val idx0 = graft.pipeline.Dedup.buildExactSubstrIndex(corpus, minLen)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.removeDupSpansExactStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (pieces, _) => got.synchronized { got ++= shape(pieces.collect()) })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()
    // the surviving handle is the corpus ∪ all-batches state — what
    // deployment would persist for tomorrow; pin it against a fresh build
    val finalIdx = h.currentIndex()
    val fresh = graft.pipeline.Dedup.buildExactSubstrIndex(
      corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")), minLen)
    def gramSet(i: graft.pipeline.Dedup.ExactSubstrIndex) = i.store.merged.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("nocc"),
        (r.getStruct(3).getLong(0), r.getStruct(3).getLong(1)))).toSet
    assert(gramSet(finalIdx) == gramSet(fresh),
      "post-stream index must equal a fresh build over the union")
    finalIdx.unpersist(); fresh.unpersist(); idx0.unpersist()

    // ids are monotone across corpus -> b1 -> b2, so the stream's pieces
    // must be bit-equal to ONE batch run over everything, per batch doc
    val expected = shape(graft.pipeline.Dedup.removeDupSpansExact(
        corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")), minLen)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10L)
      .orderBy("doc_id", "piece_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected,
      "streamed pieces diverge from the batch run over the union")
    val cutDocs = got.filter(_._6 > 0).map(_._1).toSet
    assert(cutDocs == Set(10L, 20L),
      s"docs 10 (vs corpus) and 20 (vs batch-1 fold) must be cut: $cutDocs")
  }

  test("streaming segmented substr removal: batch-equal pieces, one delta per batch, compaction equals a fresh union build") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val minLen = 3
    val corpus = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "x x a b c d e y y"),  // repeats corpus run "a b c d e" -> cut vs base
      (11L, "p q r s t u v"))      // unique now; batch 2 repeats its prefix
    val batch2 = Seq(
      (20L, "m m p q r s t n n"),  // cut ONLY because batch 1's delta segment
                                   // carried doc 11's grams into this probe
      (21L, "w1 w2 w3"))           // unique
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
    val idx0 = graft.pipeline.Dedup.buildExactSubstrIndex(
      corpus, minLen, compactFraction = Double.MaxValue)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.removeDupSpansExactStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (pieces, _) => got.synchronized { got ++= shape(pieces.collect()) })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()
    val finalIdx = h.currentIndex()
    // the O(batch) fold left exactly one immutable delta per micro-batch
    assert(finalIdx.store.deltas.size == 2 && finalIdx.maxDocId == 21L,
      s"expected base + 2 deltas @ wm 21, got ${finalIdx.store.deltas.size} " +
        s"@ ${finalIdx.maxDocId}")
    // ids are monotone across corpus -> b1 -> b2, so the stream's pieces
    // must be bit-equal to ONE batch run over everything, per batch doc
    val expected = shape(graft.pipeline.Dedup.removeDupSpansExact(
        corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")), minLen)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10L)
      .orderBy("doc_id", "piece_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected,
      "streamed pieces diverge from the batch run over the union")
    val cutDocs = got.filter(_._6 > 0).map(_._1).toSet
    assert(cutDocs == Set(10L, 20L),
      s"docs 10 (vs base) and 20 (vs batch-1 delta) must be cut: $cutDocs")
    // compacting the surviving handle recovers the one-base state — the
    // periodic deployment job — gram for gram vs a fresh union build
    val compacted = finalIdx.store.compact()
    val fresh = graft.pipeline.Dedup.buildExactSubstrIndex(
      corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")), minLen)
    def gramSet(grams: org.apache.spark.sql.DataFrame) = grams.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("nocc"),
        (r.getStruct(3).getLong(0), r.getStruct(3).getLong(1)))).toSet
    assert(gramSet(compacted.base) == gramSet(fresh.store.base),
      "compacted post-stream index must equal a fresh build over the union")
    compacted.unpersist(); fresh.unpersist()
  }

  test("streaming paragraph dedup: batch-equal kept units, fold equals a fresh union build") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val corpus = Seq(
      (0L, "corpus boilerplate\n\nunique corpus para"),
      (1L, "another unique\n\ncorpus boilerplate")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "corpus boilerplate\n\nfresh b1 para"), // cut vs the initial index
      (11L, "carried para\n\nsolo b1"))             // unique now; b2 repeats it
    val batch2 = Seq(
      (20L, "carried para\n\nsolo b2"), // cut ONLY because the fold carried b1
      (21L, "never repeated\n\n   "))   // untouched (blank unit stays exempt)
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("unit_idx"),
        r.getAs[Long]("char_st"), r.getAs[Long]("char_en"),
        r.getAs[Long]("cut_units"), r.getAs[String]("text"))).toSeq

    val idx0 = graft.pipeline.ParagraphDedup.buildParagraphIndex(corpus)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.dedupUnitsStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (kept, _) => got.synchronized { got ++= shape(kept.collect()) })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()

    // the surviving handle is corpus ∪ all-batches state; pin it against a
    // fresh build over the union (the (sum, min) fold-equality claim)
    val union = corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text"))
    val finalIdx = h.currentIndex()
    val fresh = graft.pipeline.ParagraphDedup.buildParagraphIndex(union)
    def unitsOf(i: graft.pipeline.ParagraphDedup.ParagraphIndex) =
      i.store.merged.collect().map(r => (r.getLong(0), r.getLong(1),
        (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))).toSet
    assert(unitsOf(finalIdx) == unitsOf(fresh),
      "post-stream index must equal a fresh build over the union")
    finalIdx.unpersist(); fresh.unpersist(); idx0.unpersist()

    // ids are monotone across corpus -> b1 -> b2, so the streamed kept
    // units must be bit-equal to ONE batch run over everything
    val expected = shape(graft.pipeline.ParagraphDedup.dedupUnits(union)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10L)
      .orderBy("doc_id", "unit_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected,
      "streamed kept units diverge from the batch run over the union")
    val cutDocs = got.filter(_._5 > 0).map(_._1).toSet
    assert(cutDocs == Set(10L, 20L),
      s"docs 10 (vs corpus) and 20 (vs batch-1 fold) must be cut: $cutDocs")
  }

  test("streaming FULL cleanup: all three halves fold, every batch equals the incremental probe chain") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def long200(c: Char): String = (1 to 200).map(i => s"$c$i").mkString(" ")
    def run25(c: Char): String = (1 to 25).map(i => s"$c$i").mkString(" ")
    val baseA = long200('a'); val baseB = long200('b')
    val corpus = Seq(
      (0L, baseA),                              // near-dup anchor
      (1L, s"${run25('r')} ${run25('m')} ok")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, s"$baseA x9 tail"),  // near-dups corpus 0 — dropped whole
      (11L, baseB))              // novel — survives; batch 2 near-dups it
    val batch2 = Seq(
      (20L, s"$baseB y7 end"),   // near-dups BATCH-1 doc 11 — dropped ONLY
                                 //   because the LSH half folded b1
      (21L, s"${run25('w')} ${run25('r')}")) // survives doc-level; loses the
                                 //   r-run at stage 3 vs corpus survivor 1
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq

    val idx0 = graft.pipeline.CleanPipeline.buildFullCleanIndex(corpus)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.fullCleanCorpusStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (pieces, _) => got.synchronized { got ++= shape(pieces.collect()) })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()

    // every micro-batch must equal the incremental probe chain run by hand
    val idxA = graft.pipeline.CleanPipeline.buildFullCleanIndex(corpus)
    val exp1 = shape(graft.pipeline.CleanPipeline.incrementalFullClean(
      batch1.toDF("doc_id", "text"), idxA).orderBy("doc_id", "piece_idx").collect())
    val idxB = graft.pipeline.CleanPipeline.updateFullCleanIndex(
      idxA, batch1.toDF("doc_id", "text"))
    val exp2 = shape(graft.pipeline.CleanPipeline.incrementalFullClean(
      batch2.toDF("doc_id", "text"), idxB).orderBy("doc_id", "piece_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq ==
      (exp1 ++ exp2).sortBy(t => (t._1, t._2)),
      "streamed pieces diverge from the incremental probe chain")
    val survivors = got.map(_._1).toSet
    assert(survivors == Set(11L, 21L), s"survivors: $survivors")
    assert(got.filter(_._1 == 21L).forall(!_._7.contains("r1 r2 r3")),
      "doc 21 must lose the corpus-survivor run at stage 3")
    val finalIdx = h.currentIndex()
    assert(finalIdx.maxDocId == 21L, s"watermark: ${finalIdx.maxDocId}")
    val unionSurv = graft.pipeline.CleanPipeline.fullCleanCorpus(
      corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")),
      quality = org.apache.spark.sql.functions.lit(0L))
      .select("doc_id").distinct()
    assert(unionSurv.count() == 4L) // 0, 1, 11, 21 — batch agrees (no bridge)
    // the folded halves must EQUAL a fresh batch build over the union —
    // gram-for-gram and fp-for-fp, not just by count: a fold that grew the
    // wrong substrate (raw text instead of survivors' cleaned text, say)
    // would pass any count check and silently skew every later probe
    val freshFull = graft.pipeline.CleanPipeline.buildFullCleanIndex(
      corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text")))
    def setEqual(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(setEqual(finalIdx.substr.store.merged, freshFull.substr.store.merged),
      "folded substring-gram half diverges from a fresh build over the union")
    assert(finalIdx.substr.maxDocId == freshFull.substr.maxDocId,
      "substring-half watermark diverges from the fresh build")
    assert(setEqual(finalIdx.corpusFps, freshFull.corpusFps),
      "folded exact-fingerprint set diverges from a fresh build over the union")
    freshFull.unpersist()
    finalIdx.unpersist(); idxB.unpersist(); idxA.unpersist(); idx0.unpersist()
  }

  test("streaming FULL cleanup retires superseded halves only: the live gram segments stay cached across compaction") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def run(c: Char, n: Int): String = (1 to n).map(i => s"$c$i").mkString(" ")
    // gram-segment rows at minLen 20: the corpus base holds 41; batch 1
    // adds 81 (> 0.25 × 41: the fold compacts, base 122), batches 2 and 3
    // add 11 and 16 (27 <= 0.25 × 122: both stay open deltas). The corpus
    // doc is the same 60 tokens as 15 four-token paragraphs, so the unit
    // base holds 15 rows and each one-paragraph batch adds 1 (3 <= 0.25 ×
    // 15: every paragraph fold stays an open delta)
    val corpus = Seq((0L, (1 to 60).grouped(4)
      .map(_.map(i => s"a$i").mkString(" ")).mkString("\n\n")))
      .toDF("doc_id", "text")
    val batches = Seq(Seq((10L, run('b', 100))), Seq((20L, run('c', 30))),
      Seq((30L, run('d', 35))))
    def stream[I](idx0: I, start: (org.apache.spark.sql.DataFrame, I) =>
        (org.apache.spark.sql.streaming.StreamingQuery, () => I)): I = {
      val input = MemoryStream[(Long, String)]
      val (q, current) = start(input.toDF().toDF("doc_id", "text"), idx0)
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      current()
    }
    def allCached(store: graft.pipeline.SegmentStore): Boolean =
      store.segments.forall(
        _.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val idx0 = graft.pipeline.CleanPipeline.buildFullCleanIndex(corpus)
    val finalIdx = stream(idx0, (d, i: graft.pipeline.CleanPipeline.FullCleanIndex) => {
      val h = StreamingPipeline.fullCleanCorpusStream(d, i, (pieces, _) => pieces.count())
      (h.query, h.currentIndex)
    })
    val substr = finalIdx.substr
    assert(substr.store.deltas.nonEmpty && substr.store.deltas.size < batches.size,
      s"fixture must compact once and leave a delta open: ${substr.store.deltas.size} deltas")
    assert(allCached(substr.store),
      "a superseded handle's retirement dropped a segment the live index reads")
    assert(finalIdx.para.store.deltas.size == batches.size,
      s"fixture must leave every paragraph delta open: ${finalIdx.para.store.deltas.size}")
    assert(allCached(finalIdx.para.store),
      "a superseded handle's retirement dropped a paragraph segment the live index reads")
    // the two-stage composed stream shares both halves the same way
    val clean0 = graft.pipeline.CleanPipeline.buildCleanIndex(corpus)
    val cleanIdx = stream(clean0, (d, i: graft.pipeline.CleanPipeline.CleanIndex) => {
      val h = StreamingPipeline.cleanCorpusStream(d, i, (pieces, _) => pieces.count())
      (h.query, h.currentIndex)
    })
    assert(cleanIdx.para.store.deltas.size == batches.size &&
      cleanIdx.substr.store.deltas.nonEmpty,
      s"composed fixture: ${cleanIdx.para.store.deltas.size} paragraph and " +
        s"${cleanIdx.substr.store.deltas.size} gram deltas open")
    assert(allCached(cleanIdx.para.store) && allCached(cleanIdx.substr.store),
      "the composed stream dropped a segment the live index reads")
    cleanIdx.unpersist(); clean0.unpersist()
    // the live index probes exactly like a fresh build over the union
    val probe = Seq((40L, s"${run('e', 50)} ${run('a', 25)} ${run('d', 25)}"))
      .toDF("doc_id", "text")
    val fresh = graft.pipeline.CleanPipeline.buildFullCleanIndex(
      corpus.unionByName(batches.flatten.toDF("doc_id", "text")))
    def shape(d: org.apache.spark.sql.DataFrame) = d
      .orderBy("doc_id", "piece_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
    val got = shape(graft.pipeline.CleanPipeline.incrementalFullClean(probe, finalIdx))
    assert(got.exists(_._3 > 0), s"probe doc must lose its corpus and batch-3 runs: $got")
    assert(got == shape(graft.pipeline.CleanPipeline.incrementalFullClean(probe, fresh)),
      "live streamed index probes differently from a fresh build over the union")
    fresh.unpersist(); finalIdx.unpersist(); idx0.unpersist()
  }

  test("streaming composed cleanup: both index halves fold, every batch batch-equal") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def run25(c: Char): String = (1 to 25).map(i => s"$c$i").mkString(" ")
    val boiler = "terms banner " + run25('f')
    val corpus = Seq((0L, s"$boiler\n\n${run25('r')} tail")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, s"$boiler\n\n${run25('s')} fresh"), // boiler cut at STAGE 1 vs corpus
      (11L, run25('t')))                        // unique; batch 2 repeats both ways
    val batch2 = Seq(
      (20L, s"intro ${run25('s')} also ${run25('r')}"), // STAGE 2 cuts s (b1 fold,
                                                        // through the CLEANED gram
                                                        // index) AND r (corpus)
      (21L, s"${run25('t')}\n\n${run25('u')}")) // STAGE 1 cuts t vs the b1 fold
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq

    val idx0 = graft.pipeline.CleanPipeline.buildCleanIndex(corpus)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.cleanCorpusStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (pieces, _) => got.synchronized { got ++= shape(pieces.collect()) })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()

    val union = corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text"))
    // the surviving two-half handle must equal a fresh union build: the
    // paragraph half over raw docs, the gram half over the CLEANED union
    val finalIdx = h.currentIndex()
    val fresh = graft.pipeline.CleanPipeline.buildCleanIndex(union)
    def unitSet(i: graft.pipeline.ParagraphDedup.ParagraphIndex) =
      i.store.merged.collect().map(r => (r.getLong(0), r.getLong(1),
        (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))).toSet
    def gramSet(i: graft.pipeline.Dedup.ExactSubstrIndex) = i.store.merged.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("nocc"),
        (r.getStruct(3).getLong(0), r.getStruct(3).getLong(1)))).toSet
    assert(unitSet(finalIdx.para) == unitSet(fresh.para),
      "post-stream paragraph half must equal a fresh union build")
    assert(gramSet(finalIdx.substr) == gramSet(fresh.substr),
      "post-stream gram half must equal a fresh build over the CLEANED union")
    finalIdx.unpersist(); fresh.unpersist(); idx0.unpersist()

    val expected = shape(graft.pipeline.CleanPipeline.cleanCorpus(union)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10L)
      .orderBy("doc_id", "piece_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected,
      "streamed pieces diverge from the composed batch run over the union")
    // doc 20 lost BOTH runs at stage 2; doc 21 lost its first paragraph at
    // stage 1 (so its pieces never contain t1..t25 and carry no stage-2 cut)
    val d20 = got.filter(_._1 == 20L)
    assert(d20.nonEmpty && d20.head._6 >= 50L, s"doc 20 must lose both runs: $d20")
    assert(got.filter(_._1 == 21L).forall(!_._7.contains("t1 t2")),
      "doc 21's duplicated paragraph must be gone before stage 2")
  }

  test("streaming incremental near-dup: the index fold makes every batch probe corpus ∪ prior batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // long bases + one-char tails keep pair jaccard ≈ 0.99, so the banded
    // LSH candidate step fires deterministically (at j ≈ 0.92 a 3×6 band
    // scheme has a real miss probability; everything here is md5-derived,
    // so once the fixture lands it lands forever)
    val longA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa"
    val longB = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val longC = "zulu yankee xray whiskey victor uniform tango sierra romeo " +
      "quebec portal orbit nadir meridian lumen"
    val corpus = Seq((0L, longA), (1L, longB)).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, longA + " x"), // near-dup of corpus doc 0 -> cross pair vs index
      (11L, longC))        // unique now; batch 2 near-dups it
    val batch2 = Seq(
      (20L, longC + " x"), // pairs with BATCH-1 doc 11 ONLY via the fold
      (21L, longB))        // EXACT dup of corpus doc 1 (jaccard 1.0)

    val idx0 = graft.pipeline.Dedup.buildNearDupIndex(corpus)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.incrementalNearDupStream(
      input.toDF().toDF("doc_id", "text"), idx0, threshold = 0.7,
      (pairs, _) => got.synchronized {
        got ++= pairs.collect().map(r => (r.getAs[Long]("d1"),
          r.getAs[Long]("d2"), math.round(r.getAs[Double]("jaccard") * 1e9)))
      })
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
      input.addData(batch2: _*); h.query.processAllAvailable()
    } finally h.query.stop()

    // pair SET: (10,0) vs the initial index; (20,11) exists only because
    // the fold carried batch 1 into batch 2's probe; (21,1) is the exact
    // dup — both sides' rep collapse keeps it and jaccard is exactly 1
    val pairSet = got.map(p => (p._1, p._2)).toSet
    assert(pairSet == Set((10L, 0L), (20L, 11L), (21L, 1L)), s"pairs: $got")
    assert(got.find(p => p._1 == 21L).get._3 == 1000000000L,
      "exact dup must verify at jaccard 1.0")

    // the surviving handle is corpus ∪ all-batches state: its rep store
    // and band table must equal a FRESH build over the union (the monoid
    // fold-equality claim), including the exact-dup collapse — doc 21
    // must NOT be a rep (doc 1 is the min of their shared fingerprint)
    val finalIdx = h.currentIndex()
    val union = corpus.unionByName((batch1 ++ batch2).toDF("doc_id", "text"))
    val fresh = graft.pipeline.Dedup.buildNearDupIndex(union)
    def storeSet(i: graft.pipeline.Dedup.NearDupIndex) = i.docStore.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    def bandSet(i: graft.pipeline.Dedup.NearDupIndex) = i.bands.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[Long]("bh"))).toSet
    assert(storeSet(finalIdx) == storeSet(fresh),
      "post-stream rep store must equal a fresh build over the union")
    assert(!storeSet(finalIdx).exists(_._1 == 21L),
      "exact-dup doc 21 must collapse to corpus rep 1 in the fold")
    assert(bandSet(finalIdx) == bandSet(fresh),
      "post-stream band table must equal a fresh build over the union")
    finalIdx.unpersist(); fresh.unpersist(); idx0.unpersist()
  }

  test("streaming exact-substring removal honors emitOriginal: pieces are original-byte slices, batch-equal") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val minLen = 3
    // decorated docs: the shared token run carries case/punctuation the
    // original-byte emission must preserve verbatim
    val corpus = Seq((0L, "A b! c D-e (f) g h")).toDF("doc_id", "text")
    val batch1 = Seq((10L, "xx, yy A-b c; d E zz.."), (11L, "p q r s t"))
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"),
        r.getAs[Long]("char_st"), r.getAs[Long]("char_en"),
        r.getAs[String]("text"))).toSeq

    val idx0 = graft.pipeline.Dedup.buildExactSubstrIndex(corpus, minLen)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val h = StreamingPipeline.removeDupSpansExactStream(
      input.toDF().toDF("doc_id", "text"), idx0,
      (pieces, _) => got.synchronized { got ++= shape(pieces.collect()) },
      emitOriginal = true)
    try {
      input.addData(batch1: _*); h.query.processAllAvailable()
    } finally { h.query.stop(); h.currentIndex().unpersist(); idx0.unpersist() }

    val expected = shape(graft.pipeline.Dedup.removeDupSpansExact(
        corpus.unionByName(batch1.toDF("doc_id", "text")), minLen,
        emitOriginal = true)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 10L)
      .orderBy("doc_id", "piece_idx").collect())
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected,
      "streamed original-byte pieces diverge from the batch run")
    // the cut doc's surviving pieces are literal substrings of its raw text
    val raw = batch1.toMap.apply(10L)
    got.filter(_._1 == 10L).foreach { case (_, _, _, _, cst, cen, t) =>
      assert(t == raw.substring(cst.toInt, cen.toInt + 1), s"piece '$t'")
    }
    assert(got.exists(p => p._1 == 10L && p._7 == "xx, yy"),
      "punctuated prefix piece must survive verbatim")
  }

  test("streaming heavy hitters: MG state across batches, heavy-token superset, fixed memory") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val (k, nBuckets) = (4, 2)
    // heavy token "aaa" (30 of 60 tokens across two batches), the rest a
    // spread of light tokens — MG must keep "aaa" with a sane lower bound
    val batch1 = (0 until 15).map(_ => "aaa x") ++ Seq("p q", "r s", "t u")
    val batch2 = (0 until 15).map(_ => "aaa y") ++ Seq("v w", "p q", "r s")
    val input = MemoryStream[String]
    val out = StreamingPipeline.heavyHittersStream(
      input.toDF().toDF("text"), k, nBuckets)
    val q = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // latest emission per bucket (Update mode re-emits on every trigger;
      // memory sink keeps all — take the rows with the max n_bucket)
      val rows = sp.sql("SELECT bucket, n_bucket, toks, lowers FROM hh_out")
        .collect()
        .groupBy(_.getInt(0)).map { case (_, rs) => rs.maxBy(_.getLong(1)) }
      val all = (batch1 ++ batch2).flatMap(_.split(" "))
      val n = all.size.toLong
      assert(rows.map(_.getLong(1)).sum == n, "bucket stream lengths sum to N")
      val cands = rows.flatMap(_.getSeq[String](2)).toSet
      // exact heavy hitters (count*k > N) must survive in the candidates
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.keySet
      assert(exact.subsetOf(cands), s"missing heavy hitters: ${exact -- cands}")
      assert(exact.contains("aaa"))
      // lower bounds: within n_bucket/k of truth, never above it
      rows.foreach { r =>
        val nb = r.getLong(1)
        r.getSeq[String](2).zip(r.getSeq[Long](3)).foreach { case (t, lb) =>
          val truth = all.count(_ == t).toLong
          assert(lb <= truth && truth - lb <= nb / k, s"$t bound $lb vs $truth")
        }
      }
      // fixed memory: at most k counters per bucket, ever
      assert(rows.forall(_.getSeq[String](2).size <= k))
    } finally q.stop()
  }

  test("streaming corpus-freq and bigram-LM filters give the batch verdicts") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.TextPipeline
    implicit val sqlCtx = sp.sqlContext
    val corpus = Seq(
      (0L, "the cat sat on the mat and the cat slept"),
      (1L, "the dog and the cat ran to the mat"),
      (2L, "zq xv qqq glorp zzz"), // corpus-rare junk
      (3L, "the the the the the"),
      (4L, "")).toDF("doc_id", "text")

    // corpus-frequency filter: batch join form vs broadcast-literal form
    val vocabDf = TextPipeline.corpusVocab(corpus, col("text"), 8)
    val vocab = TextPipeline.corpusVocabModel(corpus, col("text"), 8)
    def cfKey(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val batchCf = TextPipeline.corpusFreqProfile(
      corpus, col("text"), vocabDf, 500, 2L, "doc_id")
      .select("doc_id", "n_tok", "n_invocab", "sum_tf", "kept")
      .collect().map(cfKey).toMap
    val cfIn = MemoryStream[(Long, String)]
    val qCf = StreamingPipeline.corpusFreqQualityStream(
      cfIn.toDF().toDF("doc_id", "text"), vocab, 500, 2L)
      .select("doc_id", "n_tok", "n_invocab", "sum_tf", "kept")
      .writeStream.format("memory").queryName("cf_out").outputMode("append").start()
    try {
      cfIn.addData(corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      qCf.processAllAvailable()
      val streamCf = sp.sql("SELECT * FROM cf_out").collect().map(cfKey).toMap
      assert(streamCf == batchCf, s"corpus-freq stream != batch:\n$streamCf\n$batchCf")
      assert(batchCf.values.exists(_._4) && batchCf.values.exists(!_._4),
        "fixture must exercise both verdicts")
    } finally qCf.stop()

    // bigram-LM filter: batch self-scored form vs fixed-model broadcast form
    val lm = TextPipeline.bigramLmModel(corpus, col("text"))
    assert(lm.c2Rep.nonEmpty, "fixture must contain repeated bigrams")
    def lmKey(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val batchLm = TextPipeline.bigramLmProfile(corpus, 25, "doc_id")
      .select("doc_id", "n_bigrams", "sum_surprisal_bits", "kept")
      .collect().map(lmKey).toMap
    val lmIn = MemoryStream[(Long, String)]
    val qLm = StreamingPipeline.bigramLmQualityStream(
      lmIn.toDF().toDF("doc_id", "text"), 25, lm)
      .select("doc_id", "n_bigrams", "sum_surprisal_bits", "kept")
      .writeStream.format("memory").queryName("lm_out").outputMode("append").start()
    try {
      lmIn.addData(corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      qLm.processAllAvailable()
      val streamLm = sp.sql("SELECT * FROM lm_out").collect().map(lmKey).toMap
      assert(streamLm == batchLm, s"bigram-LM stream != batch:\n$streamLm\n$batchLm")
      assert(batchLm.values.exists(_._3) && batchLm.values.exists(!_._3),
        "fixture must exercise both verdicts")
    } finally qLm.stop()

    // model-quality filter (P37 twin): fixed-beta linear predictor, batch
    // scoring vs the stateless stream column — exact doubles, so equality
    // is bitwise on z and on the keep verdict
    val beta = Array(-2.0, 0.01, 8.0, -20.0, -0.1)
    def mqKey(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))
    val batchMq = corpus
      .withColumn("z", TextPipeline.classifierScore(col("text"), beta))
      .withColumn("kept", col("z") >= org.apache.spark.sql.functions.lit(0.0))
      .select("doc_id", "z", "kept").collect().map(mqKey).toMap
    val mqIn = MemoryStream[(Long, String)]
    val qMq = StreamingPipeline.modelQualityStream(
      mqIn.toDF().toDF("doc_id", "text"), beta)
      .select("doc_id", "z", "kept")
      .writeStream.format("memory").queryName("mq_out").outputMode("append").start()
    try {
      mqIn.addData(corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      qMq.processAllAvailable()
      val streamMq = sp.sql("SELECT * FROM mq_out").collect().map(mqKey).toMap
      assert(streamMq == batchMq, s"model-quality stream != batch:\n$streamMq\n$batchMq")
      assert(batchMq.values.exists(_._2) && batchMq.values.exists(!_._2),
        "fixture must exercise both verdicts")
    } finally qMq.stop()
  }

  test("streaming decontamination flags the batch semi-join's hit set") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Decontaminate
    implicit val sqlCtx = sp.sqlContext
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely unrelated text about spark plans"),
      (2L, "we ask what is the capital of france here"), // hits eval q
      (3L, "short doc")).toDF("doc_id", "text")
    val evalDocs = Seq(
      (100L, "what is the capital of france"),
      (101L, "the quick brown fox is a pangram staple")).toDF("doc_id", "text")
    val n = 5
    val batchHits = Decontaminate.contaminatedDocs(train, evalDocs, n)
      .collect().map(_.getLong(0)).toSet
    assert(batchHits.nonEmpty && batchHits != Set(0L, 1L, 2L, 3L),
      "fixture must exercise both verdicts")
    // the TAGGED form (the only public probe surface) must agree with
    // the distributed semi join on every verdict
    val grams = Decontaminate.evalGrams(evalDocs, n)
    val viaArray = train
      .withColumn("contaminated",
        Decontaminate.contaminatedFlag(org.apache.spark.sql.functions.col("text"), grams))
      .filter("contaminated").collect().map(_.getLong(0)).toSet
    assert(viaArray == batchHits, s"tagged form $viaArray != batch $batchHits")
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), grams)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(train.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamHits = sp.sql("SELECT doc_id FROM decon_out WHERE contaminated")
        .collect().map(_.getLong(0)).toSet
      assert(streamHits == batchHits, s"stream $streamHits != batch $batchHits")
    } finally q.stop()
  }

  test("stateless streaming language-ID tags rows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[String]
    val out = StreamingPipeline.langIdStream(input.toDF().toDF("text"))
    val q = out.writeStream.format("memory").queryName("lang_out")
      .outputMode("append").start()
    try {
      input.addData("the cat sat on the mat and it was there",
        "le chat est dans la maison et les enfants")
      q.processAllAvailable()
      val rows = sp.sql("SELECT pred_lang FROM lang_out ORDER BY pred_lang")
        .collect().map(_.getString(0))
      assert(rows.sameElements(Array("en", "fr")))
    } finally q.stop()
  }
}
