package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-pipeline-test")
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

  test("language ID identifies real sentences per language") {
    val df = docsDf(
      0L -> "the cat sat on the mat and it was happy in the sun",
      1L -> "der Hund ist nicht zu Hause und ich habe den Schlussel",
      2L -> "le chat est dans la maison et les enfants sont dans le jardin",
      3L -> "el perro es grande y los gatos son pequenos en la casa",
      4L -> "xyzzy qwerty plugh")
    val out = df.select(col("doc_id"), TextPipeline.langId(col("text")).as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(1L) == "de")
    assert(out(2L) == "fr")
    assert(out(3L) == "es")
    assert(out(4L) == "und")
  }

  test("token counting and quality columns") {
    val df = docsDf(0L -> "The quick brown fox, jumps! Over 2 dogs.")
    val q = df.select(
      TextPipeline.tokenCount(col("text")).as("nt"),
      TextPipeline.wsTokenCount(col("text")).as("ws"),
      TextPipeline.bpeishTokenCount(col("text")).as("bpe"),
      TextPipeline.punctCount(col("text")).as("punct"),
      TextPipeline.stopwordCount(col("text")).as("stop")).head()
    assert(q.getInt(0) == 8) // the quick brown fox jumps over 2 dogs
    assert(q.getInt(1) == 8) // whitespace-delimited
    assert(q.getInt(3) == 3) // , ! .
    assert(q.getInt(4) >= 1) // 'the'
  }

  test("exact dedup counts duplicate normalized texts") {
    val df = docsDf(
      0L -> "Hello   World", 1L -> "hello world", 2L -> "HELLO  WORLD ",
      3L -> "something else", 4L -> "another doc")
    val row = Dedup.exactDupStats(df).head()
    assert(row.getLong(0) == 5) // n_docs
    assert(row.getLong(1) == 3) // n_distinct (hello-world group collapses)
    assert(row.getLong(2) == 2) // n_dup_docs
    assert(row.getLong(3) == 3) // max_group
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from the warm windowsill and the birds sing in the garden trees all day"
    val nearDup = base.replace("birds", "bees") // tiny edit → high jaccard
    val unrelated1 = "completely different content about distributed query engines " +
      "and columnar storage formats with vectorized execution pipelines everywhere"
    val unrelated2 = "yet another unrelated document discussing gradient descent " +
      "convergence rates under strong convexity assumptions and proximal operators"
    val df = docsDf(0L -> base, 1L -> nearDup, 2L -> unrelated1, 3L -> unrelated2)
    val pairs = Dedup.nearDupPairs(df, threshold = 0.7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)), s"got ${pairs.toSeq}")
  }

  test("jaccard verify computes exact n-gram jaccard") {
    val df = docsDf(0L -> "abcdefgh", 1L -> "abcdefgh", 2L -> "zzzzzzzz")
    val sp = spark; import sp.implicits._
    val cand = Seq((0L, 1L), (0L, 2L)).toDF("d1", "d2")
    val out = Dedup.jaccardVerify(cand, df, 5, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((0L, 1L)) - 1.0) < 1e-12)
    // identical docs → jaccard 1; disjoint pair produces no row (no shared shingle)
    assert(!out.contains((0L, 2L)))
  }

  test("weighted simhash: identical docs have identical fingerprints, edits stay close") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val close = base.replaceFirst("kappa", "lambda")
    val far = "one two three four five six seven eight nine ten " * 3
    val df = docsDf(0L -> base, 1L -> base, 2L -> close, 3L -> far)
    val sim = SimHash.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(0L) == sim(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sim(0L), sim(2L)) < ham(sim(0L), sim(3L)))
    val pairs = SimHash.hammingPairs(SimHash.simhash(df), maxHamming = 0)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("winnowing: coverage guarantee, determinism, shared-substring detection") {
    val rng = new scala.util.Random(7)
    val alpha = "abcdefgh "
    def randText(n: Int) = Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
    val t0 = randText(300)
    val t1 = randText(300)
    // doc 3 copies a 80-char substring of doc 0 into unrelated surroundings
    val t3 = randText(100) + t0.substring(100, 180) + randText(100)
    val df = docsDf(0L -> t0, 1L -> t0, 2L -> t1, 3L -> t3)
    val (k, w) = (7, 4)

    // winnowing guarantee: selected positions are never more than w apart,
    // so every length-(k+w-1) match shares a fingerprint
    val pos = Winnow.selected(df, k = k, w = w)
      .select("doc_id", "pos").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).sorted }
    for ((d, ps) <- pos) {
      assert(ps.nonEmpty)
      ps.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1) - p(0) <= w, s"gap ${p(1) - p(0)} > $w in doc $d")
      }
    }

    val fps = Winnow.fingerprints(df, k = k, w = w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    assert(fps(0L) == fps(1L)) // identical text → identical fingerprint set
    // the copied substring must surface shared fingerprints (coverage)
    assert((fps(0L) & fps(3L)).nonEmpty)

    val pairs = Winnow.overlapPairs(Winnow.fingerprints(df, k = k, w = w), maxDf = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) >= pairs.getOrElse((0L, 3L), 0L))
  }

  test("stratified sample: quotas, determinism, salt independence") {
    val sp = spark; import sp.implicits._
    val df = (1L to 200L).map(i => (i, s"L${i % 3}", s"S${i % 4}")).toDF("id", "lang", "source")
    val s1 = Sampling.stratifiedSample(df, Seq("lang", "source"), 2, "saltA", "id")
    val rows = s1.select("lang", "source", "id").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    // every stratum filled to its quota (all strata have >=2 members here)
    assert(rows.groupBy(_._1).forall(_._2.length == 2))
    // deterministic: a second run selects the identical rows
    val again = Sampling.stratifiedSample(df, Seq("lang", "source"), 2, "saltA", "id")
      .select("lang", "source", "id").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(rows.sorted.sameElements(again.sorted))
    // a different salt draws a different sample
    val other = Sampling.stratifiedSample(df, Seq("lang", "source"), 2, "saltB", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(other != rows.map(_._2).toSet)
  }

  test("rate sample: extremes exact, proportions near rates, growth-stable") {
    val sp = spark; import sp.implicits._
    val df = (1L to 3000L).map(i => (i, Seq("en", "zh", "de")(i.toInt % 3))).toDF("id", "lang")
    val rates = Map("en" -> 1000, "zh" -> 0)
    val kept = Sampling.rateSample(df, col("lang"), rates, 500, "s1", "id")
      .filter(col("keep")).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") == 1000L) // rate 1000‰ keeps everything
    assert(!kept.contains("zh")) // rate 0‰ keeps nothing
    assert(kept("de") > 350 && kept("de") < 650) // ~500‰
    // row-local: verdicts don't change when the corpus grows
    val small = Sampling.rateSample(df.filter(col("id") <= 300), col("lang"), rates, 500, "s1", "id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val big = Sampling.rateSample(df, col("lang"), rates, 500, "s1", "id")
      .filter(col("id") <= 300).collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(small == big)
  }

  test("hash split: full cover, approximate proportions, stable under growth") {
    val sp = spark; import sp.implicits._
    val df = (1L to 1000L).toDF("id")
    val splits = Sampling.hashSplit(df, "id", "cv", Seq(80, 90))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum == 1000)
    assert(splits("split_0") > 700 && splits("split_0") < 900)
    assert(splits("split_1") > 50 && splits("split_2") > 50)
    // row-local: a row's split never changes when the corpus grows
    val small = Sampling.hashSplit((1L to 100L).toDF("id"), "id", "cv", Seq(80, 90))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val big = Sampling.hashSplit(df, "id", "cv", Seq(80, 90))
      .filter(col("id") <= 100).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small == big)
  }

  test("packing: contiguous per-shard streams, exact chunk math, spanning docs") {
    val sp = spark; import sp.implicits._
    val df = (1L to 60L).map(i => (i, 10L + i % 7)).toDF("id", "n_tok")
    val packed = Packing.packChunks(df, "id", "n_tok", nShards = 3,
      seqLen = 32, salt = "t").collect()
    val byShard = packed.groupBy(_.getLong(0))
    for ((_, rows) <- byShard) {
      val sorted = rows.sortBy(_.getLong(3)) // by start_tok
      // the stream is contiguous: starts chain exactly onto previous ends
      assert(sorted.head.getLong(3) == 0L)
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1).getLong(3) == p(0).getLong(4), "gap in token stream")
      }
      // chunk assignment is the integer interval the doc's tokens cover
      for (r <- sorted) {
        val (start, end) = (r.getLong(3), r.getLong(4))
        assert(r.getLong(5) == start / 32 && r.getLong(6) == (end - 1) / 32)
      }
    }
    val report = Packing.shardReport(
      Packing.packChunks(df, "id", "n_tok", 3, 32, "t"), 32).collect()
    assert(report.map(_.getLong(1)).sum == 60) // every doc packed exactly once
    for (r <- report) {
      val (toks, chunks) = (r.getLong(2), r.getLong(3))
      assert(chunks == (toks + 31) / 32)
      assert(r.getLong(4) <= r.getLong(1)) // spanning docs are a subset
    }
  }

  test("chunkOverlap: full coverage, exact overlap, partial tail, short/empty docs") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (0L, (1 to 100).map(i => s"t$i")), // 100 tokens: 1 + ceil(68/24) = 4 chunks
      (1L, (1 to 10).map(i => s"s$i")),  // shorter than the window: 1 chunk
      (2L, Seq.empty[String])            // no tokens: no rows
    ).toDF("doc_id", "toks")
    val out = Packing.chunkOverlap(docs, "doc_id", "toks", window = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(2L))
    assert(byDoc(1L).map(c => (c._2, c._3)).toSeq == Seq((0L, 10L)))
    val d0 = byDoc(0L).sortBy(_._2)
    assert(d0.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d0.map(_._3).toSeq == Seq(32L, 32L, 32L, 28L)) // partial tail
    // chunk k starts at token k*24+1: consecutive chunks overlap by 8
    d0.zipWithIndex.foreach { case ((_, k, _, chunk), _) =>
      assert(chunk.startsWith(s"t${k * 24 + 1} "), s"chunk $k misaligned")
    }
    // every token appears in at least one chunk
    val covered = d0.flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 100).map(i => s"t$i").toSet)
  }

  test("cosine top-k: orthonormal probes rank by construction") {
    val sp = spark; import sp.implicits._
    // vec 0 = e1; vec 1 ≈ e1 (cos ~0.995); vec 2 = e2 (cos 0); vec 3 = -e1
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df, col("vec_id") === 0, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toList
    assert(out.map(_._2) == List(1L, 2L, 3L)) // by descending cosine

    // int8 quantization preserves the ranking on well-separated vectors,
    // quantized values stay in [-127, 127], and the max element hits ±127
    val qt = Similarity.quantizeInt8(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](2)).toMap
    assert(qt(0L) == Seq[Byte](127, 0, 0))
    assert(qt(3L) == Seq[Byte](-127, 0, 0))
    assert(qt.values.flatten.forall(b => b >= -127 && b <= 127))
    val qout = Similarity.int8CosineTopK(df, col("vec_id") === 0, k = 3)
      .collect().map(_.getLong(2)).toList
    assert(qout == List(1L, 2L, 3L), s"quantized ranking diverged: $qout")
  }

  test("int8 top-k excludes zero vectors from both probe and candidate sides") {
    val sp = spark; import sp.implicits._
    // vec 100 is all-zero: scale 0, no direction, cosine NaN — it must not
    // appear as a candidate (NaN would sort ABOVE every real score) nor
    // produce probe rows; both the Spark path and the DuckDB oracle drop it
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (100L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.int8CosineTopK(df, col("vec_id") % 100 === 0, k = 3)
      .collect()
    val probes = out.map(_.getLong(0)).toSet
    val cands = out.map(_.getLong(2)).toSet
    assert(probes == Set(0L), s"zero vector leaked as probe: $probes")
    assert(!cands.contains(100L), s"zero vector leaked as candidate: $cands")
    assert(out.map(_.getLong(2)).toList == List(1L, 2L))
  }

  test("LSH buckets: identical vectors share buckets; topk finds the twin") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(17)
    val base = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val rows = (0L until 20L).map { i =>
      if (i == 1L) (i, base.clone()) // vec 1 duplicates vec 0
      else if (i == 0L) (i, base.clone())
      else (i, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("vec_id", "embedding")
    val buckets = Similarity.lshBucket(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(1L))
    val top = Similarity.lshTopK(df, col("vec_id") === 0, k = 1).collect()
    assert(top.length == 1 && top(0).getLong(2) == 1L) // nearest = the twin
  }

  test("IVF: deterministic centroids, unique assignment, topk finds the twin") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(41)
    // two well-separated directions + noise; vec 1 duplicates vec 0
    def around(dir: Int): Array[Float] = {
      val a = Array.fill(8)(rng.nextFloat() * 0.2f - 0.1f)
      a(dir) = 1f
      a
    }
    val vec0 = around(0)
    val rows = (0L until 24L).map { i =>
      if (i <= 1L) (i, vec0.clone()) // vec 1 duplicates vec 0
      else (i, around(if (i % 2 == 0) 0 else 4))
    }
    val df = rows.toDF("vec_id", "embedding")

    val c1 = Similarity.ivfCentroids(df, k = 2, iters = 2)
    val c2 = Similarity.ivfCentroids(df, k = 2, iters = 2)
    // deterministic: BIT-identical across runs (exact long sums make the
    // result independent of partition layout and combine order too)
    assert(c1.length == 2)
    c1.zip(c2).foreach { case (a, b) => assert(a.sameElements(b)) }
    // gridded scale: components bounded by the grid of the max input (≤1.0)
    c1.foreach { c => assert(c.forall(x => math.abs(x) <= Similarity.IvfGrid.toLong)) }

    // every vector gets exactly one cluster
    val assign = Similarity.ivfAssign(df, c1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign.size == 24)
    assert(assign.values.toSet.subsetOf(Set(0, 1)))
    // the two planted directions separate after Lloyd
    assert(assign(0L) != assign(5L))

    // topk through the index: the duplicate vector ranks first for probe 0
    val top = Similarity.ivfTopK(df, col("vec_id") === 0, topK = 3,
      k = 2, iters = 2, nProbe = 1).collect()
    assert(top.nonEmpty && top.head.getLong(2) == 1L)

    // the probe set is driver-collected by contract; a predicate that
    // selects the whole corpus must fail fast, not OOM the driver
    val broad = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, lit(true), topK = 3, k = 2, iters = 2,
        nProbe = 1, maxProbes = 4)
    }
    assert(broad.getMessage.contains("maxProbes"))
  }

  test("multimodal resize and frame-sample plumbing (stubbed codecs)") {
    val df = Multimodal.withPayload(docsDf(0L -> ("x" * 100), 1L -> "tiny"))
    val resized = Multimodal.resize(spark, df, 8, 8).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(resized(0L) == 64 && resized(1L) == 64) // truncated / zero-padded
    val frames = Multimodal.frameSample(spark, df, frameSize = 10, everyK = 2)
      .collect().groupBy(_.getLong(0))
    assert(frames(0L).length == 5) // 10 chunks of 10 bytes, every 2nd kept
    assert(frames(1L).length == 1)
    assert(frames(0L).map(_.getInt(1)).sorted.sameElements(0 until 5))
  }

  test("multimodal extraction: schema, determinism, rolling fingerprint") {
    val df = Multimodal.withPayload(docsDf(0L -> "hello world", 1L -> "hello world",
      2L -> "different"))
    val out = Multimodal.extractFeatures(spark, df)
    assert(out.schema == Multimodal.featureSchema)
    val rows = out.collect().sortBy(_.getLong(0))
    assert(rows(0).getInt(1) == 11) // n_bytes of "hello world"
    assert(rows(0).getLong(6) == rows(1).getLong(6)) // same payload → same fp
    assert(rows(0).getLong(6) != rows(2).getLong(6))
    val feats = rows(0).getSeq[Double](7)
    assert(feats.length == 4 && math.abs(feats.sum - 1.0) < 1e-9) // histogram sums to 1
    assert(TextPipeline.rollingHash("hello world") == rows(0).getLong(6))
    // raw text bytes are not a decodable container: every row must be
    // LABELED a stub — fabricated stats are never emitted silently
    assert(rows.forall(_.getString(8) == "stub"))
  }

  test("mixed payloads: decode_kind separates real decodes from labeled stubs") {
    val sp = spark; import sp.implicits._
    val real = Multimodal.withImagePayload(Seq(0L, 1L).toDF("doc_id"))
    val fake = Multimodal.withPayload(docsDf(10L -> "mp4-stand-in payload"))
      .select(col("doc_id"), col("content"))
    val out = Multimodal.extractFeatures(spark, real.union(fake)).collect()
      .map(r => r.getLong(0) -> r.getString(8)).toMap
    assert(out(0L) == "image" && out(1L) == "image" && out(10L) == "stub")
    // resize + frame sampling label provenance the same way
    val rz = Multimodal.resize(spark, real.union(fake), 8, 8).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(rz(0L) == "image" && rz(10L) == "stub")
    val fs = Multimodal.frameSample(spark, fake, 4, 2).collect()
    assert(fs.nonEmpty && fs.forall(_.getString(3) == "stub"))
    val gif = Multimodal.withVideoPayload(Seq(3L).toDF("doc_id"))
    val gf = Multimodal.frameSample(spark, gif, 4, 1).collect()
    assert(gf.nonEmpty && gf.forall(_.getString(3) == "gif"))
  }

  test("semantic dedup: cluster-local keep-lowest verdicts, tie-break to lowest cid, zero vectors excluded") {
    val sp = spark; import sp.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),      // centroid A, kept
      (1L, Array(0f, 1f, 0f, 0f), 0),      // centroid B, kept
      (2L, Array(0.995f, 0.0999f, 0f, 0f), 0), // near id0 in cluster A -> dropped
      (3L, Array(0.1f, 0.995f, 0f, 0f), 0),    // near id1 in cluster B -> dropped
      (4L, Array(0.75f, 0.75f, 0f, 0f), 0),    // equidistant: tie -> cluster A; far from id0 -> kept
      (5L, Array(0f, 0f, 0f, 0f), 0),      // zero norm -> excluded entirely
      (6L, Array(-1f, 0.1f, 0f, 0f), 0)    // cluster B, far from everything -> kept
    ).toDF("vec_id", "embedding", "label")
    val cents = Seq(0L -> Seq(1.0, 0.0, 0.0, 0.0), 1L -> Seq(0.0, 1.0, 0.0, 0.0))

    val out = Similarity.semanticDedup(vecs, cents, 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

    assert(!out.contains(5L), "zero vector must be excluded")
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 6L))
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)), "near-identical higher id in cluster A is dropped")
    assert(out(3L) == ((1L, false)), "near-identical higher id in cluster B is dropped")
    assert(out(4L) == ((0L, true)), "exact cosine tie assigns to the LOWEST cid")
    assert(out(6L) == ((1L, true)))
  }

  test("PQ: encode picks nearest codeword per subspace; ADC ranks a planted twin first at distance zero") {
    val sp = spark; import sp.implicits._
    // dim=8, m=2 subspaces of 4; codebook from the 4 lowest ids
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f, /* */ 0f, 1f, 0f, 0f), 0),
      (1L, Array(0f, 1f, 0f, 0f, /* */ 0f, 0f, 1f, 0f), 0),
      (2L, Array(0f, 0f, 1f, 0f, /* */ 0f, 0f, 0f, 1f), 0),
      (3L, Array(0f, 0f, 0f, 1f, /* */ 1f, 0f, 0f, 0f), 0),
      // 10: exact copy of 2 — its ADC distance THROUGH 2's codes is zero
      (10L, Array(0f, 0f, 1f, 0f, /* */ 0f, 0f, 0f, 1f), 0),
      // 11: first half of 0, second half of 1 — codes must mix (0, 1)
      (11L, Array(1f, 0f, 0f, 0f, /* */ 0f, 0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebook(base, k = 4, m = 2, dim = 8)

    val enc = Similarity.pqEncode(base, cb, m = 2, dim = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(enc((10L, 0)) == 2L && enc((10L, 1)) == 2L, "twin encodes to 2's codes")
    assert(enc((11L, 0)) == 0L && enc((11L, 1)) == 1L, "mixed vector mixes codebooks")

    val top = Similarity.pqTopK(base, cb, col("vec_id") === 10, topK = 2, m = 2, dim = 8)
      .collect().map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(top(1)._1 == 2L, "planted twin ranks first")
    assert(top(1)._2 == 0L, "composed-of-codewords vector has zero quantization error")
  }

  test("IVF-PQ: planted twin found through its list at zero distance; unprobed lists never scored; layout-invariant") {
    val sp = spark; import sp.implicits._
    // two well-separated coarse regions around +e1 and +e3 (dim 8); ids
    // 0..1 are the literal coarse centroids (kLists=2)
    def v(base: Int, j: Int): Array[Float] = {
      val a = new Array[Float](8)
      a(base) = 10f
      a((base + 2) % 8) = 0.1f * (j % 4)
      a
    }
    val rows = (0 until 24).map { i =>
      val region = i % 2 // even ids near e0, odd near e2
      (i.toLong, v(region * 2, i / 2), 0)
    } :+ (100L, v(0, 3), 0) // twin of the vector with j=3 pattern in region 0
    val df = rows.toDF("vec_id", "embedding", "label")
    val top = Similarity.ivfPqTopK(df, col("vec_id") === 100, topK = 3,
      kLists = 2, nProbe = 1, kCodes = 8, m = 2, dim = 8)
    val got = top.collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty, "probe must score its own list")
    // rank-1 candidate sits at ADC distance 0 (the twin's pattern exists
    // among the codebook residuals), and every candidate is from region 0
    // (odd-id region-1 vectors are in the unprobed list)
    assert(got.head._3 == 0L, s"twin pattern must score 0, got ${got.head}")
    assert(got.forall(_._2 % 2 == 0), s"candidates must come from the probed list only: ${got.toSeq}")
    // partition-layout invariance (grid arithmetic is exact)
    val again = Similarity.ivfPqTopK(df.repartition(7), col("vec_id") === 100,
      topK = 3, kLists = 2, nProbe = 1, kCodes = 8, m = 2, dim = 8)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == again.toSeq)
  }

  test("PQ training: partition-layout-invariant codebooks that recover planted subvector clusters") {
    val sp = spark; import sp.implicits._
    val bases = Array(
      Array(2f, 0f, 0f, 0f, 0f, 2f, 0f, 0f),
      Array(0f, 2f, 0f, 0f, 0f, 0f, 2f, 0f),
      Array(0f, 0f, 2f, 0f, 0f, 0f, 0f, 2f),
      Array(0f, 0f, 0f, 2f, 2f, 0f, 0f, 0f))
    // 60 vectors = 4 planted clusters with deterministic sub-0.01 jitter;
    // ids 0..3 are one member of each cluster, so init sees all clusters
    val vecs = (0 until 60).map { i =>
      val b = bases(i % 4)
      (i.toLong, b.indices.map(d => b(d) + ((i * 7 + d) % 5) * 0.002f).toArray, 0)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")

    val cb1 = Similarity.pqTrain(df.repartition(1), k = 4, m = 2, dim = 8)
    val cb7 = Similarity.pqTrain(df.repartition(7), k = 4, m = 2, dim = 8)
    def nested(cb: Array[Array[Array[Long]]]) = cb.map(_.map(_.toSeq).toSeq).toSeq
    assert(nested(cb1) == nested(cb7), "training must not depend on partition layout")

    val enc = Similarity.pqEncode(df, Similarity.pqCodebookDf(spark, cb1), m = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // every member of a planted cluster must share its cluster's code in
    // every subspace (codes themselves are arbitrary labels)
    for (s <- 0 until 2; cl <- 0 until 4) {
      val codes = (0 until 60).filter(_ % 4 == cl).map(i => enc((i.toLong, s))).distinct
      assert(codes.size == 1, s"cluster $cl split across codes in subspace $s: $codes")
    }
    // distinct clusters get distinct codes (all 4 codewords used)
    for (s <- 0 until 2) {
      val reps = (0 until 4).map(cl => enc((cl.toLong, s))).distinct
      assert(reps.size == 4, s"codebook collapsed in subspace $s")
    }
  }

  test("multimodal image decode is real: PNG round-trip recovers exact raster stats") {
    val sp = spark; import sp.implicits._
    val ids = Seq(0L, 1L, 41L, 100L)
    val df = Multimodal.withImagePayload(ids.toDF("doc_id"))
    // the payload really is a PNG (magic bytes), not a fabricated header
    val payload = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(payload(0L).take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val out = Multimodal.extractFeatures(spark, df).collect()
      .map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val w = 16 + (id % 17).toInt
      val h = 16 + (id % 13).toInt
      val sum = (for (y <- 0 until h; x <- 0 until w)
        yield (31L * x + 17L * y + 7L * id) % 256L).sum
      val r = out(id)
      assert(r.getInt(2) == w && r.getInt(3) == h, s"doc $id dims")
      assert(r.getLong(4) == sum, s"doc $id pixel_sum: got ${r.getLong(4)}, want $sum")
      assert(r.getLong(5) == w.toLong * h, s"doc $id n_px")
      assert(r.getInt(1) == payload(id).length) // n_bytes = encoded PNG size
      assert(r.getString(8) == "image", s"doc $id must be labeled a real decode")
    }
  }

  test("multimodal audio decode is real: WAV/AIFF round-trip recovers exact PCM stats") {
    val sp = spark; import sp.implicits._
    val ids = Seq(0L, 1L, 6L, 63L, 101L) // both containers, rate/length extremes
    val df = Multimodal.withAudioPayload(ids.toDF("doc_id"))
    val payload = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // real containers, not fabricated headers: RIFF/WAVE for even ids,
    // FORM/AIFF for odd
    assert(new String(payload(0L).take(4), "US-ASCII") == "RIFF")
    assert(new String(payload(0L).slice(8, 12), "US-ASCII") == "WAVE")
    assert(new String(payload(1L).take(4), "US-ASCII") == "FORM")
    assert(new String(payload(1L).slice(8, 12), "US-ASCII") == "AIFF")
    val out = Multimodal.extractAudioFeatures(spark, df).collect()
      .map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val n = 256 + (id % 64).toInt * 8
      val samples = (0 until n).map(i => (31L * i + 7L * id) % 4096L - 2048L)
      val r = out(id)
      assert(r.getString(2) == (if (id % 2 == 1) "aiff" else "wav"), s"doc $id container")
      assert(r.getInt(3) == 8000 + 200 * (id % 7).toInt, s"doc $id sample_rate")
      assert(r.getInt(4) == 1 && r.getInt(5) == 16, s"doc $id channels/bits")
      assert(r.getLong(6) == n.toLong, s"doc $id n_samples")
      assert(r.getLong(7) == samples.sum, s"doc $id sample_sum")
      assert(r.getLong(8) == samples.map(s => s * s).sum, s"doc $id sample_sq_sum")
      assert(r.getInt(1) == payload(id).length)
    }
    // the pixel-shaped feature stage refuses audio instead of fabricating
    val ex = intercept[Exception] {
      Multimodal.extractFeatures(spark, df).collect()
    }
    assert(ex.getMessage.contains("extractAudioFeatures") ||
      Option(ex.getCause).exists(_.getMessage.contains("extractAudioFeatures")))
  }

  test("multimodal video decode is real: animated GIF round-trip recovers exact per-frame stats") {
    val sp = spark; import sp.implicits._
    val ids = Seq(0L, 1L, 3L, 59L, 102L) // frame counts 2..5, dim extremes
    val df = Multimodal.withVideoPayload(ids.toDF("doc_id"))
    val payload = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // the payload really is a GIF (magic bytes), not a fabricated header
    assert(new String(payload(0L).take(4), "US-ASCII") == "GIF8")
    val out = Multimodal.extractVideoFeatures(spark, df, everyK = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r).toMap
    ids.foreach { id =>
      val nf = 2 + (id % 4).toInt
      val (w, h) = (8 + (id % 5).toInt, 8 + (id % 3).toInt)
      val keptFrames = (0 until nf).filter(_ % 2 == 0)
      assert(out.keys.count(_._1 == id) == keptFrames.size, s"doc $id kept-frame count")
      keptFrames.foreach { f =>
        val sum = (for (y <- 0 until h; x <- 0 until w)
          yield (x + 2L * y + 3L * f + id) % 256L).sum
        val r = out((id, f))
        assert(r.getInt(1) == nf, s"doc $id n_frames")
        assert(r.getInt(3) == w && r.getInt(4) == h, s"doc $id/$f dims")
        assert(r.getLong(5) == sum, s"doc $id/$f pixel_sum: got ${r.getLong(5)}, want $sum")
        assert(r.getLong(6) == w.toLong * h, s"doc $id/$f n_px")
      }
    }
  }

  test("frameSample: GIF payloads yield real decodable PNG frames; others the stub") {
    val sp = spark; import sp.implicits._
    val id = 5L // 3 frames, keep 0 and 2
    val gif = Multimodal.withVideoPayload(Seq(id).toDF("doc_id"))
    val frames = Multimodal.frameSample(spark, gif, frameSize = 64, everyK = 2)
      .collect().map(r => r.getInt(1) -> r.getAs[Array[Byte]](2)).toMap
    assert(frames.keySet == Set(0, 2), "kept original frame indices 0 and 2")
    // each emitted frame is a standalone PNG whose pixels match the source
    val (w, h) = (8 + (id % 5).toInt, 8 + (id % 3).toInt)
    frames.foreach { case (f, png) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == w && img.getHeight == h)
      // read raster samples (like decodeImage): getRGB on TYPE_BYTE_GRAY
      // would apply the linear-gray→sRGB transform to the stored values
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == ((x + 2L * y + 3L * f + id) % 256L).toInt,
          s"frame $f pixel ($x,$y)")
    }
    // non-GIF payloads still route through the labeled byte-slicing stub
    val txt = Multimodal.withPayload(Seq((9L, "0123456789" * 20)).toDF("doc_id", "text"))
    val stubFrames = Multimodal.frameSample(spark, txt, frameSize = 64, everyK = 2).count()
    assert(stubFrames == 2) // 200 bytes / 64 → chunks 0,1,2,3 → keep 0 and 2
  }

  test("multimodal image resize: real nearest-neighbor over decoded pixels") {
    val sp = spark; import sp.implicits._
    val id = 5L
    val df = Multimodal.withImagePayload(Seq(id).toDF("doc_id"))
    val resized = Multimodal.resize(spark, df, 8, 8).collect().head
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.getAs[Array[Byte]](1)))
    assert(img.getWidth == 8 && img.getHeight == 8)
    val sw = 16 + (id % 17).toInt
    val sh = 16 + (id % 13).toInt
    for (y <- 0 until 8; x <- 0 until 8) {
      val (sx, sy) = (x * sw / 8, y * sh / 8)
      assert(img.getRaster.getSample(x, y, 0) ==
        ((31L * sx + 17L * sy + 7L * id) % 256L).toInt, s"pixel ($x,$y)")
    }
  }

  test("dupClusters: matches brute-force components on random graphs; chains converge") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(23)
    // random sparse graph + one long chain (exercises multi-round propagation
    // well past the oracle's unrolled depth)
    val randomEdges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val chain = (100L until 140L).map(i => (i, i + 1))
    val edges = randomEdges ++ chain
    // brute-force union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expect = nodes.map(v => v -> nodes.filter(u => find(u) == find(v)).min).toMap
    // both substrates: driver union-find (default gate) and the forced
    // distributed pointer-jumping path must agree with brute force
    val got = Dedup.dupClusters(edges.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    val gotDist = Dedup.dupClusters(edges.toDF("d1", "d2"), localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expect)
  }

  test("dupGramProfile: exact occurrence accounting, cross-doc only, short docs zeroed") {
    val sp = spark; import sp.implicits._
    // docs 0 and 1 share the 3-gram "a b c"; doc 2 repeats ITS OWN gram
    // twice (within-doc only — must NOT count as duplicated); doc 3 is too
    // short for any 3-gram.
    val df = Seq(
      (0L, "a b c x y"),        // grams: "a b c","b c x","c x y"
      (1L, "z a b c w"),        // grams: "z a b","a b c","b c w"
      (2L, "p q r p q r p q"),  // grams: pqr,qrp,rpq,pqr,qrp,rpq,pqr,qrp? len 8 → 6 grams
      (3L, "just two")).toDF("doc_id", "text")
    val out = Dedup.dupGramProfile(df, n = 3, maxDupPermille = 300)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 0: 3 occurrences, 1 dup ("a b c"); 1000*1 <= 300*3 false → dropped
    assert(out(0L).getAs[Long]("n_grams") == 3)
    assert(out(0L).getAs[Long]("n_dup_grams") == 1)
    assert(out(0L).getAs[Long]("n_distinct") == 3)
    assert(out(0L).getAs[Long]("n_distinct_dup") == 1)
    assert(!out(0L).getAs[Boolean]("kept")) // 1000 > 900
    // doc 1 symmetric
    assert(out(1L).getAs[Long]("n_dup_grams") == 1)
    // doc 2: 6 occurrences of 3 distinct grams, all within-doc → no dup
    assert(out(2L).getAs[Long]("n_grams") == 6)
    assert(out(2L).getAs[Long]("n_distinct") == 3)
    assert(out(2L).getAs[Long]("n_dup_grams") == 0)
    assert(out(2L).getAs[Boolean]("kept"))
    // doc 3: below gram order → zeros, kept (0 <= 0)
    assert(out(3L).getAs[Long]("n_grams") == 0)
    assert(out(3L).getAs[Boolean]("kept"))
  }

  test("dupSpanProfile: overlap and adjacency merge, gaps split, within-doc repeats ignored") {
    val sp = spark; import sp.implicits._
    // n=2 windows. docs 0/1 share bigrams (a b),(b c),(c d),(f g),(g h):
    // doc 0 dup windows at i=0,1,2 (overlap-merge → tokens 0..3) and
    // i=6,7 (→ tokens 6..8): 2 spans, 7 covered tokens of 9.
    val df = Seq(
      (0L, "a b c d e q f g h"),
      (1L, "a b c d x x f g h"),
      (2L, "zz yy"),            // nothing shared → zeros
      (3L, "solo"),             // shorter than the gram order → zero windows
      (4L, "p q p q p q")).toDF("doc_id", "text") // within-doc repeats only
    val out = Dedup.dupSpanProfile(df, n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(0L, 1L)) {
      assert(out(d).getAs[Long]("n_tokens") == 9)
      assert(out(d).getAs[Long]("n_dup_windows") == 5)
      assert(out(d).getAs[Long]("n_spans") == 2)
      assert(out(d).getAs[Long]("covered_tokens") == 7)
    }
    assert(out(2L).getAs[Long]("n_spans") == 0)
    assert(out(2L).getAs[Long]("covered_tokens") == 0)
    assert(out(3L).getAs[Long]("n_tokens") == 1)
    assert(out(3L).getAs[Long]("n_dup_windows") == 0)
    // doc 4 repeats (p q)/(q p) only within itself → not cross-doc
    assert(out(4L).getAs[Long]("n_dup_windows") == 0)

    // adjacency merges (windows [0,1] and [2,3] touch → ONE span of 4);
    // a 1-token gap splits (windows [0,1] and [3,4] → TWO spans).
    val adj = Seq(
      (0L, "a b c d z"), (1L, "a b q"), (2L, "q c d"),
      (10L, "e f x g h"), (11L, "e f w"), (12L, "w g h"))
      .toDF("doc_id", "text")
    val o2 = Dedup.dupSpanProfile(adj, n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(o2(0L).getAs[Long]("n_spans") == 1)      // [0,1]+[2,3] adjacent
    assert(o2(0L).getAs[Long]("covered_tokens") == 4)
    assert(o2(10L).getAs[Long]("n_spans") == 2)     // [0,1], gap, [3,4]
    assert(o2(10L).getAs[Long]("covered_tokens") == 4)
  }

  test("dupSpanProfile: randomized corpora match a brute-force island computation") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 1 + rnd.nextInt(3)
      // tiny vocab forces cross-doc gram collisions; lengths straddle n
      val corpus = (0L until 40L).map { id =>
        val len = rnd.nextInt(25)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(6)).mkString(" "))
      }
      val toks = corpus.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toVector
      }.toMap
      val gramsOf = toks.map { case (id, ts) =>
        id -> (if (ts.size >= n) ts.sliding(n).map(_.mkString(" ")).toVector
               else Vector.empty[String])
      }
      val crossDoc = gramsOf.toSeq
        .flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
        .groupBy(_._1).filter(_._2.size >= 2).keySet
      val expected = gramsOf.map { case (id, gs) =>
        val hits = gs.zipWithIndex.collect { case (g, i) if crossDoc(g) => i }
        val covered = Array.fill(toks(id).size)(false)
        hits.foreach(i => (i until i + n).foreach(covered(_) = true))
        val spans = covered.foldLeft((0, false)) { case ((c, in), b) =>
          (if (b && !in) c + 1 else c, b)
        }._1
        id -> ((toks(id).size.toLong, hits.size.toLong, spans.toLong,
          covered.count(identity).toLong))
      }
      val got = Dedup.dupSpanProfile(corpus.toDF("doc_id", "text"), n)
        .collect().map(r => r.getLong(0) ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
            r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens")))).toMap
      assert(got == expected, s"trial $trial (n=$n)")
    }
  }

  test("dupSpanProfileMulti: randomized corpora match a brute-force multi-order bitmap") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val ns = Seq(Seq(1, 2), Seq(2, 3), Seq(1, 2, 4))(trial)
      val minLen = 1 + rnd.nextInt(5)
      val corpus = (0L until 40L).map { id =>
        val len = rnd.nextInt(25)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(6)).mkString(" "))
      }
      val toks = corpus.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toVector
      }.toMap
      // coverage bitmap across ALL orders, then maximal true runs >= minLen
      // (bit-contiguity IS the overlap-or-adjacency merge rule)
      val expected = toks.map { case (id, ts) =>
        val covered = Array.fill(ts.size)(false)
        for (n <- ns) {
          val gramsOf = toks.map { case (i2, t2) =>
            i2 -> (if (t2.size >= n) t2.sliding(n).map(_.mkString(" ")).toVector
                   else Vector.empty[String])
          }
          val crossDoc = gramsOf.toSeq
            .flatMap { case (i2, gs) => gs.distinct.map(g => (g, i2)) }
            .groupBy(_._1).filter(_._2.size >= 2).keySet
          gramsOf(id).zipWithIndex.foreach { case (g, i) =>
            if (crossDoc(g)) (i until i + n).foreach(covered(_) = true)
          }
        }
        val runs = scala.collection.mutable.ArrayBuffer.empty[Int]
        var cur = 0
        covered.foreach { b =>
          if (b) cur += 1 else { if (cur > 0) runs += cur; cur = 0 }
        }
        if (cur > 0) runs += cur
        val kept = runs.filter(_ >= minLen)
        id -> ((ts.size.toLong, kept.size.toLong, kept.map(_.toLong).sum,
          if (kept.isEmpty) 0L else kept.max.toLong))
      }
      val got = Dedup.dupSpanProfileMulti(corpus.toDF("doc_id", "text"), ns, minLen)
        .collect().map(r => r.getLong(0) ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
            r.getAs[Long]("covered_tokens"), r.getAs[Long]("longest_span")))).toMap
      assert(got == expected, s"trial $trial (ns=$ns, minLen=$minLen)")
    }
  }

  test("shared-token gram substrate is bit-identical to per-order tokenization") {
    // dupSpanMultiFrames/removeDupSpansFrames build per-order grams from
    // ONE persisted token array via the native WordGrams — pin that the
    // hashes equal the wordGramArray(text, n) form they replaced
    val df = docsDf(
      0L -> "The quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs", 2L -> "tiny")
    for (n <- Seq(1, 2, 3, 8)) {
      val viaText = df.select(col("doc_id"),
        transform(TextPipeline.wordGramArray(col("text"), n),
          g => graft.util.Det.md5Hash60(g)).as("hs"))
      val viaToks = df
        .select(col("doc_id"), TextPipeline.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(graft.functions.WordGrams.wordGrams(col("toks"), n),
            g => graft.util.Det.md5Hash60(g)).as("hs"))
      val a = viaText.orderBy("doc_id").collect().map(_.getSeq[Long](1))
      val b = viaToks.orderBy("doc_id").collect().map(_.getSeq[Long](1))
      assert(a.toSeq == b.toSeq, s"gram hash mismatch at n=$n")
    }
  }

  test("rolling-hash substrate: span/cut geometry bit-identical to the md5-gram-string form") {
    // the multi-order family keys windows by two rolled 64-bit polynomials
    // (O(L) per doc) instead of md5 over materialized gram strings
    // (O(L·n)); on a non-hostile corpus both substrates must induce the
    // SAME dup sets and hence the same geometry — pin the full span and
    // piece tables across substrates on randomized corpora
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(67)
    for (trial <- 0 until 2) {
      val ns = Seq(Seq(1, 3), Seq(2, 3, 5))(trial)
      val minLen = 1 + rnd.nextInt(4)
      val corpus = (0L until 50L).map { id =>
        val len = rnd.nextInt(30)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(7)).mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      def profile(md5: Boolean) =
        Dedup.dupSpanProfileMulti(df, ns, minLen, md5Substrate = md5)
          .orderBy("doc_id").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens"),
            r.getAs[Long]("longest_span"))).toSeq
      assert(profile(md5 = false) == profile(md5 = true),
        s"profile geometry diverged across substrates (trial $trial)")
      def pieces(md5: Boolean) =
        Dedup.removeDupSpans(df, ns, minLen, md5Substrate = md5)
          .orderBy("doc_id", "piece_idx").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
            r.getAs[Long]("st"), r.getAs[Long]("en"),
            r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
      assert(pieces(md5 = false) == pieces(md5 = true),
        s"cut geometry diverged across substrates (trial $trial)")
    }
  }

  test("removeDupSpans: keeper survives, non-keepers cut, minLen policy, exact piece geometry and text") {
    val df = docsDf(
      0L -> "a b c d e f",          // keeper of every shared gram: uncut
      1L -> "x x a b c d e y z",    // shares a-e with doc 0: [2,6] cut
      2L -> "",                     // empty token stream: no rows
      3L -> "a b c d e f",          // exact copy of doc 0: fully cut
      4L -> "p q a b r s")          // shares only "a b" (len 2 < minLen): uncut
    val got = Dedup.removeDupSpans(df, ns = Seq(2), minLen = 3)
      .orderBy("doc_id", "piece_idx")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text")))
    val expected = Seq(
      (0L, 0L, 0L, 5L, 6L, 0L, "a b c d e f"),
      (1L, 0L, 0L, 1L, 2L, 5L, "x x"),
      (1L, 1L, 7L, 8L, 2L, 5L, "y z"),
      (4L, 0L, 0L, 5L, 6L, 0L, "p q a b r s"))
    assert(got.toSeq == expected)
  }

  test("removeDupSpans: randomized corpora match a brute-force keeper-aware cut-and-reassemble") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 0 until 3) {
      val ns = Seq(Seq(1, 2), Seq(2, 3), Seq(1, 2, 4))(trial)
      val minLen = 1 + rnd.nextInt(5)
      val corpus = (0L until 40L).map { id =>
        val len = rnd.nextInt(25)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(6)).mkString(" "))
      }
      val toks = corpus.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toVector
      }.toMap
      val expected = corpus.flatMap { case (id, _) =>
        val ts = toks(id)
        val covered = Array.fill(ts.size)(false)
        for (n <- ns) {
          val gramsOf = toks.map { case (i2, t2) =>
            i2 -> (if (t2.size >= n) t2.sliding(n).map(_.mkString(" ")).toVector
                   else Vector.empty[String])
          }
          val byGram = gramsOf.toSeq
            .flatMap { case (i2, gs) => gs.distinct.map(g => (g, i2)) }
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          gramsOf(id).zipWithIndex.foreach { case (g, i) =>
            val docs = byGram(g)
            if (docs.size >= 2 && id != docs.min)
              (i until i + n).foreach(covered(_) = true)
          }
        }
        // cut = maximal true runs >= minLen; pieces = the complement
        val cutRuns = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var runSt = -1
        for (i <- covered.indices) {
          if (covered(i) && runSt < 0) runSt = i
          if (!covered(i) && runSt >= 0) { cutRuns += ((runSt, i - 1)); runSt = -1 }
        }
        if (runSt >= 0) cutRuns += ((runSt, covered.length - 1))
        val cuts = cutRuns.filter { case (s0, e0) => e0 - s0 + 1 >= minLen }
        val cutTok = cuts.map { case (s0, e0) => e0 - s0 + 1 }.sum.toLong
        val pieces = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var cursor = 0
        cuts.foreach { case (s0, e0) =>
          if (s0 > cursor) pieces += ((cursor, s0 - 1)); cursor = e0 + 1
        }
        if (cursor <= ts.size - 1) pieces += ((cursor, ts.size - 1))
        pieces.zipWithIndex.map { case ((s0, e0), idx) =>
          (id, idx.toLong, s0.toLong, e0.toLong, (e0 - s0 + 1).toLong, cutTok,
            ts.slice(s0, e0 + 1).mkString(" "))
        }
      }
      val got = Dedup.removeDupSpans(corpus.toDF("doc_id", "text"), ns, minLen)
        .orderBy("doc_id", "piece_idx")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
          r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("cut_tokens"), r.getAs[String]("text")))
      assert(got.toSeq == expected.toSeq, s"trial $trial (ns=$ns, minLen=$minLen)")
    }
  }

  test("token char spans: char coordinates of every token, across punctuation/boundary shapes") {
    val cases = Seq(
      "a b",           // plain
      "  a  b  ",      // leading/trailing/multi space
      "!a,b!",         // punctuation boundaries
      "ab",            // single token is the whole string
      "",              // empty
      ";;;",           // no tokens at all
      "A1b, C-2d! e")  // mixed case + digits inside tokens
    val df = docsDf(cases.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    val got = df.select(col("doc_id"),
        graft.functions.TokenCharSpans.tokenCharSpans(col("text"))
          .getField("spans").as("sp"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("sp")
          .map(x => (x.getAs[Long]("st"), x.getAs[Long]("en"))).toSeq)
      .toMap
    // brute force: scan lower(text) for maximal [a-z0-9]+ runs
    def runs(t: String): Seq[(Long, Long)] = {
      val l = t.toLowerCase
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var st = -1
      for (i <- l.indices) {
        val tok = l(i).isDigit || (l(i) >= 'a' && l(i) <= 'z')
        if (tok && st < 0) st = i
        if (!tok && st >= 0) { out += ((st.toLong, (i - 1).toLong)); st = -1 }
      }
      if (st >= 0) out += ((st.toLong, (l.length - 1).toLong))
      out.toSeq
    }
    cases.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == runs(t), s"case '$t'")
    }
  }

  test("removeDupSpans emitOriginal: pieces are slices of the ORIGINAL text with char coordinates") {
    // same geometry as the normalized-emission deterministic test, but the
    // docs carry case and punctuation that must survive inside each piece
    val df = docsDf(
      0L -> "A b? c d E f.",               // keeper of every gram: uncut
      1L -> "xx; xx--A b,c (d) e YY z!",   // shares a-e with doc 0: [2,6] cut
      2L -> "!!!",                         // no tokens: no rows
      3L -> "a B c D e F",                 // same token stream as doc 0: fully cut
      4L -> "p q a b r s")                 // shares only "a b" (< minLen): uncut
    val got = Dedup.removeDupSpans(df, ns = Seq(2), minLen = 3, emitOriginal = true)
      .orderBy("doc_id", "piece_idx")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("cut_tokens"), r.getAs[Long]("char_st"),
        r.getAs[Long]("char_en"), r.getAs[String]("text")))
    val expected = Seq(
      (0L, 0L, 0L, 5L, 6L, 0L, 0L, 11L, "A b? c d E f"),
      (1L, 0L, 0L, 1L, 2L, 5L, 0L, 5L, "xx; xx"),
      (1L, 1L, 7L, 8L, 2L, 5L, 20L, 23L, "YY z"),
      (4L, 0L, 0L, 5L, 6L, 0L, 0L, 10L, "p q a b r s"))
    assert(got.toSeq == expected)
  }

  test("removeDupSpansExact emitOriginal: geometry equals normalized emission; text re-tokenizes to it (randomized decorated corpora)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(71)
    val seps = Vector(" ", ", ", "! ", " -- ", "; ", ". ")
    for (trial <- 0 until 2) {
      val minLen = 2 + trial
      // decorated corpus: random token streams joined by random separators
      // with random case flips, plus a recorded char span per token
      val corpus = (0L until 30L).map { id =>
        val toks = (0 until rnd.nextInt(20)).map(_ => "w" + rnd.nextInt(5))
        val sb = new StringBuilder(if (rnd.nextBoolean()) "" else seps(rnd.nextInt(seps.size)))
        val spans = toks.map { t =>
          val cased = t.map(c => if (rnd.nextBoolean()) c.toUpper else c)
          val st = sb.length; sb.append(cased)
          val span = (st.toLong, (sb.length - 1).toLong)
          sb.append(seps(rnd.nextInt(seps.size)))
          span
        }
        (id, sb.toString, spans)
      }
      val df = corpus.map(c => (c._1, c._2)).toDF("doc_id", "text")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"))
      def geo(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("cut_tokens"))
      val norm = Dedup.removeDupSpansExact(df, minLen)
        .collect().map(r => key(r) -> (geo(r), r.getAs[String]("text"))).toMap
      val orig = Dedup.removeDupSpansExact(df, minLen, emitOriginal = true)
        .collect().map(r => key(r) -> (geo(r), r.getAs[Long]("char_st"),
          r.getAs[Long]("char_en"), r.getAs[String]("text"))).toMap
      assert(orig.keySet == norm.keySet, s"trial $trial piece keys")
      val spansOf = corpus.map(c => c._1 -> c._3).toMap
      val textOf = corpus.map(c => c._1 -> c._2).toMap
      orig.foreach { case (k @ (id, _), (g, cst, cen, t)) =>
        assert(g == norm(k)._1, s"trial $trial geometry $k")
        // char coords are exactly the recorded spans of the piece's
        // boundary tokens, and the slice is the literal original text
        val (st, en) = (g._1.toInt, g._2.toInt)
        assert(cst == spansOf(id)(st)._1 && cen == spansOf(id)(en)._2,
          s"trial $trial char coords $k")
        assert(t == textOf(id).substring(cst.toInt, cen.toInt + 1),
          s"trial $trial slice $k")
        // and the slice re-tokenizes to the normalized emission
        assert(t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString(" ")
          == norm(k)._2, s"trial $trial re-tokenize $k")
      }
    }
  }

  test("emitOriginal: length-changing lowercase (U+0130) falls back to the lowered slice, coordinates stay exact") {
    val raw = "İ foo bar"          // İ lowercases to i + combining dot (2 chars)
    val lowered = raw.toLowerCase
    assume(lowered.length != raw.length) // the JDK property the guard keys on
    val got = Dedup.removeDupSpansExact(docsDf(0L -> raw), minLen = 2,
        emitOriginal = true)
      .collect()
      .map(r => (r.getAs[Long]("char_st"), r.getAs[Long]("char_en"),
        r.getAs[String]("text")))
    assert(got.length == 1)
    val (cst, cen, t) = got.head
    // offsets are computed on lower(text); the emitted slice must be that
    // exact lowered range (here: "i" + combining dot token through "bar")
    assert(t == lowered.substring(cst.toInt, cen.toInt + 1))
    assert(t.endsWith("bar") && t.startsWith("i"))
  }

  test("removeDupSpansExact is a fixed point: no duplicated >=minLen window survives removal (randomized, both keeper policies)") {
    // the certificate p_substr_removal_fixedpoint pins cross-engine at
    // sf0.01; here the residual detection is brute-force LITERAL STRINGS
    // over the emitted pieces — independent of every operator kernel —
    // on corpora dense enough that pre-removal duplication is guaranteed
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(97)
    for ((keepFirst, minLen) <- Seq((true, 3), (false, 3), (true, 5))) {
      val corpus = (0L until 35L).map { id =>
        val len = rnd.nextInt(30)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(4)).mkString(" "))
      }.toDF("doc_id", "text")
      val pieces = Dedup.removeDupSpansExact(corpus, minLen,
          keepFirst = keepFirst)
        .collect().map(r => r.getAs[String]("text").split(" ").toVector)
      // pre-condition: the corpus really had duplicated windows (else the
      // certificate is vacuous) — w0..w3 over 35 docs guarantees it
      val preWindows = corpus.collect()
        .map(_.getString(1).split("\\s+").filter(_.nonEmpty).toVector)
        .flatMap(ts => ts.sliding(minLen).filter(_.size == minLen))
        .map(_.mkString(" "))
      assert(preWindows.groupBy(identity).values.exists(_.size >= 2),
        "vacuous trial: no pre-removal duplication")
      val residual = pieces
        .flatMap(ts => ts.sliding(minLen).filter(_.size == minLen))
        .map(_.mkString(" "))
        .groupBy(identity).values.count(_.size >= 2)
      assert(residual == 0,
        s"keepFirst=$keepFirst minLen=$minLen: $residual duplicated windows survived removal")
    }
  }

  test("incrementalRemoveDupSpansExact: increment pieces equal the batch run's (interleaved ids, randomized)") {
    // the batch-equality theorem: probing the per-gram (nocc, keeper)
    // index reproduces removeDupSpansExact over corpus ∪ increment
    // EXACTLY for increment docs — pinned with INTERLEAVED doc ids
    // (parity split), where no monotone-id shortcut could hide a wrong
    // keeper comparison
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(71)
    def shape(d: DataFrame): Seq[(Long, Long, Long, Long, Long, Long, String)] =
      d.orderBy("doc_id", "piece_idx").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
          r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
    for (trial <- 0 until 3) {
      val minLen = 2 + rnd.nextInt(4)
      val corpus = (0L until 40L).map { id =>
        val len = rnd.nextInt(30)
        (id, (0 until len).map(_ => "w" + rnd.nextInt(5)).mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val batch = shape(Dedup.removeDupSpansExact(df, minLen)
        .filter(col("doc_id") % 2 === 1))
      val incr = shape(Dedup.incrementalRemoveDupSpansExact(
        df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0),
        minLen))
      assert(incr == batch, s"trial $trial (minLen=$minLen)")
      assert(incr.nonEmpty, s"trial $trial produced no increment pieces")
    }
  }

  test("exact-substr index: day-2 update folds correctly, survives a disk roundtrip, keepFirst=false leg") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(83)
    val minLen = 3
    val corpus = (0L until 45L).map { id =>
      val len = rnd.nextInt(28)
      (id, (0 until len).map(_ => "w" + rnd.nextInt(5)).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val (dayA, dayB, dayC) = (df.filter(col("doc_id") % 3 === 0),
      df.filter(col("doc_id") % 3 === 1), df.filter(col("doc_id") % 3 === 2))
    def gramSet(idx: Dedup.ExactSubstrIndex) = idx.store.merged.collect()
      .map(r => (r.getAs[Long]("g1"), r.getAs[Long]("g2"),
        r.getAs[Long]("nocc"),
        (r.getStruct(3).getLong(0), r.getStruct(3).getLong(1)))).toSet
    def shape(d: DataFrame) = d.orderBy("doc_id", "piece_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
    // UNWATERMARKED on purpose: this spec pins keeper exactness under
    // INTERLEAVED ids (mod-3 split), which the monotone watermark would
    // reject by design — IdContractSpec covers the enforcement itself
    val idxA = Dedup.buildExactSubstrIndex(dayA, minLen)
      .copy(maxDocId = IdContract.Unwatermarked)
    // keepFirst = false: every occurrence of a duplicated window cut
    val batchNoKeep = shape(Dedup.removeDupSpansExact(
      dayA.unionByName(dayB), minLen, keepFirst = false)
      .filter(col("doc_id") % 3 === 1))
    val incNoKeep = shape(Dedup.incrementalRemoveDupSpansExact(
      dayB, idxA, keepFirst = false))
    assert(incNoKeep == batchNoKeep, "keepFirst=false leg diverged from batch")
    // day-2 fold: updating A's index with B must equal building on A ∪ B
    val idxAB = Dedup.updateExactSubstrIndex(idxA, dayB)
    val idxABFresh = Dedup.buildExactSubstrIndex(dayA.unionByName(dayB), minLen)
    assert(gramSet(idxAB) == gramSet(idxABFresh), "update fold != fresh build")
    // disk roundtrip, then probe day C against the reloaded index
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_idx")
      .toString
    Dedup.writeExactSubstrIndex(idxAB, tmp)
    val idxLoaded = Dedup.readExactSubstrIndex(spark, tmp)
    assert(idxLoaded.minLen == minLen)
    val batchC = shape(Dedup.removeDupSpansExact(df, minLen)
      .filter(col("doc_id") % 3 === 2))
    val incC = shape(Dedup.incrementalRemoveDupSpansExact(dayC, idxLoaded))
    assert(incC == batchC, "day-2 probe via reloaded index diverged from batch")
    idxA.unpersist(); idxAB.unpersist(); idxABFresh.unpersist()
    idxLoaded.unpersist()
  }

  test("segmented exact-substr index: append folds equal monolithic and batch; compaction collapses; disk fold appends one segment") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(97)
    val minLen = 3
    val corpus = (0L until 50L).map { id =>
      val len = rnd.nextInt(28)
      (id, (0 until len).map(_ => "w" + rnd.nextInt(5)).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    def slice(lo: Long, hi: Long) =
      df.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val days = (0 to 4).map(k => slice(k * 10L, k * 10L + 10L))
    val probeDay = days(4)
    def shape(d: DataFrame) = d.orderBy("doc_id", "piece_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"),
        r.getAs[Long]("cut_tokens"), r.getAs[String]("text"))).toSeq
    def gramSet(grams: DataFrame) = grams.collect()
      .map(r => (r.getAs[Long]("g1"), r.getAs[Long]("g2"),
        r.getAs[Long]("nocc"),
        (r.getStruct(3).getLong(0), r.getStruct(3).getLong(1)))).toSet
    val batch = shape(Dedup.removeDupSpansExact(df, minLen)
      .filter(col("doc_id") >= 40L))
    assert(batch.nonEmpty, "degenerate fixture: probe day cut nothing")

    // leg 1: three append folds, never compacting — probe over 4 open
    // segments must equal a default-threshold (compacting) chain AND the
    // batch run
    val segOpen = Seq(days(1), days(2), days(3)).foldLeft(
      Dedup.buildExactSubstrIndex(days(0), minLen,
        compactFraction = Double.MaxValue))(
      Dedup.updateExactSubstrIndex(_, _))
    assert(segOpen.store.deltas.size == 3 && segOpen.maxDocId == 39L,
      s"expected 3 open deltas at wm 39, got ${segOpen.store.deltas.size} @ ${segOpen.maxDocId}")
    val segProbe = shape(
      Dedup.incrementalRemoveDupSpansExact(probeDay, segOpen))
    assert(segProbe == batch, "segmented probe (4 segments) diverged from batch")
    val compacting = Seq(days(1), days(2), days(3)).foldLeft(
      Dedup.buildExactSubstrIndex(days(0), minLen))(
      Dedup.updateExactSubstrIndex(_, _))
    assert(shape(Dedup.incrementalRemoveDupSpansExact(probeDay, compacting))
      == segProbe, "open-delta and default-threshold probes diverged")

    // leg 2: compactFraction = 0 forces compaction on every fold — the
    // final state is ONE base equal to a fresh build, gram for gram, and
    // the probe is unchanged
    val segCompacted = Seq(days(1), days(2), days(3)).foldLeft(
      Dedup.buildExactSubstrIndex(days(0), minLen,
        compactFraction = 0.0))(Dedup.updateExactSubstrIndex(_, _))
    assert(segCompacted.store.deltas.isEmpty, "compaction left open deltas")
    val fresh = Dedup.buildExactSubstrIndex(
      days.take(4).reduce(_ unionByName _), minLen)
    assert(gramSet(segCompacted.store.base) == gramSet(fresh.store.base),
      "compacted base diverged from a fresh build")
    assert(shape(Dedup.incrementalRemoveDupSpansExact(
      probeDay, segCompacted)) == batch, "post-compaction probe diverged")

    // leg 3: disk round-trip with an APPEND-ONLY on-disk fold — write 2
    // segments, fold day 3 touching only one new segment dir + meta,
    // reload (3 segments, advanced watermark), fold day 4 in memory on
    // the reloaded handle, probe
    val twoSeg = Dedup.updateExactSubstrIndex(
      Dedup.buildExactSubstrIndex(days(0), minLen,
        compactFraction = Double.MaxValue), days(1))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_seg_substr_idx").toString
    Dedup.writeExactSubstrIndex(twoSeg, tmp)
    Dedup.foldExactSubstrIndexOnDisk(spark, tmp, days(2))
    val loaded = Dedup.readExactSubstrIndex(spark, tmp)
    assert(loaded.store.segments.size == 3 && loaded.maxDocId == 29L &&
      loaded.minLen == minLen,
      s"reloaded index: ${loaded.store.segments.size} segments @ ${loaded.maxDocId}")
    val loadedFolded = Dedup.updateExactSubstrIndex(loaded, days(3))
    assert(shape(Dedup.incrementalRemoveDupSpansExact(
      probeDay, loadedFolded)) == batch,
      "probe via disk-folded + reloaded index diverged from batch")
    // watermark: an already-indexed id must fail loudly, in memory and on disk
    intercept[IllegalArgumentException] {
      Dedup.updateExactSubstrIndex(loadedFolded, days(1))
    }
    intercept[IllegalArgumentException] {
      Dedup.foldExactSubstrIndexOnDisk(spark, tmp, days(1))
    }
    segOpen.unpersist(); compacting.unpersist(); segCompacted.unpersist()
    fresh.unpersist(); loadedFolded.unpersist()
  }

  test("segmented disk fold is crash-retryable: orphan segment dirs and half-swapped meta recover") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(131)
    val minLen = 3
    val df = (0L until 30L).map { id =>
      (id, (0 until rnd.nextInt(25)).map(_ => "c" + rnd.nextInt(4)).mkString(" "))
    }.toDF("doc_id", "text")
    def slice(lo: Long, hi: Long) =
      df.filter(col("doc_id") >= lo && col("doc_id") < hi)
    val fsPath = new org.apache.hadoop.fs.Path("/")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segCount(dir: String): Int =
      Dedup.readExactSubstrIndex(spark, dir).store.segments.size

    // baseline: base over days 0-9, one clean disk fold of 10-19
    val base = Dedup.buildExactSubstrIndex(slice(0, 10), minLen,
      compactFraction = Double.MaxValue)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_seg_recover").toString
    Dedup.writeExactSubstrIndex(base, tmp)
    Dedup.foldExactSubstrIndexOnDisk(spark, tmp, slice(10, 20))

    // crash shape 1: segment renamed into place but meta never swapped
    // (an orphan dir meta does not list) — the pre-fix mode("errorifexists")
    // wedged every retry here. A retry of the SAME increment must succeed
    // and the orphan's content must be the retry's, not the crash's.
    val orphan = new org.apache.hadoop.fs.Path(s"$tmp/seg-00002")
    fs.mkdirs(orphan)
    require(fs.exists(orphan))
    Dedup.foldExactSubstrIndexOnDisk(spark, tmp, slice(20, 25))
    assert(segCount(tmp) == 3, "retry over an orphan segment dir failed")

    // crash shape 2: an UNCOMMITTED .meta.tmp (no _SUCCESS — crash mid
    // meta write) is discarded; the dir stays at its pre-fold state
    val metaTmp = new org.apache.hadoop.fs.Path(s"$tmp/.meta.tmp")
    fs.mkdirs(metaTmp)
    assert(segCount(tmp) == 3, "uncommitted meta tmp must be rolled back")
    assert(!fs.exists(metaTmp), "recovery must delete the uncommitted tmp")

    // crash shape 3: a COMMITTED .meta.tmp (crash between meta delete and
    // rename) rolls FORWARD: the fold had fully happened, so recovery
    // installs the new meta and a retry of the same increment fails
    // LOUDLY on the advanced watermark instead of double-folding
    Dedup.foldExactSubstrIndexOnDisk(spark, tmp, slice(25, 28))
    val meta = new org.apache.hadoop.fs.Path(s"$tmp/meta")
    require(fs.rename(meta, metaTmp)) // committed tmp (carries _SUCCESS)
    assert(segCount(tmp) == 4, "committed meta tmp must roll forward")
    intercept[IllegalArgumentException] {
      Dedup.foldExactSubstrIndexOnDisk(spark, tmp, slice(25, 28))
    }

    // the recovered index still answers correctly: probe day 28-29
    // against the disk state == the batch run over everything folded
    val loaded = Dedup.readExactSubstrIndex(spark, tmp)
    def shape(d: DataFrame) = d.orderBy("doc_id", "piece_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("piece_idx"),
        r.getAs[Long]("st"), r.getAs[Long]("en"), r.getAs[String]("text")))
      .toSeq
    val got = shape(
      Dedup.incrementalRemoveDupSpansExact(slice(28, 30), loaded))
    val want = shape(Dedup.removeDupSpansExact(
      df.filter(col("doc_id") < 28).unionByName(slice(28, 30)), minLen)
      .filter(col("doc_id") >= 28))
    assert(got == want, "post-recovery probe diverged from batch")
    base.unpersist(); loaded.unpersist()
  }

  test("probe-only rows rebuild their prebuilt index when the corpus is rewritten in place") {
    val sp = spark; import sp.implicits._
    def run25(c: Char): String = (1 to 25).map(i => s"$c$i").mkString(" ")
    val sf = java.nio.file.Files.createTempDirectory("graft_rewritten_sf")
    def write(corpusRun: Char): Unit =
      ((1L to 8L).map(i => (i, s"corpus doc $i ${run25(corpusRun)} tail $i")) ++
        Seq((9L, s"inc nine ${run25('a')} end"), (10L, s"inc ten ${run25('b')} end")))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    def rows(d: DataFrame) = d.collect().map(_.toSeq).toSeq
    val q = graft.SparkEntry.queries("p_incremental_substr_removal_probe_only")
    try {
      // ids 1..8 are the indexed low four-fifths, 9..10 the probed increment
      write('a')
      val first = rows(q(spark, sf.toString))
      // same path, new content: the corpus now repeats doc 10's run, not 9's
      write('b')
      val second = rows(q(spark, sf.toString))
      val d = spark.read.parquet(s"$sf/documents.parquet")
      val idx = Dedup.buildExactSubstrIndex(d.filter(col("doc_id") <= 8L), 20)
      val want =
        try rows(Dedup.incrementalRemoveDupSpansExact(d.filter(col("doc_id") > 8L), idx)
          .filter(col("cut_tokens") > 0)
          .select(col("doc_id"), col("piece_idx"), col("st"), col("en"),
            col("n_tokens"), md5(col("text")).as("text_hash"))
          .orderBy("doc_id", "piece_idx"))
        finally idx.unpersist()
      assert(first.map(_.head).toSet == Set(9L) && want.map(_.head).toSet == Set(10L),
        s"degenerate fixture: first cut ${first.map(_.head)}, fresh cut ${want.map(_.head)}")
      assert(second == want,
        "probe after an in-place rewrite must match a freshly built index, not the stale one")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(sf.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sf.toString), true)
    }
  }

  test("incrementalNearDup: planted cross-side pair found; within-batch pairs suppressed") {
    val sp = spark; import sp.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // corpus (even ids): doc 0 = base, doc 2 = unrelated; increment (odd):
    // doc 1 = near-dup of 0, doc 3 = unrelated, docs 5/7 = near-dups of
    // EACH OTHER but of nothing indexed (must not be reported)
    val inTwin = "zzz completely different text with nothing shared at all one"
    val corpus = Seq((0L, base), (2L, "some entirely unrelated corpus document text here"))
    val incoming = Seq(
      (1L, base + " x"),
      (3L, "another unrelated incoming document nothing in common truly"),
      (5L, inTwin), (7L, inTwin + " two"))
    val out = Dedup.incrementalNearDup(
        incoming.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 0L)), s"planted cross-side pair missing: $out")
    assert(!out.exists { case (a, b) => a % 2 == b % 2 },
      s"same-side pair reported: $out")
    assert(!out.exists { case (a, b) => Set(a, b).subsetOf(Set(5L, 7L)) },
      "increment-internal near-dup must not be reported")
  }

  test("incrementalNearDup equals the cross-side restriction of the full pipeline (randomized)") {
    val sp = spark; import sp.implicits._
    // On an exact-dup-free corpus, per-side rep collapse is the identity
    // and both pipelines see identical band keys, so the incremental
    // output must equal nearDupPairs(all) restricted to cross-parity
    // pairs, jaccard included. Seeded mutation corpus: base docs with
    // per-doc random char edits at varying edit rates.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia")
    val base = (0 until 12).map(_ =>
      (0 until 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docsSeq = (0L until 36L).map { id =>
      val t = base((id / 3).toInt) // consecutive ids share a base → both parities per group
      // unique suffix prevents exact dups; small random edit varies jaccard
      val edited = if (rnd.nextBoolean()) t.replace(vocab(rnd.nextInt(10)),
        vocab(rnd.nextInt(10))) else t
      (id, edited + " uid" + id)
    }
    val df = docsSeq.toDF("doc_id", "text")
    val full = Dedup.nearDupPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val crossFull = full.collect {
      case ((a, b), j) if a % 2 != b % 2 =>
        // orient as (odd incoming, even index) to match incremental output
        (if (a % 2 == 1) (a, b) else (b, a)) -> j
    }.toMap
    val inc = Dedup.incrementalNearDup(
        df.filter(col("doc_id") % 2 === 1), df.filter(col("doc_id") % 2 === 0),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inc.keySet == crossFull.keySet,
      s"pair sets differ: only-inc=${inc.keySet -- crossFull.keySet} " +
        s"only-full=${crossFull.keySet -- inc.keySet}")
    inc.foreach { case (k, j) =>
      assert(math.abs(j - crossFull(k)) < 1e-12, s"jaccard differs at $k")
    }
    assert(inc.nonEmpty, "mutation corpus must produce cross-side pairs")
  }

  test("incrementalNearDup(prebuilt index): two probes equal the convenience path; index stays persisted") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia")
    val base = (0 until 8).map(_ =>
      (0 until 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val corpusDf = (0L until 16L).map { id =>
      (id, base((id / 2).toInt) + " uid" + id)
    }.toDF("doc_id", "text")
    def mkInc(off: Long) = (0L until 8L).map { i =>
      val id = 100L * off + i
      (id, base(rnd.nextInt(base.size)) + " uid" + id)
    }
    val incA = mkInc(1).toDF("doc_id", "text")
    val incB = mkInc(2).toDF("doc_id", "text")

    val idx = Dedup.buildNearDupIndex(corpusDf)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val viaIdxA = pairs(Dedup.incrementalNearDup(incA, idx, 0.5))
      val viaIdxB = pairs(Dedup.incrementalNearDup(incB, idx, 0.5))
      // the second probe must see an index unharmed by the first
      assert(idx.docStore.storageLevel.useMemory || idx.docStore.storageLevel.useDisk,
        "doc store lost its persistence between probes")
      assert(idx.bands.storageLevel.useMemory || idx.bands.storageLevel.useDisk,
        "bands table lost its persistence between probes")
      val viaCorpusA = pairs(Dedup.incrementalNearDup(incA, corpusDf, threshold = 0.5))
      val viaCorpusB = pairs(Dedup.incrementalNearDup(incB, corpusDf, threshold = 0.5))
      assert(viaIdxA == viaCorpusA, "probe A differs from convenience path")
      assert(viaIdxB == viaCorpusB, "probe B differs from convenience path")
      assert(viaIdxA.nonEmpty && viaIdxB.nonEmpty,
        "seeded corpora must produce cross-side pairs")
    } finally idx.unpersist()
  }

  test("fused inc near-dup probe == the two separate entries (r16 derive-once)") {
    val sp = spark; import sp.implicits._
    // incNearDupProbeFrames (one signature chain + one fused verify) must
    // be value-identical to incrementalNearDupFromReps (cross side) +
    // nearDupFramesFromReps.verified (internal side) on a seeded mutation
    // corpus that produces BOTH pair kinds, jaccard values included
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia")
    val base = (0 until 10).map(_ =>
      (0 until 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // corpus ids 0..19 (2 per base), increment ids 100..119 (2 per base) —
    // shared bases force cross pairs AND increment-internal pairs
    val corpusDf = (0L until 20L).map { id =>
      (id, base((id / 2).toInt) + " uid" + id) }.toDF("doc_id", "text")
    val incDf = (0L until 20L).map { i =>
      (100L + i, base((i / 2).toInt) + " uid" + (100 + i)) }
      .toDF("doc_id", "text")
    val idx = Dedup.buildNearDupIndex(corpusDf)
    try {
      val incReps = Dedup.collapseReps(incDf).localCheckpoint()
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val fused = Dedup.incNearDupProbeFrames(incReps, idx, 0.5)
      val sepCross = pairs(Dedup.incrementalNearDupFromReps(incReps, idx, 0.5))
      val f = Dedup.nearDupFramesFromReps(incReps, idx.k, idx.nHashes,
        idx.rowsPerBand, 0.5)
      val sepInternal =
        try pairs(f.verified)
        finally {
          f.spread.unpersist(blocking = true)
          f.candTexts.unpersist(blocking = true)
        }
      val fc = pairs(fused.cross)
      val fi = pairs(fused.internal)
      assert(fc.keySet == sepCross.keySet,
        s"cross pairs differ: only-fused=${fc.keySet -- sepCross.keySet} " +
          s"only-separate=${sepCross.keySet -- fc.keySet}")
      fc.foreach { case (k2, j) =>
        assert(math.abs(j - sepCross(k2)) < 1e-12, s"cross jaccard at $k2") }
      assert(fi.keySet == sepInternal.keySet,
        s"internal pairs differ: only-fused=${fi.keySet -- sepInternal.keySet} " +
          s"only-separate=${sepInternal.keySet -- fi.keySet}")
      fi.foreach { case (k2, j) =>
        assert(math.abs(j - sepInternal(k2)) < 1e-12, s"internal jaccard at $k2") }
      assert(fc.nonEmpty && fi.nonEmpty,
        "seeded corpus must produce both cross and internal pairs")
    } finally idx.unpersist()
  }

  test("dupSpanCols: EMPTY duplicated-gram set yields all-zero profiles, not a refusal") {
    val sp = spark; import sp.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "f g h i j k")).toDF("doc_id", "text")
    // duplicate-free corpus snapshot → dupGramArray legitimately empty
    val empty = Dedup.dupGramArray(docs, n = 3)
    assert(empty.isEmpty, "corpus was built duplicate-free")
    val got = docs.select(col("doc_id"),
        Dedup.dupSpanCols(col("text"), empty, n = 3).as("p"))
      .select("doc_id", "p.n_tokens", "p.n_dup_windows", "p.n_spans",
        "p.covered_tokens")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(0L -> (5L, 0L, 0L, 0L), 1L -> (6L, 0L, 0L, 0L)))
  }

  test("spanMaskReport: masks match an end-to-end brute force (hash order, islands, clipping)") {
    val sp = spark; import sp.implicits._
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val (n, nShards, seqLen, salt) = (2, 2, 8, "tmask")
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 30L).map { id =>
      val len = rnd.nextInt(20)
      (id, (0 until len).map(_ => "w" + rnd.nextInt(5)).mkString(" "))
    }
    // brute force, sharing NO code with the operator
    val toks = corpus.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toVector }.toMap
    val gramsOf = toks.map { case (id, ts) =>
      id -> (if (ts.size >= n) ts.sliding(n).map(_.mkString(" ")).toVector
             else Vector.empty[String]) }
    val crossDoc = gramsOf.toSeq
      .flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
      .groupBy(_._1).filter(_._2.size >= 2).keySet
    def islands(id: Long): Vector[(Long, Long)] = {
      val hits = gramsOf(id).zipWithIndex.collect { case (g, i) if crossDoc(g) => i }
      hits.foldLeft(Vector.empty[(Long, Long)]) { case (acc, i) =>
        val (st, en) = (i.toLong, (i + n - 1).toLong)
        acc.lastOption match {
          case Some((ps, pe)) if st <= pe + 1 => acc.init :+ ((ps, math.max(pe, en)))
          case _ => acc :+ ((st, en))
        }
      }
    }
    val packedIds = corpus.map(_._1).filter(toks(_).nonEmpty)
    val startTok = packedIds
      .groupBy(id => h60(s"$salt-shard-$id") % nShards)
      .flatMap { case (shard, ids) =>
        val ordered = ids.sortBy(id => (h60(s"$salt-order-$id"), id))
        val starts = ordered.scanLeft(0L)((acc, id) => acc + toks(id).size).init
        ordered.zip(starts).map { case (id, st) => id -> (shard, st) }
      }
    val chunkMask = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for (id <- packedIds; (st, en) <- islands(id)) {
      val (shard, off) = startTok(id)
      val (gst, gen) = (off + st, off + en)
      for (k <- gst / seqLen to gen / seqLen) {
        val masked = math.min(gen, (k + 1) * seqLen - 1) - math.max(gst, k * seqLen) + 1
        val (m0, p0) = chunkMask.getOrElse((shard, k), (0L, 0L))
        chunkMask((shard, k)) = (m0 + masked, p0 + 1)
      }
    }
    val expected = chunkMask.toSeq.groupBy(_._1._1).map { case (shard, rows) =>
      shard -> ((rows.map(_._2._1).sum, rows.size.toLong,
        rows.map(_._2._1).max, rows.map(_._2._2).sum))
    }
    val got = Packing.spanMaskReport(corpus.toDF("doc_id", "text"),
        n, nShards, seqLen, salt)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_mask_tokens"), r.getAs[Long]("n_masked_chunks"),
          r.getAs[Long]("max_chunk_mask"), r.getAs[Long]("n_mask_pieces")))).toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.nonEmpty, "corpus must produce masked chunks")
    // at least one island must cross a chunk boundary, or the clipping
    // arithmetic was never exercised (pieces > islands ⟺ some split)
    val totalIslands = packedIds.map(islands(_).size).sum.toLong
    val totalPieces = chunkMask.values.map(_._2).sum
    assert(totalPieces > totalIslands,
      s"no boundary-clipped pieces (islands=$totalIslands pieces=$totalPieces) — reseed")
  }

  test("keepBest: highest quality wins, ties break to lowest id, cluster sizes exact") {
    val sp = spark; import sp.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("v", "lbl")
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 20L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "q")
    val out = Dedup.keepBest(clusters, docs, col("q"))
      .collect().map(r => r.getAs[Long]("cluster_rep") -> r).toMap
    assert(out(1L).getAs[Long]("keep_id") == 2L)      // quality tie → min id
    assert(out(1L).getAs[Double]("keep_quality") == 20.0)
    assert(out(1L).getAs[Long]("n_docs") == 3L)
    assert(out(5L).getAs[Long]("keep_id") == 5L)
    assert(out(5L).getAs[Long]("n_docs") == 2L)
  }

  test("keepBest: FRACTIONAL quality orders on the Det grid — the long cast would zero it") {
    val sp = spark; import sp.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("v", "lbl")
    // classifier-score shape: probabilities in [0,1]. Under the retired
    // cast("long") both would truncate to 0 and the min-id doc 1 would
    // win; on the Det grid doc 2's 0.7 beats doc 1's 0.3.
    val docs = Seq((1L, 0.3), (2L, 0.7)).toDF("doc_id", "q")
    assert(docs.select(col("q").cast("long")).as[Long].collect().toSet ==
      Set(0L), "fixture must expose the truncation hazard")
    val out = Dedup.keepBest(clusters, docs, col("q")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keep_id") == 2L,
      "fractional quality must pick the higher score, not min id")
    assert(out.head.getAs[Double]("keep_quality") == 0.7)
    // sub-grid differences (< 1e-6) tie and fall to the id tie-break
    val docs2 = Seq((1L, 0.5000000) , (2L, 0.5000004)).toDF("doc_id", "q")
    val out2 = Dedup.keepBest(clusters, docs2, col("q")).collect()
    assert(out2.head.getAs[Long]("keep_id") == 1L,
      "sub-1e-6 quality gaps must tie deterministically to the smaller id")
  }

  test("bigramLmProfile: exact bit-length surprisal vs hand computation; short docs zeroed") {
    val sp = spark; import sp.implicits._
    // corpus: "a b" x3 docs + one "a c" doc + one single-token doc.
    // c1: a=5 (incl. doc 4), b=3, c=1; V=3. bigrams: (a b) c2=3, (a c) c2=1.
    val df = Seq((0L, "a b"), (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "a"))
      .toDF("doc_id", "text")
    def bits(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val suAB = bits(5 + 3) - bits(3 + 1) // ⌊log2 8⌋+1 − ⌊log2 4⌋+1 = 4−3 = 1
    val suAC = bits(5 + 3) - bits(1 + 1) // 4 − 2 = 2
    assert(suAB == 1 && suAC == 2)
    // gate at 1.5 bits mean: "a b" docs keep (1 ≤ 1.5), "a c" drops (2 > 1.5)
    val out = TextPipeline.bigramLmProfile(df, maxMeanDecibits = 15)
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L to 2L).foreach { id =>
      assert(out(id).getAs[Long]("n_bigrams") == 1)
      assert(out(id).getAs[Long]("sum_surprisal_bits") == suAB.toLong)
      assert(out(id).getAs[Boolean]("kept"))
    }
    assert(out(3L).getAs[Long]("sum_surprisal_bits") == suAC.toLong)
    assert(!out(3L).getAs[Boolean]("kept"))
    // sub-2-token doc: zeros, kept
    assert(out(4L).getAs[Long]("n_bigrams") == 0)
    assert(out(4L).getAs[Boolean]("kept"))
  }

  test("weightedSample: top-k matches brute force; k=1 inclusion tracks w/Σw; bad weights fail loudly") {
    val sp = spark; import sp.implicits._
    // the shared md5-hash60 recipe, in pure Scala
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def key(id: Long, w: Int, salt: String): Long =
      (1 to w).map(j => h60(s"$salt-$id-$j")).max
    val ids = (0L until 50L).toSeq
    def wOf(id: Long): Int = if (id % 10 == 0) 4 else 1
    val df = ids.map(id => (id, wOf(id))).toDF("doc_id", "wt")
    val got = Sampling.weightedSample(df, col("wt"), 12, "t-v1", "doc_id")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("sample_key")))
    val want = ids.map(id => (id, key(id, wOf(id), "t-v1")))
      .sortBy { case (id, k) => (-k, id) }.take(12)
    assert(got.toSeq == want, "top-k set, order and key values match brute force")
    // distribution: over many salts, k=1 picks item i with prob w_i/Σw
    // exactly (max-of-uniforms ⇔ A-ES); verify empirically in pure Scala
    val items = Seq(1L -> 4, 2L -> 1, 3L -> 1)
    val wins = (0 until 3000).map { s =>
      items.maxBy { case (id, w) => (key(id, w, s"salt$s"), -id) }._1
    }.groupBy(identity).view.mapValues(_.size).toMap
    val pHeavy = wins(1L).toDouble / 3000 // expect 4/6 ≈ 0.667
    assert(math.abs(pHeavy - 4.0 / 6) < 0.03, s"heavy-item win rate $pHeavy")
    // non-integral and out-of-range weights fail loudly, not silently
    val bad = Seq((1L, 2.5)).toDF("doc_id", "wt")
    val ex = intercept[Exception] {
      Sampling.weightedSample(bad, col("wt"), 1, "s", "doc_id").collect()
    }
    assert(ex.getMessage.contains("weightedSample") ||
      Option(ex.getCause).exists(_.getMessage.contains("weightedSample")))
  }

  test("classifierScore: linear predictor matches hand computation; threshold is sigmoid-consistent") {
    val sp = spark; import sp.implicits._
    val text = "the cat sat. the end."
    val beta = Array(-2.0, 0.01, 8.0, -20.0, -0.1)
    val z = Seq(Tuple1(text)).toDF("text")
      .select(TextPipeline.classifierScore(col("text"), beta)).head().getDouble(0)
    // tokens: the cat sat the end (5); chars 21; stopwords 2; punct 2
    val expect = -2.0 + 0.01 * 5 + 8.0 * (2.0 / 5) + -20.0 * (2.0 / 21) + -0.1 * (21.0 / 5)
    assert(z == expect, s"$z vs $expect")
    // z >= 0 iff sigmoid(z) >= 0.5 — the linear-space keep verdict
    assert((z >= 0.0) == (1.0 / (1.0 + math.exp(-z)) >= 0.5))
  }

  test("PII scrub: exact counts and redacted text for handcrafted cases") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (0L, "mail a.b-c_9@sub.example.org now"),
      (1L, "host 192.168.0.1 and 10.0.0.255 up"),
      (2L, "call +1-555-123-4567 or +44-020-7946-0958"),
      (3L, "email me at 10.1.2.3@ips.net ok"), // email whose domain LOOKS like an IP
      (4L, "no pii here, just words and 3.14 pie")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Pii.emailCount(col("text")).as("ne"), Pii.ipv4Count(col("text")).as("ni"),
        Pii.phoneCount(col("text")).as("np"), Pii.redact(col("text")).as("red"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(0L) == ((1, 0, 0, "mail [EMAIL] now")))
    assert(out(1L) == ((0, 2, 0, "host [IP] and [IP] up")))
    assert(out(2L) == ((0, 0, 2, "call [PHONE] or [PHONE]")))
    // email consumed first, so its dotted-quad domain is NOT double-redacted
    assert(out(3L)._4 == "email me at [EMAIL] ok")
    assert(out(4L) == ((0, 0, 0, "no pii here, just words and 3.14 pie")))
  }

  test("trainOrder: epoch salts are independent permutations with stable shards") {
    val sp = spark; import sp.implicits._
    val df = (0L until 200L).toDF("doc_id")
    def order(salt: String): Seq[Long] =
      Sampling.trainOrder(df, "doc_id", salt, 8)
        .orderBy("shuffle_key", "doc_id").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
    val e0 = order("epoch0"); val e1 = order("epoch1")
    assert(e0.sorted == (0L until 200L), "a shuffle must be a permutation")
    assert(e1.sorted == (0L until 200L))
    assert(e0 != e1, "different epochs must give different orders")
    assert(e0 == order("epoch0"), "same epoch must reproduce the same order")
    val shards = Sampling.trainOrder(df, "doc_id", "epoch0", 8)
      .select("shard").distinct().collect().map(_.getLong(0)).toSet
    assert(shards.subsetOf((0L until 8L).toSet) && shards.size > 1)
  }

  test("tokenBudgetMixture: quotas are exact integer shares, overshoot bounded by one doc") {
    val sp = spark; import sp.implicits._
    // two sources, weight ramp 1:3, budget 400 → quotas 100 and 300
    val df = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "a" else "b", 17L + i % 7)
    }.toDF("doc_id", "source", "n_tok")
    val out = Sampling.tokenBudgetMixture(df, "source", col("n_tok"),
      when(col("source") === "a", 1).otherwise(3), 400L, "s0", "doc_id")
    val bySource = out.groupBy("source")
      .agg(max("quota_tokens").as("q"),
        sum(when(col("kept"), col("tokens")).otherwise(0L)).as("kt"),
        max(when(col("kept"), col("tokens"))).as("maxDoc"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bySource("a")._1 == 100L && bySource("b")._1 == 300L)
    for ((_, (q, kt, maxDoc)) <- bySource) {
      assert(kt > 0, "positive quota keeps at least one doc")
      assert(kt < q + maxDoc, s"overshoot must be bounded by one doc: $kt vs $q")
    }
    // verdicts are partition-layout-invariant
    val kept1 = out.filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val kept7 = Sampling.tokenBudgetMixture(df.repartition(7), "source", col("n_tok"),
        when(col("source") === "a", 1).otherwise(3), 400L, "s0", "doc_id")
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == kept7)
  }

  test("tokenBudgetMixture bucketed: identical verdicts under extreme source skew, bounded per-bucket input") {
    val sp = spark; import sp.implicits._
    // one crawl source holds 95 % of the corpus — the realistic mixture
    // skew that serializes the single-window plan through one task
    val df = (0L until 400L).map { i =>
      (i, if (i % 20 == 0) "wiki" else "crawl", 11L + i % 5)
    }.toDF("doc_id", "source", "n_tok")
    val w = when(col("source") === "wiki", 3).otherwise(1)
    def kept(buckets: Int, parts: Int) =
      Sampling.tokenBudgetMixture(df.repartition(parts), "source", col("n_tok"),
          w, 1500L, "sk0", "doc_id", hashBuckets = buckets)
        .filter(col("kept")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val single = kept(0, 1)
    assert(single == kept(16, 1), "bucketed must reproduce single-window verdicts")
    assert(single == kept(16, 7), "bucketed verdicts are partition-layout-invariant")
    assert(single == kept(3, 5), "any bucket count reproduces the spec")
    // the scale guarantee: the dominant source's rows spread across many
    // buckets, and no bucket holds a serializing share of its source
    val divisor = ((1L << 60) + 16 - 1) / 16
    val buckets = df.filter(col("source") === "crawl")
      .withColumn("h", Sampling.rowHash(col("doc_id"), "sk0"))
      .withColumn("b", expr(s"h div ${divisor}L"))
      .groupBy("b").count().collect().map(r => r.getLong(1))
    assert(buckets.length >= 8,
      s"380 hot-source rows must spread across many hash-buckets, got ${buckets.length}")
    assert(buckets.max < 380 * 3 / 10,
      s"no bucket may hold a serializing share: max ${buckets.max} of 380")
  }

  test("lengthBatches: full uniform batches per (bucket, shard), padding bounded by bucket width, layout-invariant") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 300L).map(i => (i, 20 + (i * 37 % 400).toInt))
      .toDF("doc_id", "n_tok")
    def run(parts: Int) = Packing.lengthBatches(docs.repartition(parts), "doc_id",
      col("n_tok"), bucketWidth = 50, batchSize = 4, nShards = 3, "t0")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val rows = run(1)
    // bucket arithmetic: every doc's bucket is floor(len/50)
    val byId = docs.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, bucket, _, _, _) =>
      assert(bucket == byId(id) / 50, s"doc $id bucket")
    }
    // within each (bucket, shard): batch sizes uniform at 4 except the tail,
    // positions dense in [0, n)
    rows.groupBy(r => (r._2, r._3)).foreach { case ((b, s), g) =>
      val byBatch = g.groupBy(_._4).toSeq.sortBy(_._1)
      byBatch.dropRight(1).foreach { case (bn, m) =>
        assert(m.size == 4, s"non-tail batch ($b,$s,$bn) has ${m.size} docs")
      }
      byBatch.foreach { case (_, m) =>
        assert(m.map(_._5).sorted.toSeq == (0 until m.size).map(_.toLong), "dense positions")
      }
      // padding bound: same bucket => lengths within 50 of each other
      val lens = g.map(r => byId(r._1))
      assert(lens.max - lens.min < 50, s"bucket $b spans ${lens.min}..${lens.max}")
    }
    assert(rows.toSet == run(7).toSet, "assignment is partition-layout-invariant")
  }

  test("corpusFreqProfile: exact integer gates, OOV and empty docs handled, carry columns ride the aggregate") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (0L, "alpha alpha beta beta beta", "x"), // all in-vocab, common tokens
      (1L, "alpha zz yy ww vv uu", "x"),       // 1 of 6 in vocab -> dropped by ratio
      (2L, "qq rr ss", "y"),                   // fully OOV
      (3L, "", "y"),                           // no tokens at all
      (4L, "beta beta alpha", "y")
    ).toDF("doc_id", "text", "grp")
    val vocab = TextPipeline.corpusVocab(docs, col("text"), topV = 2)
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("beta" -> 5L, "alpha" -> 4L), s"vocab: $v")
    val prof = TextPipeline.corpusFreqProfile(docs, col("text"), vocab,
        minInVocabPermille = 600, minMeanTf = 4L, "doc_id", carryCols = Seq("grp"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(prof.size == 5, "every doc keeps a row, even token-less ones")
    assert(prof(0L) == (("x", 5L, 5L, 23L, true)))  // 2*4 + 3*5 = 23, mean 4.6 >= 4
    assert(prof(1L)._5 == false, "OOV-heavy doc dropped by the ratio gate")
    assert(prof(2L) == (("y", 3L, 0L, 0L, false)))
    assert(prof(3L) == (("y", 0L, 0L, 0L, false)), "token-less doc present and dropped")
    assert(prof(4L)._5 == true)
  }

  test("rateUpsample: rates above 1000 emit copies, expectation r/1000, stable and row-local") {
    val sp = spark; import sp.implicits._
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "hi" else "lo"))
      .toDF("doc_id", "src")
    val rates = Map("hi" -> 2500, "lo" -> 200)
    val out = Sampling.rateUpsample(df, col("src"), rates, 1000, "u0", "doc_id")
    val byDoc = out.groupBy("doc_id", "src").agg(count(lit(1)).as("n"),
        max("copy").as("mx"), min("copy").as("mn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // hi docs get 2 or 3 copies; lo docs appear at most once
    assert(byDoc.filter(_._2 == "hi").forall(d => d._3 == 2 || d._3 == 3))
    assert(byDoc.filter(_._2 == "lo").forall(_._3 == 1))
    // copy indices are a dense [0, n) range per doc
    assert(byDoc.forall(d => d._5 == 0 && d._4 == d._3 - 1))
    // expectation: 500 hi docs ≈ 1250 rows, 500 lo ≈ 100 rows (hash-exact,
    // so just sanity-band them); verdicts invariant under repartition
    val nHi = byDoc.filter(_._2 == "hi").map(_._3).sum
    val nLo = byDoc.count(_._2 == "lo")
    assert(nHi > 1150 && nHi < 1350, s"hi rows $nHi")
    assert(nLo > 60 && nLo < 140, s"lo docs $nLo")
    val again = Sampling.rateUpsample(df.repartition(7), col("src"), rates, 1000, "u0", "doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.map(d => d._1 -> d._3).toMap == again)
  }

  test("rateUpsample: a stratum whose every doc draws zero copies vanishes from the output") {
    val sp = spark; import sp.implicits._
    // rate 0‰ guarantees n_copies = 0 for every doc in the stratum — the
    // operator must emit NO rows for it (and the p_rate_upsample oracle
    // filters nc > 0 to agree), not a zero-count group
    val df = Seq((1L, "keep"), (2L, "keep"), (3L, "gone")).toDF("doc_id", "src")
    val out = Sampling.rateUpsample(df, col("src"), Map("gone" -> 0), 1000, "u1", "doc_id")
    val srcs = out.select("src").distinct().as[String].collect().toSet
    assert(srcs == Set("keep"), s"zero-rate stratum must be absent, got $srcs")
  }

  test("tokenBudgetMixture: reserved names rejected in both branches") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a", 5L, 0L)).toDF("doc_id", "source", "n_tok", "_within_before")
    for (buckets <- Seq(0, 8)) {
      val ex = intercept[IllegalArgumentException] {
        Sampling.tokenBudgetMixture(df, "source", col("n_tok"), lit(1),
          100L, "s0", "doc_id", hashBuckets = buckets)
      }
      assert(ex.getMessage.contains("reserves"), s"buckets=$buckets: ${ex.getMessage}")
    }
  }

  test("tokenBudgetMixture: non-positive weights fail loudly") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("doc_id", "source", "n_tok")
    val ex = intercept[Exception] {
      Sampling.tokenBudgetMixture(df, "source", col("n_tok"),
        when(col("source") === "a", 1).otherwise(0), 100L, "s0", "doc_id")
        .collect()
    }
    assert(ex.getMessage.contains("weights must be positive") ||
      Option(ex.getCause).exists(_.getMessage.contains("weights must be positive")))
  }
}
