package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Behavior coverage for the composed cleanup pass (P58) — the DuckDB
  * oracle (`p_clean_pipeline`) pins the full chain to the hash; this spec
  * pins the SEMANTIC claims a user relies on: production order (the
  * paragraph stage runs first, so the substring stage never sees cut
  * paragraphs), keeper discipline at both stages, docs that lose every
  * unit vanish, untouched docs emit one full-range piece, and the
  * canonical re-join is token-space invariant.
  */
class CleanPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-cleanpipeline-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run20(words: Char): String =
    (1 to 25).map(i => s"$words$i").mkString(" ") // a 25-token unique-ish run

  test("production order: the paragraph stage cuts before the substring stage looks") {
    val ss = spark; import ss.implicits._
    // BOILER paragraph (26 tokens) duplicated across docs 1 and 2; doc 2
    // also shares a 25-token run with doc 3 inside otherwise-unique text
    val boiler = "cookie notice " + run20('b')
    val shared = run20('s')
    val docs = Seq(
      (1L, s"${run20('a')}\n\n$boiler"),
      (2L, s"$boiler\n\n$shared early body"),
      (3L, s"late body $shared\n\n${run20('z')}")).toDF("doc_id", "text")
    val out = CleanPipeline.cleanCorpus(docs, minLen = 20)
      .select("doc_id", "piece_idx", "st", "en", "n_tokens", "cut_tokens", "text")
      .collect()

    // doc 1 keeps the boiler (first occurrence) and its own run: one
    // full-range piece, zero substring cuts
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.length == 1 && d1.head.getAs[Long]("cut_tokens") == 0L)
    assert(d1.head.getAs[String]("text").contains("cookie notice"))

    // doc 2's boiler paragraph is GONE before the substring stage (its
    // text never contains the boiler tokens), and as the first occurrence
    // of the shared run it KEEPS that run
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.nonEmpty && d2.forall(!_.getAs[String]("text").contains("cookie")))
    assert(d2.exists(_.getAs[String]("text").contains("s1 s2")))

    // doc 3 loses the shared run to the keeper (doc 2): cut_tokens > 0 and
    // no piece contains it
    val d3 = out.filter(_.getLong(0) == 3L)
    assert(d3.nonEmpty && d3.head.getAs[Long]("cut_tokens") >= 25L)
    assert(d3.forall(!_.getAs[String]("text").contains("s1 s2 s3")))
  }

  test("a doc whose every unit is a non-keeper duplicate emits nothing") {
    val ss = spark; import ss.implicits._
    val p1 = run20('p'); val p2 = run20('q')
    val docs = Seq(
      (1L, s"$p1\n\n$p2"),
      (2L, s"$p1\n\n$p2")).toDF("doc_id", "text")
    val out = CleanPipeline.cleanCorpus(docs, minLen = 20)
    assert(out.filter(col("doc_id") === 2L).count() == 0L)
    // ...and doc 1 survives whole (it is the keeper at BOTH stages)
    assert(out.filter(col("doc_id") === 1L).count() == 1L)
  }

  test("composition identity: cleanCorpus == removal over re-joined kept units") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, s"${run20('a')}\n\n${run20('b')}"),
      (2L, s"${run20('b')}\n\n${run20('c')} ${run20('a')}")).toDF("doc_id", "text")
    val composed = CleanPipeline.cleanCorpus(docs, minLen = 20)
    val manual = Dedup.removeDupSpansExact(
      CleanPipeline.rejoinKept(
        ParagraphDedup.dedupUnits(docs, ParagraphDedup.ParagraphSep,
          "doc_id", "text"), "\n\n"), 20)
    assert(composed.exceptAll(manual).isEmpty && manual.exceptAll(composed).isEmpty)
  }

  test("incremental composed == batch over the union, across an index fold") {
    val ss = spark; import ss.implicits._
    val boiler = "legal footer " + run20('f')
    val r1 = run20('g'); val r2 = run20('h')
    val corpus = Seq(
      (1L, s"${run20('a')}\n\n$boiler\n\n$r1"),
      (2L, s"${run20('b')}\n\n${run20('c')}")).toDF("doc_id", "text")
    // inc1 repeats a corpus paragraph AND introduces new content (r2)
    val inc1 = Seq(
      (10L, s"$boiler\n\n$r2 fresh tail"),
      (11L, s"${run20('d')}")).toDF("doc_id", "text")
    // inc2 repeats corpus-run r1, inc1's paragraph content AND inc1's run
    // r2 — cutting the latter two REQUIRES the fold to have carried inc1
    val inc2 = Seq(
      (20L, s"$r1 then $r2 and more"),
      (21L, s"${run20('d')}\n\n${run20('e')}")).toDF("doc_id", "text")

    val batch = CleanPipeline.cleanCorpus(
      corpus.unionByName(inc1).unionByName(inc2), minLen = 20)
    val idx0 = CleanPipeline.buildCleanIndex(corpus)
    val out1 = CleanPipeline.incrementalCleanCorpus(inc1, idx0)
    val idx1 = CleanPipeline.updateCleanIndex(idx0, inc1)
    val out2 = CleanPipeline.incrementalCleanCorpus(inc2, idx1)
    try {
      val b1 = batch.filter(col("doc_id") >= 10L && col("doc_id") < 20L)
      val b2 = batch.filter(col("doc_id") >= 20L)
      assert(out1.exceptAll(b1).isEmpty && b1.exceptAll(out1).isEmpty)
      assert(out2.exceptAll(b2).isEmpty && b2.exceptAll(out2).isEmpty)
      // the fold mattered: inc2 lost content to inc1-side keepers
      val d20 = out2.filter(col("doc_id") === 20L).collect()
      assert(d20.nonEmpty && d20.head.getAs[Long]("cut_tokens") >= 25L)
      assert(d20.forall(!_.getAs[String]("text").contains("h1 h2 h3")))
      // 21's first paragraph duplicates inc1's doc 11 — cut at stage 1
      val d21 = out2.filter(col("doc_id") === 21L).collect()
      assert(d21.forall(!_.getAs[String]("text").contains("d1 d2 d3")))
    } finally { idx1.unpersist(); idx0.unpersist() }
  }

  // ---- fullCleanCorpus (P60): + document-level near-dup stage ---------

  /** ~200 unique-ish tokens — long enough that adding one word keeps
    * shingle Jaccard ≈ 0.996, far above both the LSH band threshold and
    * the 0.7 verify cut.
    */
  private def longRun(tag: Char): String =
    (1 to 200).map(i => s"$tag$i").mkString(" ")

  test("full chain: exact-dup reps, near-dup keep-best, substring cuts — in one pass") {
    val ss = spark; import ss.implicits._
    val base = longRun('n')
    val shared = run20('s')
    val docs = Seq(
      // near-dup pair: 2 is LONGER, so keep-best (cleaned length) keeps 2
      // and drops 1 — the policy, not min-id, decides
      (1L, base),
      (2L, s"$base zz9 tail"),
      // same words, different paragraph structure: cleaned texts normalize
      // equal, so stage 2a's exact-rep collapse keeps 5 and drops 6
      // (stage 1 does NOT fire here — the unit fingerprints differ)
      (5L, s"${run20('v')}\n\n${run20('w')}"),
      (6L, s"${run20('v')} ${run20('w')}"),
      // substring overlap only (jaccard far below 0.7): both survive
      // doc-level dedup; 8 loses the shared run at stage 3
      (7L, s"$shared ${run20('x')}"),
      (8L, s"${run20('y')} $shared")).toDF("doc_id", "text")
    val out = CleanPipeline.fullCleanCorpus(docs, minLen = 20)
    val ids = out.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(2L, 5L, 7L, 8L))
    // keep-best kept the LONGER near-dup: doc 2 whole, untouched
    val d2 = out.filter(col("doc_id") === 2L).collect()
    assert(d2.length == 1 && d2.head.getAs[Long]("cut_tokens") == 0L)
    // the substring stage still ran over survivors: 8 lost the shared run
    val d8 = out.filter(col("doc_id") === 8L).collect()
    assert(d8.nonEmpty && d8.head.getAs[Long]("cut_tokens") >= 20L)
    assert(d8.forall(!_.getAs[String]("text").contains("s1 s2 s3")))
    // ...and 7, the keeper occurrence, kept it
    assert(out.filter(col("doc_id") === 7L).collect()
      .exists(_.getAs[String]("text").contains("s1 s2 s3")))
  }

  test("full-chain composition identity against the stage-wise build") {
    val ss = spark; import ss.implicits._
    val base = longRun('m')
    val docs = Seq(
      (1L, s"${run20('a')}\n\n$base"),
      (2L, s"$base extra"),
      (3L, s"${run20('a')}\n\n${run20('c')} ${run20('d')}"),
      (4L, s"${run20('d')} solo tail")).toDF("doc_id", "text")
    val composed = CleanPipeline.fullCleanCorpus(docs, minLen = 20)
    val cleaned = CleanPipeline.rejoinKept(
      ParagraphDedup.dedupUnits(docs, ParagraphDedup.ParagraphSep,
        "doc_id", "text"), "\n\n")
    val reps = Dedup.collapseReps(cleaned)
    val clusters = Dedup.dupClusters(Dedup.nearDupPairs(cleaned))
    val losers = clusters
      .join(Dedup.keepBest(clusters, reps, length(col("text")))
        .select(col("keep_id").as("v")), Seq("v"), "left_anti")
      .select(col("v").as("doc_id"))
    val manual = Dedup.removeDupSpansExact(
      reps.join(losers, Seq("doc_id"), "left_anti"), 20)
    assert(composed.exceptAll(manual).isEmpty && manual.exceptAll(composed).isEmpty)
  }

  test("the keep-best quality policy is the caller's: inverted quality flips the winner") {
    val ss = spark; import ss.implicits._
    val base = longRun('p')
    val docs = Seq(
      (1L, base),
      (2L, s"$base longer tail words")).toDF("doc_id", "text")
    val longest = CleanPipeline.fullCleanCorpus(docs, minLen = 20)
      .select("doc_id").distinct().as[Long].collect().toSet
    val shortest = CleanPipeline.fullCleanCorpus(docs, minLen = 20,
        quality = -length(col("text")))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(longest == Set(2L) && shortest == Set(1L))
  }

  test("fractional model-score quality (P37 -> P60): the Det grid flips the winner the long cast would zero") {
    val ss = spark; import ss.implicits._
    val base = longRun('q')
    // doc 2 near-dups doc 1 (tiny tail) and carries a few stopwords, so a
    // stopword-ratio model scores it STRICTLY higher — but both scores are
    // fractional in (0, 1): z1 = 0.0, z2 = 8*(4/204) ~ 0.157
    val docs = Seq(
      (1L, base),
      (2L, s"$base the and of is")).toDF("doc_id", "text")
    val beta = Array(0.0, 0.0, 8.0, 0.0, 0.0) // z = 8 * stopword_ratio
    val score = TextPipeline.classifierScore(col("text"), beta)
    val zs = docs.select(col("doc_id"), score.as("z")).as[(Long, Double)]
      .collect().toMap
    assert(zs(1L) == 0.0 && zs(2L) > 0.0 && zs(2L) < 1.0,
      s"fixture must produce fractional scores, got $zs")
    val kept = CleanPipeline.fullCleanCorpus(docs, minLen = 20, quality = score)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(2L),
      "the Det-grid keep-best must honor the fractional model score")
    // the retired semantics, reproduced explicitly: a long cast zeroes
    // both scores and the tie falls to min id — the OPPOSITE winner
    val truncated = CleanPipeline.fullCleanCorpus(docs, minLen = 20,
        quality = score.cast("long"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(truncated == Set(1L),
      "the long-cast policy must pick min id — the seam the grid closes")
  }

  test("incremental full chain == batch (first-ingested policy) over the union, across a fold") {
    val ss = spark; import ss.implicits._
    val base1 = longRun('a'); val base2 = longRun('b')
    val sharedRun = run20('s')
    val corpus = Seq(
      (1L, base1),                       // near-dup cluster {1,2}: 1 keeps (min id)
      (2L, s"$base1 x9 end"),
      (3L, s"$sharedRun ${run20('u')}"), // survivor; 21 repeats its run later
      (4L, "tiny")).toDF("doc_id", "text") // shorter than the shingle width
    val inc1 = Seq(
      (10L, base2),                      // novel — survives
      (11L, s"$base1 y7"),               // near-dups corpus 1/2 — dropped
      (12L, "tiny")                      // EXACT dup of 4, too short to band —
    ).toDF("doc_id", "text")             //   dropped via the fp contact path
    val inc2 = Seq(
      (20L, s"$base2 z5 tail"),          // near-dups INC1's 10 — dropped only
                                         //   if the fold carried inc1
      (21L, s"${run20('w')} $sharedRun"),// substring cut vs corpus survivor 3
      (22L, longRun('q'))).toDF("doc_id", "text")

    val union = corpus.unionByName(inc1).unionByName(inc2)
    val batch = CleanPipeline.fullCleanCorpus(union, minLen = 20,
      quality = lit(0L)) // min-id keepers — the incremental form's policy
    val idx0 = CleanPipeline.buildFullCleanIndex(corpus, minLen = 20)
    val out1 = CleanPipeline.incrementalFullClean(inc1, idx0)
    val idx1 = CleanPipeline.updateFullCleanIndex(idx0, inc1)
    val out2 = CleanPipeline.incrementalFullClean(inc2, idx1)
    try {
      val b1 = batch.filter(col("doc_id") >= 10L && col("doc_id") < 20L)
      val b2 = batch.filter(col("doc_id") >= 20L)
      assert(out1.exceptAll(b1).isEmpty && b1.exceptAll(out1).isEmpty)
      assert(out2.exceptAll(b2).isEmpty && b2.exceptAll(out2).isEmpty)
      val ids1 = out1.select("doc_id").distinct().as[Long].collect().toSet
      val ids2 = out2.select("doc_id").distinct().as[Long].collect().toSet
      assert(ids1 == Set(10L), s"inc1 survivors: $ids1")
      assert(ids2 == Set(21L, 22L), s"inc2 survivors: $ids2")
      // the substring stage ran against the corpus-survivor gram index
      val d21 = out2.filter(col("doc_id") === 21L).collect()
      assert(d21.nonEmpty && d21.head.getAs[Long]("cut_tokens") >= 20L)
      assert(d21.forall(!_.getAs[String]("text").contains("s1 s2 s3")))
    } finally { idx1.unpersist(); idx0.unpersist() }
  }

  test("the full-clean index survives a disk round-trip: identical probe, watermark and knobs") {
    val ss = spark; import ss.implicits._
    val base = longRun('d')
    val corpus = Seq(
      (1L, base),
      (2L, s"$base tail9"),
      (3L, s"${run20('e')}\n\n${run20('f')}")).toDF("doc_id", "text")
    val inc = Seq(
      (10L, s"$base other9 end"),       // near-dups the corpus cluster — dropped
      (11L, s"${run20('f')} ${run20('g')}"), // loses the f-run at stage 3
      (12L, longRun('h'))).toDF("doc_id", "text")
    val idx = CleanPipeline.buildFullCleanIndex(corpus, minLen = 20)
    val dir = java.nio.file.Files.createTempDirectory("graft-fullidx").toString
    CleanPipeline.writeFullCleanIndex(idx, dir)
    val rd = CleanPipeline.readFullCleanIndex(spark, dir)
    try {
      assert(rd.joiner == idx.joiner && rd.threshold == idx.threshold)
      assert(rd.maxDocId == idx.maxDocId && rd.substr.maxDocId == idx.substr.maxDocId)
      val a = CleanPipeline.incrementalFullClean(inc, idx)
      val b = CleanPipeline.incrementalFullClean(inc, rd)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "reloaded index probes differently")
      val ids = b.select("doc_id").distinct().as[Long].collect().toSet
      assert(ids == Set(11L, 12L), s"survivors: $ids")
    } finally { rd.unpersist(); idx.unpersist() }
  }

  test("a written full-clean index holds at most the session's parallelism in files per table") {
    val ss = spark; import ss.implicits._
    // every table is written in its own partitioning: aggregates follow
    // spark.sql.shuffle.partitions, the doc store and the bands
    // defaultParallelism — never a fixed bucket count
    val corpus = ('a' to 'l').zipWithIndex.map { case (c, i) =>
      (i.toLong + 1, s"${longRun(c)}\n\n${run20(c.toUpper)}") }.toDF("doc_id", "text")
    val idx = CleanPipeline.buildFullCleanIndex(corpus, minLen = 20)
    val dir = java.nio.file.Files.createTempDirectory("graft-fullidx-files").toFile
    try {
      CleanPipeline.writeFullCleanIndex(idx, dir.toString)
      val cap = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        spark.sparkContext.defaultParallelism)
      def parts(d: java.io.File): Int =
        d.listFiles.count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      def segs(d: java.io.File) = d.listFiles.filter(_.getName.startsWith("seg-")).toSeq
      val tables = segs(new java.io.File(dir, "para")) ++
        segs(new java.io.File(dir, "substr")) ++
        Seq("neardup/doc_store", "neardup/bands", "fps")
          .map(new java.io.File(dir, _))
      assert(tables.size == 5, s"unexpected layout: $tables")
      tables.foreach { t =>
        assert(parts(t) >= 1 && parts(t) <= cap,
          s"$t holds ${parts(t)} parquet files, cap $cap")
      }
    } finally idx.unpersist()
  }

  test("a bridge increment diverges from batch by design: the frozen corpus is never retracted") {
    val ss = spark; import ss.implicits._
    // two corpus docs sharing a middle Q (j(C1,C2) ≈ |Q|/(|P|+|Q|+|R|) < 0.7
    // — distinct clusters) and a bridge X = P+Q+R with j(X,Ci) = (1+j12)/2
    // ≈ 0.82 — above threshold on BOTH sides. rowsPerBand = 3 so the LSH
    // reliably surfaces the ~0.82 candidates.
    val p = (1 to 100).map(i => s"p$i").mkString(" ")
    val q = (1 to 200).map(i => s"q$i").mkString(" ")
    val r = (1 to 100).map(i => s"r$i").mkString(" ")
    val corpus = Seq((1L, s"$p $q"), (2L, s"$q $r")).toDF("doc_id", "text")
    val inc = Seq((10L, s"$p $q $r")).toDF("doc_id", "text")
    val union = corpus.unionByName(inc)
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("doc_id").distinct().as[Long].collect().toSet
    // batch over the union MERGES the corpus clusters: keeper = min id 1;
    // corpus doc 2 — already emitted by the incremental deployment — is
    // retro-dropped, and the bridge doc with it
    val batchUnion = CleanPipeline.fullCleanCorpus(union, minLen = 20,
      quality = lit(0L), rowsPerBand = 3)
    assert(ids(batchUnion) == Set(1L),
      s"bridge construction failed to merge: ${ids(batchUnion)}")
    // the corpus alone keeps both (distinct clusters)
    val batchCorpus = CleanPipeline.fullCleanCorpus(corpus, minLen = 20,
      quality = lit(0L), rowsPerBand = 3)
    assert(ids(batchCorpus) == Set(1L, 2L))
    // the incremental form drops the bridge doc (corpus contact) but the
    // frozen corpus keeps doc 2 — emitted text is never retracted; this IS
    // the documented divergence from the batch union run
    val idx = CleanPipeline.buildFullCleanIndex(corpus, minLen = 20,
      rowsPerBand = 3)
    try assert(ids(CleanPipeline.incrementalFullClean(inc, idx)).isEmpty)
    finally idx.unpersist()
  }

  test("the canonical joiner is token-space invariant") {
    val ss = spark; import ss.implicits._
    val docs = Seq((1L, s"${run20('a')}\n\n\n\n${run20('b')}")).toDF("doc_id", "text")
    val a = CleanPipeline.cleanCorpus(docs, joiner = "\n\n", minLen = 20)
    val b = CleanPipeline.cleanCorpus(docs, joiner = " ", minLen = 20)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
