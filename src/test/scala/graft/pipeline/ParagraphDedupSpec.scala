package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** Sub-document dedup pinned three ways: the char-coordinate split against
  * a Scala re-derivation on messy text (variable-width separators, leading/
  * trailing/adjacent separators, Unicode, empty docs), the keeper/cut
  * discipline against a brute-force reference on random corpora with
  * planted within-doc and cross-doc repeats, and the original-byte
  * emission contract (every kept unit is the verbatim original slice at
  * its coordinates). The oracle queries (`p_paragraph_dedup*`,
  * `p_line_dedup`) cover the fixed-width separator shape; this spec owns
  * the regex semantics the oracle's literal split cannot reach.
  */
class ParagraphDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-paragraphdedup-test")
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

  test("unit spans slice back to exactly the split pieces (regex separators)") {
    val texts = Seq(
      "one para\n\nsecond para\n\n\nthird after a 3-newline run",
      "\n\nleading separator",
      "trailing separator\n\n",
      "adjacent\n\n\n\nseparators make an empty? no: 4 newlines are ONE sep",
      "é中文 unicode\n\nsecond é unit",
      "no separator at all",
      "",
      "\n\n", // only a separator: two empty units
      "a\n\nb\n\nc")
    val df = docsDf(texts.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    val got = ParagraphDedup.unitTable(df, ParagraphDedup.ParagraphSep,
        "doc_id", "text")
      .select("doc_id", "idx", "st", "en", "utext")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = t.split("\n{2,}", -1)
      val units = got.getOrElse(i.toLong,
        Seq.empty[(Long, Long, Long, Long, String)])
      assert(units.map(_._5).toSeq == want.toSeq, s"doc $i pieces")
      // coordinates index the ORIGINAL text exactly
      units.foreach { case (_, idx, st, en, u) =>
        assert(en - st + 1 == u.length, s"doc $i unit $idx length")
        assert(t.substring(st.toInt, en.toInt + 1) == u, s"doc $i unit $idx slice")
      }
    }
  }

  test("keeper/cut discipline: first (doc, idx) occurrence survives, blanks exempt") {
    val df = docsDf(
      0L -> "UNIQUE a\n\nshared para\n\nshared para\n\n   \n\nUNIQUE b",
      1L -> "shared para\n\nother text\n\n   ",
      2L -> "   \n\nshared para")
    // "shared para" occurs at (0,1), (0,2), (1,0), (2,1): keeper (0,1),
    // cuts at (0,2), (1,0), (2,1). Whitespace-only units at (0,3), (1,2),
    // (2,0) normalize to '' and are never counted or cut.
    val prof = ParagraphDedup.unitDedupProfile(df)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(prof(0L) == ((5L, 2L, 1L, 4L)), s"doc0: ${prof(0L)}")
    assert(prof(1L) == ((3L, 1L, 1L, 2L)), s"doc1: ${prof(1L)}")
    assert(prof(2L) == ((2L, 1L, 1L, 1L)), s"doc2: ${prof(2L)}")
    val kept = ParagraphDedup.dedupUnits(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(4), r.getString(5)))).toMap
    assert(kept.keySet == Set((0L, 0L), (0L, 1L), (0L, 3L), (0L, 4L),
      (1L, 1L), (1L, 2L), (2L, 0L)), s"kept set: ${kept.keySet}")
    assert(kept((0L, 1L))._2 == "shared para")
    assert(kept((0L, 3L))._2 == "   ") // blank kept VERBATIM (original bytes)
    assert(kept((0L, 0L))._1 == 1L) // doc-level cut count rides every row
    assert(kept((2L, 0L))._1 == 1L)
  }

  test("normalization dedups case/whitespace variants, emission keeps original bytes") {
    val df = docsDf(
      0L -> "Hello   World\n\nsecond",
      1L -> "hello world\n\nthird")
    val kept = ParagraphDedup.dedupUnits(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(5))).toMap
    // (1,0) "hello world" is a non-keeper variant of (0,0) "Hello   World"
    assert(kept.keySet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(kept((0L, 0L)) == "Hello   World") // verbatim, not normalized
  }

  test("line mode splits on single newlines; paragraph pages gain blank interior units") {
    val df = docsDf(0L -> "a line\n\nb line", 1L -> "a line\nc line")
    val prof = ParagraphDedup.unitDedupProfile(df,
        sepRegex = ParagraphDedup.LineSep)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc0 lines: ["a line", "", "b line"]; doc1: ["a line", "c line"];
    // "a line" duplicated → keeper (0,0), cut (1,0); the interior "" is blank
    assert(prof(0L) == ((3L, 1L, 0L, 3L)), s"doc0: ${prof(0L)}")
    assert(prof(1L) == ((2L, 1L, 1L, 1L)), s"doc1: ${prof(1L)}")
  }

  /** Brute force of the whole contract in plain Scala. */
  private def brute(docs: Seq[(Long, String)], sep: String):
      (Map[Long, (Long, Long, Long, Long)], Set[(Long, Long)]) = {
    val units = docs.flatMap { case (id, t) =>
      t.split(sep, -1).zipWithIndex.map { case (u, i) =>
        (id, i.toLong, u,
          u.toLowerCase(java.util.Locale.ROOT).trim.replaceAll("\\s+", " "))
      }
    }
    val byNorm = units.filter(_._4.nonEmpty).groupBy(_._4)
    val dupNorms = byNorm.filter(_._2.size >= 2).keySet
    val keeper = byNorm.view.mapValues(us => us.map(u => (u._1, u._2)).min).toMap
    val cut = units.filter(u => dupNorms(u._4) && keeper(u._4) != ((u._1, u._2)))
      .map(u => (u._1, u._2)).toSet
    val prof = docs.map { case (id, _) =>
      val mine = units.filter(_._1 == id)
      val nDup = mine.count(u => dupNorms.contains(u._4))
      val nCut = mine.count(u => cut((u._1, u._2)))
      id -> ((mine.size.toLong, nDup.toLong, nCut.toLong,
        (mine.size - nCut).toLong))
    }.toMap
    (prof, cut)
  }

  test("randomized corpora match the brute-force reference (both modes)") {
    val rnd = new Random(163)
    val pool = Vector("alpha beta", "Gamma  Delta", "epsilon", "zeta eta",
      "THETA", "iota kappa lambda", "   ", "", "é中文 unit", "alpha beta ")
    for (round <- 0 until 4) {
      val sep = if (round % 2 == 0) "\n\n" else "\n"
      val sepRegex = if (round % 2 == 0) ParagraphDedup.ParagraphSep
        else ParagraphDedup.LineSep
      val docs = (0L until 25L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(7))(pool(rnd.nextInt(pool.size)))
          .mkString(sep)
      }
      val df = docsDf(docs: _*)
      val (wantProf, wantCut) = brute(docs, sepRegex)
      val gotProf = ParagraphDedup.unitDedupProfile(df, sepRegex = sepRegex)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(gotProf == wantProf, s"round $round profile")
      val gotKept = ParagraphDedup.dedupUnits(df, sepRegex = sepRegex)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allUnits = docs.flatMap { case (id, t) =>
        t.split(sepRegex, -1).indices.map(i => (id, i.toLong)) }.toSet
      assert(gotKept == allUnits -- wantCut, s"round $round kept set")
    }
  }

  private def keptRows(df: DataFrame): Set[(Long, Long, Long, Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5))).toSet

  test("incremental probe == batch dedupUnits restricted to increment docs (interleaved ids)") {
    val rnd = new Random(247)
    val pool = Vector("alpha beta", "Gamma  Delta", "epsilon", "zeta eta",
      "THETA", "iota kappa lambda", "   ", "", "é中文 unit", "alpha beta ")
    for (round <- 0 until 3) {
      val sep = if (round % 2 == 0) "\n\n" else "\n"
      val sepRegex = if (round % 2 == 0) ParagraphDedup.ParagraphSep
        else ParagraphDedup.LineSep
      val docs = (0L until 30L).map { id =>
        id -> Seq.fill(1 + rnd.nextInt(7))(pool(rnd.nextInt(pool.size)))
          .mkString(sep)
      }
      // interleaved ids: corpus = even, increment = odd — keepers land on
      // BOTH sides, so the probe's least(index, increment) keeper must be
      // exact, not merely monotone-id-safe
      val df = docsDf(docs: _*)
      val want = keptRows(ParagraphDedup.dedupUnits(df, sepRegex = sepRegex)
        .filter(col("doc_id") % 2 === 1))
      val got = keptRows(ParagraphDedup.incrementalDedupUnits(
        df.filter(col("doc_id") % 2 === 1),
        df.filter(col("doc_id") % 2 === 0), sepRegex))
      assert(got == want, s"round $round incremental vs batch")
    }
  }

  test("index fold == direct build over the union; parquet roundtrip probes identically") {
    // corpus: 16 distinct units (doc 6 is 12 filler paragraphs), so at the
    // default compactFraction 0.25 fold 1 (3 rows) stays open, fold 2
    // (2 more) compacts and fold 3 (3 rows vs a 19-row base) stays open
    val corpus = docsDf(
      0L -> "shared para\n\nunique a",
      2L -> "unique b\n\nshared para",
      4L -> "solo corpus doc",
      6L -> (1 to 12).map(i => s"filler $i").mkString("\n\n"))
    val incs = Seq(
      docsDf(1L -> "shared para\n\nfresh inc para",
        3L -> "fresh inc para\n\nunique c"),
      docsDf(5L -> "unique c\n\nsecond fold para"),
      docsDf(7L -> "second fold para\n\nshared para\n\nthird fold para"))
    def unitsOf(ix: ParagraphDedup.ParagraphIndex) =
      ix.store.merged.collect().map(r => (r.getLong(0), r.getLong(1),
        (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))).toSet
    val direct = ParagraphDedup.buildParagraphIndex(
      incs.foldLeft(corpus)(_ unionByName _))
    val probe = docsDf(
      9L -> "shared para\n\nfresh inc para\n\nthird fold para\n\nnever seen")
    val want = keptRows(ParagraphDedup.incrementalDedupUnits(probe, direct))
    // open deltas the 3-fold chain leaves at each compaction threshold
    val openDeltas = Seq(0.0 -> 0, SegmentStore.DefaultCompactFraction -> 1,
      Double.MaxValue -> 3)
    for ((fraction, open) <- openDeltas) {
      // UNWATERMARKED on purpose: the fold is a fingerprint-wise monoid, so
      // this spec pins it under INTERLEAVED ids (corpus even, incs odd) —
      // which the monotone watermark would reject by design; IdContractSpec
      // covers the enforcement itself
      val idx = ParagraphDedup.buildParagraphIndex(corpus)
      val folded = incs.foldLeft(idx.copy(maxDocId = IdContract.Unwatermarked,
          store = idx.store.copy(compactFraction = fraction)))(
        ParagraphDedup.updateParagraphIndex(_, _))
      assert(folded.store.deltas.size == open,
        s"fraction $fraction: ${folded.store.deltas.size} open deltas, want $open")
      assert(unitsOf(folded) == unitsOf(direct),
        s"fraction $fraction: fold != direct build")
      assert(keptRows(ParagraphDedup.incrementalDedupUnits(probe, folded)) == want,
        s"fraction $fraction: folded index probes differently from a direct build")
      val dir = java.nio.file.Files.createTempDirectory("graft-pidx").toString
      ParagraphDedup.writeParagraphIndex(folded, dir)
      val rd = ParagraphDedup.readParagraphIndex(spark, dir)
      assert(rd.sepRegex == folded.sepRegex)
      assert(rd.store.deltas.size == open && rd.store.compactFraction == fraction,
        s"fraction $fraction: roundtrip changed the segment layout")
      assert(unitsOf(rd) == unitsOf(folded), "roundtrip changed the index")
      assert(keptRows(ParagraphDedup.incrementalDedupUnits(probe, rd)) == want,
        s"fraction $fraction: reloaded index probes differently")
      Seq(folded, rd).foreach(_.unpersist())
    }
    direct.unpersist()
  }

  test("a paragraph index dir in the retired units/ layout fails with a rebuild error") {
    val ss = spark
    import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pidx-old").toString
    Seq((7L, 2L)).toDF("fp", "nocc").write.parquet(s"$dir/units")
    Seq((ParagraphDedup.ParagraphSep, 5L)).toDF("sep_regex", "max_doc_id")
      .write.parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException](
      ParagraphDedup.readParagraphIndex(spark, dir))
    assert(e.getMessage.contains(
      "rebuild it with buildParagraphIndex + writeParagraphIndex"), e.getMessage)
  }

  test("fused index+dedup build == the two separate entries (r16 derive-once)") {
    // the composed builds' shared-substrate entry must be value-identical
    // to buildParagraphIndex + dedupUnits on a corpus with within-doc
    // repeats, cross-doc repeats, blanks, normalization variants and
    // unit-free docs — the cases where dup-set/keeper/blank discipline
    // could diverge if the index slice were not exactly the dup set
    val corpus = docsDf(
      0L -> "shared para\n\nunique a\n\nshared para",
      1L -> "Shared  Para\n\nunique b",
      2L -> "\n\n",
      3L -> "",
      4L -> "solo doc",
      5L -> "unique a\n\n\n\nshared para")
    val (ix, kept, release) = ParagraphDedup.buildParagraphIndexAndDedup(corpus)
    val sep = ParagraphDedup.buildParagraphIndex(corpus)
    try {
      def unitsOf(i: ParagraphDedup.ParagraphIndex) =
        i.store.merged.collect().map(r => (r.getLong(0), r.getLong(1),
          (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))).toSet
      assert(unitsOf(ix) == unitsOf(sep), "index differs from separate build")
      assert(ix.maxDocId == sep.maxDocId, "watermark differs")
      assert(keptRows(kept) == keptRows(ParagraphDedup.dedupUnits(corpus)),
        "kept-unit emission differs from separate dedupUnits")
    } finally { release(); ix.unpersist(); sep.unpersist() }
  }

  test("substrate-riding dedupUnits == lazy dedupUnits (r17 derive-once)") {
    // the materializing-caller entry must emit exactly dedupUnits' rows —
    // same dup set, keeper policy, blank exemption, spans and cut counts —
    // both before and after its substrate is released
    val corpus = docsDf(
      0L -> "shared para\n\nunique a\n\nshared para",
      1L -> "Shared  Para\n\nunique b",
      2L -> "\n\n",
      3L -> "",
      4L -> "solo doc",
      5L -> "unique a\n\n\n\nshared para")
    val (kept, release) = ParagraphDedup.dedupUnitsOnSubstrate(corpus)
    try {
      val want = keptRows(ParagraphDedup.dedupUnits(corpus))
      assert(keptRows(kept) == want,
        "substrate-riding emission differs from dedupUnits")
      release()
      // post-release the emission recomputes through lineage — still equal
      assert(keptRows(kept) == want,
        "substrate-riding emission differs after release")
    } finally release()
  }
}
