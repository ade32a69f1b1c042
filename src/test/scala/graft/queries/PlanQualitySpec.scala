package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.SparkEntry

/** Physical-plan regression tests: the properties that decide whether a
  * plan survives a 100× scale-up — filter pushdown into the parquet scan,
  * column pruning, no cartesian products outside the one intended broadcast
  * probe join, and no unconditional broadcasts of SF-scaled tables.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    val b = SparkSession.builder().master("local[4]")
      .appName("graft-plan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    graft.util.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()

  test("filters push down into the parquet scan (q2, q6)") {
    val p6 = planOf("q6_forecast_revenue")
    assert(p6.contains("PushedFilters: ["), p6.take(2000))
    assert(p6.contains("l_shipdate") && p6.contains("GreaterThanOrEqual"),
      "shipdate range must reach the scan")
    val p2 = planOf("q2_filter_project")
    assert(p2.contains("PushedFilters: ["))
  }

  test("column pruning reaches the scan (q2 reads only needed columns)") {
    val p2 = planOf("q2_filter_project")
    // lineitem has 11 columns; the query touches a handful. Unused columns
    // must not appear in the scan's ReadSchema.
    assert(!p2.contains("l_returnflag"), "unused column read from parquet")
    assert(!p2.contains("l_suppkey"), "unused column read from parquet")
  }

  test("no SF-scaled table is broadcast by hint in q3/q5/q14 (AQE decides)") {
    for (name <- Seq("q3_shipping_priority", "q5_local_supplier_volume",
      "q14_promo_share")) {
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.analyzed.toString()
      // broadcast hints survive into the analyzed plan as ResolvedHint /
      // UnresolvedHint nodes; none may sit over customer/supplier/part scans
      val hinted = lp.split("\n").zipWithIndex.filter(_._1.contains("Hint"))
      val bad = hinted.exists { case (_, i) =>
        val below = lp.split("\n").slice(i, i + 6).mkString("\n")
        below.contains("customer.parquet") || below.contains("supplier.parquet") ||
          below.contains("part.parquet")
      }
      assert(!bad, s"$name still hints a fact-scaled table")
    }
  }

  test("q10/q11 are single lazy plans (all branches in one physical plan)") {
    // the round-1 anti-pattern was eager .count() calls at build time; the
    // regression guard is structural: all three set-op aggregates (resp.
    // both semi/anti aggregates) must live in ONE plan, joined lazily
    val p10 = SparkEntry.queries("q10_setops")(spark, dir)
      .queryExecution.optimizedPlan.toString()
    assert(p10.split("\n").count(_.contains("Aggregate [")) >= 3,
      "q10 must carry all three counts in one plan")
    assert(p10.contains("Join"), "q10 branches must join lazily")
    val p11 = SparkEntry.queries("q11_semi_anti")(spark, dir)
      .queryExecution.optimizedPlan.toString()
    assert(p11.contains("LeftSemi") && p11.contains("LeftAnti"),
      "q11 must keep semi+anti branches in one plan")
  }

  test("pipeline queries contain no cartesian product") {
    for (name <- Seq("p_minhash_lsh_dedup", "p_simhash_hamming", "p_ann_lsh_topk",
      "p_exact_dedup", "p_winnow_fingerprint", "p_decontaminate",
      "p_incremental_dedup", "p_incremental_neardup", "p_pack_span_masks",
      "p_repetition_quality", "p_semantic_dedup", "p_ann_pq_topk")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("semantic dedup: row-local assignment, cluster equi-join pairs, broadcast drop verdicts") {
    val p = planOf("p_semantic_dedup")
    // centroid argmax is a literal `least` expression — the ONLY joins are
    // the within-cluster pair join and the tiny drop-set verdict join
    assert(!p.contains("CartesianProduct"), "assignment must not cross-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "drop set should broadcast into the verdict join")
    // pair stage keys on the cluster id (an equi-join, skew-splittable)
    assert(p.contains("vec_id"), "sanity: plan mentions the id column")
  }

  test("PQ top-k: LUT broadcasts, ADC sum is map-side combined before its shuffle") {
    val p = planOf("p_ann_pq_topk")
    assert(!p.contains("CartesianProduct"), "PQ scoring fell back to cartesian")
    assert(p.contains("BroadcastExchange"), "LUT should broadcast")
    assert(p.contains("partial_sum"),
      s"ADC sum must partial-aggregate map-side before the (probe,cand) shuffle:\n$p")
  }

  test("IVF-PQ top-k: row-local assignment, broadcast codebook+LUT, map-side ADC combine") {
    val p = planOf("p_ann_ivfpq_topk")
    assert(!p.contains("CartesianProduct"), "IVF-PQ fell back to cartesian")
    assert(p.contains("BroadcastExchange"), "codebook/LUT should broadcast")
    assert(p.contains("partial_sum"),
      s"ADC sum must partial-aggregate map-side before the (probe,cand) shuffle:\n$p")
    // coarse assignment is a literal least() expression, not a join against
    // a centroid table — the only SortMergeJoin-eligible keys are tiny
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-scale sort-merge join belongs in this plan:\n$p")
  }

  test("repetition quality is one scan: native run-scan, shuffle only per-lang aggregates") {
    val p = planOf("p_repetition_quality")
    assert(p.contains("gram_run_stats"), s"native expression missing:\n$p")
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"interpreted higher-order function left on the hot path:\n$p")
    // the per-lang aggregate's exchange is the plan's ONLY shuffle
    // (the RoundRobin spread and the final sort are not hash shuffles)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly the lang-aggregate shuffle:\n$p")
  }

  test("decontaminate pushes the source filters into both document scans") {
    val p = planOf("p_decontaminate")
    // the default verdict substrate is md5-on-gram-string (crafted-collision
    // hardening, round 12): native word_grams builder + md5_hash60 keys
    assert(p.contains("word_grams") && p.contains("md5_hash60"),
      s"native md5 gram-key chain missing:\n$p")
    // the train side pushes Not(EqualTo(source,src0)), the eval side a bare
    // EqualTo(source,src0) — count them separately so one scan satisfying
    // both regexes can't fake coverage
    val notEq = "Not\\(EqualTo\\(source,src0\\)\\)".r.findAllIn(p).size
    val bareEq = "EqualTo\\(source,src0\\)".r.findAllIn(p).size - notEq
    assert(notEq >= 1, s"train-side source filter did not reach its scan:\n$p")
    assert(bareEq >= 1, s"eval-side source filter did not reach its scan:\n$p")
  }

  test("heavy hitters pass 2 filters to the candidate set before its groupBy") {
    val p = planOf("p_heavy_hitters")
    assert(!p.contains("CartesianProduct"))
    // the exact recount restricts tok to <= k literals (In for small lists,
    // InSet once Spark converts) below the count aggregate
    assert(p.contains(" INSET ") || p.contains(" IN ("),
      s"candidate literal filter missing from recount plan:\n$p")
  }

  test("stratified sample ranks via WindowGroupLimit (map-side top-k, no full stratum sort)") {
    val p = planOf("p_stratified_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter should push a group limit below the stratum shuffle:\n$p")
  }

  test("winnow selection is row-local: no window, no gram shuffle") {
    val p = planOf("p_winnow_fingerprint")
    // expected exchanges: the gated doc-row repartition, groupBy(fp), and
    // the pair aggregation — selection itself is the native kernel and the
    // fingerprint distinct rides the doc_id hash partitioning
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 4, s"expected <=4 exchanges, got $shuffles:\n$p")
    assert(!p.contains("Window"),
      "winnow selection regressed to the exploded window-min plan")
    assert(p.contains("winnow_fps"), s"native winnow kernel missing:\n$p")
  }

  test("cosine top-k joins via broadcast of the probe set only") {
    val p = planOf("p_cosine_topk")
    // the probe×corpus join must be a broadcast nested loop (tiny probe
    // side), never a shuffled cartesian product
    assert(!p.contains("CartesianProduct"), "probe join fell back to cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "probe side should broadcast")
  }

  test("near-dup pipeline materializes once: single documents scan, checkpointed fan-out") {
    import org.apache.spark.sql.functions.{col, length}
    // white-box: every internal fan-out frame is persisted and the lazy
    // verified plan has no cartesian product (the PUBLIC p_* plans are
    // checkpoint scans after the eager rewrite, so the internal pipeline
    // must be asserted here)
    val docs = graft.util.Tables.t(spark, dir, "documents")
      .filter(length(col("text")) >= 5)
    val f = graft.pipeline.Dedup.nearDupFrames(docs, 5, 18, 6, 0.7)
    try {
      import org.apache.spark.storage.StorageLevel
      assert(f.spread.storageLevel != StorageLevel.NONE, "reps not persisted")
      assert(f.candTexts.storageLevel != StorageLevel.NONE,
        "candidate texts not persisted")
      val vp = f.verified.queryExecution.executedPlan.toString
      assert(!vp.contains("CartesianProduct"))
      // the verify is one native shingle-set intersection per pair: no
      // shingle rows are generated anywhere in the plan
      assert(vp.contains("shingle_jaccard"), s"native verify kernel missing:\n$vp")
      assert(!vp.linesIterator.exists(l =>
          l.contains("Generate") && l.contains("explode(sequence")),
        s"verify regressed to the exploded shingle rows:\n$vp")
    } finally {
      f.spread.unpersist(blocking = true)
      f.candTexts.unpersist(blocking = true)
    }
    // physical proof of the single scan: bytes actually read from local disk
    // while building + fully evaluating the query stay under 2x the parquet
    // footprint (the pre-fix plan re-scanned documents 3-4x, well above it)
    def bytesOf(fl: java.io.File): Long =
      if (fl.isFile) fl.length
      else Option(fl.listFiles).map(_.map(bytesOf).sum).getOrElse(0L)
    val parquetBytes = bytesOf(new java.io.File(s"$dir/documents.parquet"))
    val stats =
      org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    assert(stats != null, "file-scheme storage statistics unavailable")
    val before = stats.getLong("bytesRead")
    SparkEntry.queries("p_minhash_lsh_dedup")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val read = stats.getLong("bytesRead") - before
    assert(read < 2 * parquetBytes,
      s"documents scanned repeatedly: read $read bytes vs $parquetBytes on disk")
    // downstream consumer plans replay the materialized pairs, not the corpus
    for (name <- Seq("p_minhash_lsh_dedup", "p_dup_clusters")) {
      val p = planOf(name)
      assert(!p.contains("documents"), s"$name re-reads the corpus:\n$p")
    }
  }

  test("asof join is join-free (union + window), range join is an equi-join on the bucket key") {
    val asof = planOf("p_asof_join")
    // the whole as-of semantic rides ONE per-key window over a union —
    // any Join node would mean the composition regressed to a probe
    assert(asof.contains("Window"), s"asof lost its window:\n$asof")
    assert(!asof.contains("Join"), s"asof should not contain a join:\n$asof")
    val shuffles = asof.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 3, s"asof join has $shuffles hash exchanges:\n$asof")

    val range = planOf("p_range_join")
    // bucketing exists precisely so the containment join is an EQUI join;
    // a nested-loop or cartesian product means the bucket key got lost
    assert(!range.contains("CartesianProduct") &&
      !range.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a non-equi join:\n$range")
    assert(range.contains("Join"), s"range join plan lost its join:\n$range")
  }

  test("model predict is UDF-free and stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables.t(spark, dir, "lineitem")
    val model = graft.Slope.fit(li, Seq("l_quantity", "l_discount"),
      "l_extendedprice", graft.fit.SlopeConfig(nSigma = 4))
    for (tp <- Seq("link", "response")) {
      val out = model.transform(li, Seq("l_quantity", "l_discount"),
        predictType = tp)
      val exec = out.queryExecution.executedPlan
      assert(!exec.toString.contains("ScalaUDF"),
        s"predict($tp) fell back to a Scala UDF")
      assert(exec.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
        s"predict($tp) left whole-stage codegen")
    }
    val cls = graft.Slope.fit(
      li.withColumn("is_r", when(col("l_returnflag") === "R", "R").otherwise("N")),
      Seq("l_quantity"), "is_r",
      graft.fit.SlopeConfig(family = "binomial", nSigma = 4))
    val cp = cls.transform(
      li.withColumn("is_r", when(col("l_returnflag") === "R", "R").otherwise("N")),
      Seq("l_quantity"), predictType = "class")
    assert(!cp.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("ML primitive queries are single-scan aggregations (no join, no shuffle explosion)") {
    for (name <- Seq("m_standardize_stats", "m_lambda_max_gaussian", "m_score_fixed_beta")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name should not join")
      // exactly one parquet scan of lineitem
      val scans = p.split("\n").count(l => l.contains("lineitem.parquet"))
      assert(scans <= 1, s"$name scans lineitem $scans times")
    }
  }

  test("PII scrub and model quality filter are row-local maps + one aggregate shuffle") {
    for (name <- Seq("p_pii_scrub", "p_model_quality_filter")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name must not join")
      val exchanges = p.split("\n").count(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange") && !l.contains("reused") &&
        !l.contains("RoundRobinPartitioning")) // the gated local-mode spread
      // one hash exchange for the per-lang aggregate, one single-partition
      // exchange for the final orderBy of 5 rows — nothing else
      assert(exchanges <= 2, s"$name shuffles $exchanges times:\n$p")
      assert(p.contains("partial"), s"$name aggregate must map-side combine")
    }
  }

  test("mixture budget: quota table broadcasts, running sum partitions by source") {
    val p = planOf("p_mixture_budget")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"quota dimension table must broadcast, not shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      "only the 1-row total-weight join may nest")
    // the per-source window must be partitioned (no global window)
    assert(p.contains("PartitionBy") || p.contains("hashpartitioning(source"),
      s"running sum must partition by source:\n${p.take(3000)}")
  }

  test("mixture budget bucketed: hot-source window partitions by (source, hash-bucket)") {
    val p = planOf("p_mixture_budget_bucketed")
    // the CORPUS running sum must partition by (source, _bucket) — this is
    // the shape that keeps a >80 %-of-corpus source off a single task; the
    // per-source window over bucket SUMMARIES (≤16 rows/source) is fine
    assert(p.contains("_bucket"),
      s"two-level plan must bucket the ordering hash:\n${p.take(3000)}")
    assert(p.split("\n").exists(l => l.contains("hashpartitioning(source") &&
      l.contains("_bucket")),
      s"corpus window must partition by (source, _bucket):\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket-offset and quota tables must broadcast:\n$p")
  }

  test("length batching: window partitions by (bucket, shard) — a dominant length bucket shards") {
    val p = planOf("p_length_batching")
    assert(!p.contains("Join"), s"length batching must not join")
    assert(p.split("\n").exists(l => l.contains("hashpartitioning(bucket") &&
      l.contains("shard")),
      s"batch window must partition by (bucket, shard):\n${p.take(3000)}")
    assert(p.contains("partial"), "audit aggregates must map-side combine")
  }

  test("rate sampling (down and up) is row-local: no join, no window over the corpus") {
    for (name <- Seq("p_rate_sample", "p_rate_upsample")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name must not join")
      assert(!p.contains("Window"), s"$name must not window")
      assert(p.contains("partial"), s"$name aggregate must map-side combine")
    }
  }

  test("train order head is take-ordered, not a global sort-and-window over the corpus") {
    val p = planOf("p_train_order")
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      s"head-N must use take-ordered:\n$p")
    assert(!p.contains("Join"), "train order must not join")
  }

  test("weighted sample: row-local keys into a take-ordered top-k (no window, no join)") {
    val p = planOf("p_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be take-ordered (map-side heaps), not sort+limit:\n${p.take(2000)}")
    assert(!p.contains("Window"), "weighted sample must not window")
    assert(!p.contains("Join"), "weighted sample must not join")
  }

  test("dup-gram profile: equi-joins on the gram hash only, no window, map-side combines") {
    val p = planOf("p_dup_gram_profile")
    assert(!p.contains("Window"), "dup-gram profile must not window")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "dup-gram profile must join by key only")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-doc aggregate must map-side combine")
  }

  test("dup spans: island fold is row-local — no window function, joins keyed on the gram hash") {
    val p = planOf("p_dup_spans")
    // the gaps-and-islands merge must NOT be a window function over
    // (doc, position) rows — it folds inside one row after collect_list
    assert(!p.contains("Window"), "span merge must fold row-locally, not window")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "dup-span profile must join by key only")
    assert(p.contains("LeftSemi"), "dup-set membership must be a semi join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-lang aggregate must map-side combine")
  }

  test("dup spans multi: one gram-keyed window decides duplication in place — no join fan-back, row-local island fold") {
    // white-box: the public entry checkpoints the per-affected-doc span
    // table, so the interval substrate must be asserted on the lazy
    // internals — same pattern as the near-dup frames guard above
    val docs = graft.util.Tables.t(spark, dir, "documents")
    val f = graft.pipeline.Dedup.dupSpanMultiFrames(
      docs, Seq(8, 16, 32), 50, "doc_id", "text")
    val p = f.spans.queryExecution.executedPlan.toString()
    // duplication (">= 2 distinct docs" == min != max doc) is decided by
    // ONE window over the gram key — never a dup-set aggregate joined
    // back to the raw stream (the retired shape re-shuffled the full
    // tagged stream a second time; ×1000 d3 ≈ 1.1–1.4), and never a
    // window over (doc, position) rows (one task per hot doc)
    assert(p.contains("windowspecdefinition(n#"),
      "duplication must be a gram-keyed window (partition by n, g1, g2)")
    assert(!p.contains("windowspecdefinition(doc_id#"),
      "no per-doc window — the island merge folds inside one row")
    assert(!p.contains("Join"),
      "no dup-set join fan-back — the window carries the verdict in place")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "multi-order spans must never nested-loop")
    // black-box: the published plan is the checkpointed span table joined
    // to one fresh tokenize pass plus the per-lang rollup
    val pub = planOf("p_dup_spans_multi")
    assert(!pub.contains("Window"), "final profile join must not window")
    assert(pub.contains("partial_count") || pub.contains("partial_sum"),
      "per-lang rollup must map-side combine")
  }

  test("dup span removal: gram-keyed keeper window, row-local folds, one lazy tokenize-join-slice to emit pieces") {
    val docs = graft.util.Tables.t(spark, dir, "documents")
    val f = graft.pipeline.Dedup.removeDupSpansFrames(
      docs, Seq(8, 16, 32), 50, "doc_id", "text")
    val p = f.cuts.queryExecution.executedPlan.toString()
    // keeper (min doc) and duplication (min != max) come from ONE window
    // over the gram key; the cut-island merge still folds inside one row
    assert(p.contains("windowspecdefinition(n#"),
      "keeper/duplication must be a gram-keyed window")
    assert(!p.contains("windowspecdefinition(doc_id#"),
      "no per-doc window — the cut-island merge folds inside one row")
    assert(!p.contains("Join"),
      "no dup-set join fan-back — the window carries keeper in place")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "removal interval stage must never nested-loop")
    // the published plan: checkpointed cuts left-joined to one tokenize
    // pass, pieces cut by row-local fold + posexplode — never a window
    val pub = planOf("p_dup_span_removal")
    assert(!pub.contains("Window"), "piece cutting must be row-local, not a window")
    assert(!pub.contains("NestedLoop") && !pub.contains("Cartesian"),
      "the cuts join must be keyed on doc_id")
  }

  test("original-byte emission: one scan carries the char-span fold, keyed cuts join, no window") {
    // the ORIGINAL-byte tail must stay exactly as lazy as the normalized
    // one: a single source scan computing token char spans row-locally
    // (split/extract interleave + aggregate fold), one doc_id-keyed left
    // join against the checkpointed cut table, pieces sliced in-row
    val p = planOf("p_exact_substr_removal_bytes")
    assert(!p.contains("Window"), "char-span offsets must fold row-locally, not window")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "the cuts join must be keyed on doc_id")
  }

  test("fixed-point certificate: re-detection is windowless with map-side-combined gram counts") {
    // removal + re-detection composed; the residual aggregate must stay a
    // map-side-combinable gram groupBy (the 1x1 stats-x-residual join at
    // the top is a broadcast of singletons, not a data join)
    val p = planOf("p_substr_removal_fixedpoint")
    assert(!p.contains("Window"), "re-detection must not window")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "residual gram counts must map-side combine")
  }

  test("incremental substr removal: increment-sized chain, keyed index join, row-local folds") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.t(spark, dir, "documents")
    val idx = graft.pipeline.Dedup.buildExactSubstrIndex(
      docs.filter(col("doc_id") % 2 === 0), 20)
    val f = graft.pipeline.Dedup.incrementalExactSubstrFramesOver(
      docs.filter(col("doc_id") % 2 === 1), idx.store, idx.minLen,
      "doc_id", "text", keepFirst = true)
    try {
      import org.apache.spark.storage.StorageLevel
      assert(f.base.storageLevel != StorageLevel.NONE,
        "increment token substrate not persisted")
      val p = f.cuts.queryExecution.executedPlan.toString()
      assert(!p.contains("Window"), "cut-island merge must fold row-locally")
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        "index probe must be an equi-join on the gram hash")
      assert(p.contains("partial_count") || p.contains("partial_min"),
        "increment per-gram (count, keeper) aggregate must map-side combine")
    } finally { f.base.unpersist(blocking = true); idx.unpersist() }
    // the published plan: checkpointed cuts left-joined to one tokenize
    // pass over the INCREMENT only — never a window, never corpus text
    val p = planOf("p_incremental_substr_removal")
    assert(!p.contains("Window"), "piece cutting must be row-local, not a window")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "the cuts join must be keyed on doc_id")
  }

  test("segmented substr probe: keyed per-segment joins, increment-sized monoid merge, no window") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val mx = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head.getLong(0)
    val idx = graft.pipeline.Dedup.updateExactSubstrIndex(
      graft.pipeline.Dedup.buildExactSubstrIndex(
        docs.filter(col("doc_id") <= mx / 3), minLen = 20,
        compactFraction = Double.MaxValue),
      docs.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3))
    val f = graft.pipeline.Dedup.incrementalExactSubstrFramesOver(
      docs.filter(col("doc_id") > 2 * mx / 3), idx.store, 20,
      "doc_id", "text", keepFirst = true)
    try {
      val p = f.cuts.queryExecution.executedPlan.toString()
      assert(!p.contains("Window"), "cut-island merge must fold row-locally")
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        "every segment probe must be an equi-join on the gram hash")
      assert(p.contains("partial_count") || p.contains("partial_min"),
        "increment per-gram aggregate must map-side combine")
      // the read-tax discipline: k CHAINED left joins (the single-segment
      // probe's shape, once per segment — the increment side builds, the
      // segment streams) with the cross-segment monoid folded ROW-LOCALLY
      // — no Union and no extra aggregate on the index path (a union +
      // re-aggregate cut of this plan de-vectorized the segment scans to
      // ~15x the single-segment probe at x1000; FOLDPROBE prices the shape)
      assert(!p.contains("Union"),
        s"segment merge must be chained joins + row-local monoid, not a union:\n$p")
      assert(p.linesIterator.count(_.contains("ShuffledHashJoin")) >= 2,
        s"segment joins must build on the increment side (shuffled-hash):\n$p")
    } finally { f.base.unpersist(blocking = true); idx.unpersist() }
    val pq = planOf("p_incremental_substr_removal_segmented")
    assert(!pq.contains("Window"), "piece cutting must be row-local, not a window")
    assert(!pq.contains("NestedLoop") && !pq.contains("Cartesian"),
      "the cuts join must be keyed on doc_id")
  }

  test("segmented probe read tax: shuffles do not scale with segment count (32 and 512 partitions)") {
    // The doc contract says segments are "never shuffled or sorted": each
    // chained join must STREAM the index-sized segment through its cached
    // partitioning (built by exactGramAgg's groupBy under the same
    // session). The earlier pin only asserted join TYPE — nothing forbade
    // an Exchange re-shuffling the corpus-sized base per probe, which is
    // exactly what appears if the cached partitioning stops matching the
    // join requirement (VERDICT r15 #3). Pin the claim directly: the probe
    // plan's shuffle-exchange COUNT with base + 2 delta segments equals
    // the single-segment probe's — extra segments add joins, never
    // exchanges — under BOTH a small and a large partition config.
    import org.apache.spark.sql.functions.{col, max}
    val docs = graft.util.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    // STRUCTURAL count, not string-count: the cached segments' rendered
    // InMemoryRelation bodies embed their own FOLD-time build exchanges
    // (paid once, at fold — not at probe), which a line grep would charge
    // to the probe. In the physical tree an InMemoryTableScan is a LEAF,
    // so collect() sees exactly the exchanges this probe executes. AQE is
    // disabled for the probed frames only so executedPlan is a plain
    // walkable tree (AdaptiveSparkPlanExec is itself a leaf node).
    def nShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      }.size
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    try for (parts <- Seq("32", "512")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val seg = graft.pipeline.Dedup.updateExactSubstrIndex(
        graft.pipeline.Dedup.updateExactSubstrIndex(
          graft.pipeline.Dedup.buildExactSubstrIndex(
            docs.filter(col("doc_id") <= mx / 4), minLen = 20,
            compactFraction = Double.MaxValue),
          docs.filter(col("doc_id") > mx / 4 && col("doc_id") <= mx / 2)),
        docs.filter(col("doc_id") > mx / 2 && col("doc_id") <= 3 * mx / 4))
      val mono = graft.pipeline.Dedup.buildExactSubstrIndex(
        docs.filter(col("doc_id") <= 3 * mx / 4), minLen = 20,
        compactFraction = Double.MaxValue)
      val probe = docs.filter(col("doc_id") > 3 * mx / 4)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val fSeg = graft.pipeline.Dedup.incrementalExactSubstrFramesOver(
        probe, seg.store, 20, "doc_id", "text", keepFirst = true)
      val fMono = graft.pipeline.Dedup.incrementalExactSubstrFramesOver(
        probe, mono.store, 20, "doc_id", "text", keepFirst = true)
      try {
        val (pSeg, pMono) = (
          fSeg.cuts.queryExecution.executedPlan,
          fMono.cuts.queryExecution.executedPlan)
        assert(nShuffles(pSeg) == nShuffles(pMono),
          s"at $parts shuffle partitions the 3-segment probe plans " +
            s"${nShuffles(pSeg)} exchanges vs ${nShuffles(pMono)} " +
            s"single-segment — a segment side is being re-shuffled:\n$pSeg")
      } finally {
        fSeg.base.unpersist(blocking = true)
        fMono.base.unpersist(blocking = true)
        seg.unpersist(); mono.unpersist()
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  test("span masks: fan-out-free — the gram substrate appears once, nothing persisted") {
    // round-10 adjudication (SPANMASK_AB.json): packing consumes a cheap
    // tokenize scan, the expensive gram explode/distinct/semi-join chain
    // feeds only the islands join — so the plan holds exactly ONE dup-set
    // semi join (the bundled round-8/9 shape evaluated it once per
    // consumer, and the persist that patched that lost the ×100 A/B)
    val p = planOf("p_pack_span_masks")
    assert(p.linesIterator.count(_.contains("LeftSemi")) == 1,
      s"gram dup-set semi join must appear exactly once:\n$p")
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      "fan-out-free span masks need no persisted substrate")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "mask mapping must join by doc_id only")
  }

  test("bigram LM: vocab-size broadcasts as a 1-row table; count joins are keyed, no window") {
    val p = planOf("p_bigram_lm_quality")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row V table must broadcast")
    assert(!p.contains("Window"), "bigram LM must not window")
    // the per-gram count aggregations must combine before their shuffles
    assert(p.contains("partial_count"), "LM counts must map-side combine")
  }

  test("paragraph dedup: row-local split/fingerprint, fp-keyed joins, map-side combines, no window") {
    val docs = graft.util.Tables.t(spark, dir, "documents")
    val f = graft.pipeline.ParagraphDedup.paragraphFrames(
      docs, graft.pipeline.ParagraphDedup.ParagraphSep, "doc_id", "text")
    try {
      import org.apache.spark.storage.StorageLevel
      assert(f.base.storageLevel != StorageLevel.NONE,
        "shared unit table not persisted")
      val pd = f.dupSet.queryExecution.executedPlan.toString()
      assert(!pd.contains("Window"),
        "keeper selection must be min(struct), not a rank window")
      assert(pd.contains("partial_count") || pd.contains("partial_min"),
        "per-fingerprint (count, keeper) aggregate must map-side combine")
      val pc = f.cuts.queryExecution.executedPlan.toString()
      assert(!pc.contains("NestedLoop") && !pc.contains("Cartesian"),
        "cut probe must be an equi-join on the fingerprint")
    } finally f.base.unpersist(blocking = true)
    // the published emission plan: a fresh row-local unit scan (split +
    // coordinate fold + md5, no explode wider than the doc's own units),
    // one fp-keyed left join against the checkpointed dup set, one
    // doc_id-keyed join against the small cut table — never a window
    val p = planOf("p_paragraph_dedup_bytes")
    assert(!p.contains("Window"), "unit coordinates must fold row-locally")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "emission joins must be keyed (fp, doc_id)")
    val prof = planOf("p_paragraph_dedup")
    assert(!prof.contains("Window"), "profile must not window")
    assert(!prof.contains("NestedLoop") && !prof.contains("Cartesian"),
      "profile joins must be keyed")
  }

  test("incremental paragraph dedup: keyed index probe, row-local folds, no window") {
    // the probe chain must stay increment-sized: row-local unit scans, one
    // fp-keyed left join against the index aggregate, keyed emission joins
    val p = planOf("p_incremental_paragraph_dedup")
    assert(!p.contains("Window"),
      "incremental unit coordinates must fold row-locally")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "index probe and emission joins must be keyed (fp, doc_id)")
  }

  test("full cleanup chain (batch + incremental): keyed joins only, no window, no nested loop") {
    // the doc-level stage resolves eagerly inside the call (pairs/
    // clusters/keep-best checkpoint small); the returned plan is stage 3
    // over the checkpointed survivors plus the emission tail — row-local
    // folds, gram-/doc-keyed joins, never a window or an unkeyed join
    val p = planOf("p_full_pipeline")
    assert(!p.contains("Window"),
      "full-chain emission must fold islands row-locally")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      "full-chain joins must be keyed")
    val pi = planOf("p_incremental_full_pipeline")
    assert(!pi.contains("Window"),
      "incremental full-chain emission must fold row-locally")
    assert(!pi.contains("NestedLoop") && !pi.contains("Cartesian"),
      "incremental full-chain joins must be keyed")
    // the model-quality policy variant must not change the plan class:
    // classifierScore is row-local arithmetic fused into the keep-best
    // input scan, and the Det-grid quality stays inside the struct-max
    // aggregate — same no-window, keyed-joins-only shape
    val pm = planOf("p_full_pipeline_model_quality")
    assert(!pm.contains("Window"),
      "model-quality full chain must not introduce a window")
    assert(!pm.contains("NestedLoop") && !pm.contains("Cartesian"),
      "model-quality full-chain joins must be keyed")
  }

  test("plan normalization renumbers identity hashes, RDD ids and lambda names like expression ids") {
    def plan(ids: Seq[Int], hashes: Seq[String], lam: Int): String =
      s"Scan ExistingRDD MapPartitionsRDD[${ids(0) * 7}] at localCheckpoint" +
        s" at Dedup.scala:${lam + 100}\n" +
        s"Project [x#${ids(0)}, f(q#${ids(1)}, [D@${hashes(0)}) AS c#${ids(2)}]\n" +
        s"+- Filter (nearest(y#${ids(0)}, [D@${hashes(1)}, [D@${hashes(0)}) > 0 AND " +
        s"exists(v#${ids(1)}, lambdafunction(lambda x_$lam#${ids(2)} > 0, lambda x_$lam#${ids(2)})))"
    val a = graft.tools.PlanSnap.normalizeIds(
      plan(Seq(12, 13, 14), Seq("3d328d31", "5cf70a28"), 387))
    // only the identity hashes differ
    assert(a == graft.tools.PlanSnap.normalizeIds(
      plan(Seq(12, 13, 14), Seq("1a2b3c", "ff00ee"), 387)))
    // every allocator-assigned token differs
    assert(a == graft.tools.PlanSnap.normalizeIds(
      plan(Seq(40, 41, 42), Seq("1a2b3c", "ff00ee"), 203)))
    assert(a == "Scan ExistingRDD MapPartitionsRDD[r1] at localCheckpoint at Dedup.scala\n" +
      "Project [x#e1, f(q#e2, [D@h1) AS c#e3]\n" +
      "+- Filter (nearest(y#e1, [D@h2, [D@h1) > 0 AND " +
      "exists(v#e2, lambdafunction(lambda x_1#e3 > 0, lambda x_1#e3)))")
  }
}
