package graft

import java.nio.file.{Files, Paths}

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (and mirrored to an
  * artifact file — BENCH_LOCAL.json for a full-suite sf0.1 isolated run,
  * BENCH_SCALE.json / BENCH_DEV.json otherwise —
  * so the result survives sbt's log prefixes).
  *
  * Each query is forced with a no-op full-evaluation write (`noop` format):
  * unlike `count()`, Catalyst cannot prune projection-only work, so
  * expression-heavy queries are measured honestly. A warm-up query runs
  * first so JVM/codegen/parquet-footer startup cost doesn't land on
  * whichever query happens to run first. Failures are logged to stderr and
  * reported as negative times instead of being silently swallowed.
  */
object Bench {

  /** (total jiffies, steal jiffies) from /proc/stat's aggregate cpu line —
    * sampled around the run so the artifact self-describes its noise
    * floor. Host CPU-steal is the one contaminant that moved past
    * artifacts by multiples of the per-query noise band (see VERDICT r6:
    * a 66 s vs 55 s full-suite swing with no code change), and a number
    * without its steal reading cannot adjudicate noise vs regression.
    */
  private[graft] def cpuStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Steal % since `stat0` (a [[cpuStat]] sample): Δsteal/Δtotal of the
    * aggregate cpu line, rounded to 0.01; None when /proc/stat is absent.
    */
  private[graft] def stealPctSince(stat0: Option[(Long, Long)]): Option[Double] =
    for ((t0, s0) <- stat0; (t1, s1) <- cpuStat() if t1 > t0)
      yield math.round(10000.0 * (s1 - s0) / (t1 - t0)) / 100.0

  /** MULTI-JVM headline mode (`SPARK_GRAFT_JVMS=N`, N > 1): the committed
    * BENCH_LOCAL.json used to be a single-JVM draw, and the round-13 JIT
    * adjudication showed adjacent fresh JVMs swing individual
    * string-kernel queries 1.3–6× (and totals ±9%) on byte-identical code
    * — a per-JVM code-quality lottery, not workload noise. The fix the
    * adjudication itself recommended: run the whole suite in N FRESH
    * JVMs (sequential — they would contend for the same 32 cores run in
    * parallel) and report PER-QUERY MINIMA across JVMs, so no query's
    * headline number is hostage to one JVM's compilation draw. Each child
    * is launched with this JVM's exact arguments and classpath and writes
    * its own artifact; the merged artifact stamps per-JVM provenance
    * (totals, steal, JIT time, artifact paths) so the aggregation is
    * auditable.
    */
  private def runMulti(jvms: Int): Unit = {
    import scala.jdk.CollectionConverters._
    // real JSON round-trip (json4s ships with Spark): the former regex
    // surgery took the merged query set from child 1 ONLY — a query absent
    // from the first artifact silently vanished from the headline — and
    // could mis-split on any brace/comma drift (the same fragility class
    // removed in r14 from the harness behind PARAPROBE.json)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val childOuts = (1 to jvms).map(i =>
      java.nio.file.Files.createTempFile(s"bench_jvm${i}_", ".json"))
    try {
      val childJs: Seq[JObject] = childOuts.zipWithIndex.map { case (out, i) =>
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_JVMS", "1")
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
        // child stdout is its own JSON line — silence it so the parent's
        // merged line is the only "metric" on stdout (the driver greps it)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        System.err.println(s"[bench] fresh JVM ${i + 1}/$jvms ...")
        val rc = pb.start().waitFor()
        require(rc == 0, s"bench child JVM ${i + 1} exited $rc")
        JsonMethods.parse(new String(
            java.nio.file.Files.readAllBytes(out), "UTF-8")) match {
          case o: JObject => o
          case other =>
            sys.error(s"bench child ${i + 1} artifact is not a JSON object: $other")
        }
      }
      def numOf(j: JObject, key: String): Option[Double] =
        j.obj.collectFirst {
          case (`key`, JDouble(d)) => d
          case (`key`, JInt(n)) => n.toDouble
          case (`key`, JLong(n)) => n.toDouble
        }
      def queryMap(j: JObject): Map[String, Double] =
        j.obj.collectFirst { case ("queries", q: JObject) => q }
          .map(_.obj.collect {
            case (k, JDouble(d)) => k -> d
            case (k, JInt(n)) => k -> n.toDouble
            case (k, JLong(n)) => k -> n.toDouble
          }.toMap)
          .getOrElse(Map.empty[String, Double])
      val perJvm = childJs.map(queryMap)
      // merge over the UNION of query names across children, sorted; a
      // per-query min over the POSITIVE (successful) runs; a query with no
      // successful run in any JVM keeps a failure-marker negative time
      val names = perJvm.flatMap(_.keys).distinct.sorted
      val merged = names.map { n =>
        val vs = perJvm.flatMap(_.get(n))
        val ok = vs.filter(_ > 0)
        n -> (if (ok.nonEmpty) ok.min else vs.min)
      }
      val qs = merged.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val total = merged.map(_._2).filter(_ > 0).sum
      val nFailed = merged.count(_._2 < 0)
      def arr(key: String): String =
        childJs.map(j => numOf(j, key).map(_.toString).getOrElse("null"))
          .mkString("[", ",", "]")
      // steal: the MAX child window (the conservative noise bound a reader
      // should judge the headline against)
      val steals = childJs.flatMap(numOf(_, "steal_pct"))
      val stealJson = if (steals.isEmpty) "null"
        else (math.round(steals.max * 100.0) / 100.0).toString
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val json =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":$nFailed,"runs_per_query":"2-3 per JVM","agg":"per-query min across $jvms fresh JVMs","jvms":$jvms,"isolate":true,"sf":"$sfDir","steal_pct":$stealJson,"per_jvm_total":${arr("value")},"per_jvm_steal":${arr("steal_pct")},"per_jvm_jit_sec":${arr("jit_sec")},"per_jvm_wall_sec":${arr("wall_sec")},"n_registered":${SparkEntry.queries.size},"n_oracled":${SparkEntry.oracleSql.size}}"""
      println(json)
      val sfNorm = sfDir.stripSuffix("/")
      val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (sfNorm.contains("/scale/")) "BENCH_SCALE.json"
        else if (!sfNorm.endsWith("sf0.1")) "BENCH_DEV.json"
        else "BENCH_LOCAL.json")
      Files.writeString(Paths.get(outFile), json + "\n")
    } finally childOuts.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  def main(args: Array[String]): Unit = {
    val jvms = sys.env.getOrElse("SPARK_GRAFT_JVMS", "1").toInt
    if (jvms > 1) { runMulti(jvms); return }
    val startedAt = java.time.Instant.now()
    val stat0 = cpuStat()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Tables.session("graft-bench")

    def force(name: String): Double = {
      // isolate queries from each other: eagerly-materialized pipelines
      // (localCheckpoint / persist inside dedup, CC, semantic dedup) leave
      // blocks in the block manager for as long as their DataFrames are
      // reachable — across 60+ queries the accumulation fills storage
      // memory and a later cache-heavy query pays eviction churn instead
      // of its own cost (measured 2.4 s → 18.9 s on p_dup_clusters, full
      // suite vs isolated). Each query re-materializes inside its own
      // timed run, so dropping leftovers changes nothing semantically.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      // settle the heap between queries: the iterative-fit queries collect
      // sizeable driver arrays, and their garbage otherwise lands on
      // whichever query runs next (measured 2.5s → 11s swings)
      System.gc()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          -((System.nanoTime() - t0) / 1e9)
      }
    }

    // warm-up: JVM + codegen + parquet footers (not reported). On a
    // documents-only rehearsal corpus (the ×100 dedup decade) q1 fails
    // instantly — missing lineitem — and whichever query ran first then
    // absorbed the whole cold start (measured: p_dup_clusters 95.8 s as
    // the accidental warm-up vs ~36 s warmed, while its superset
    // p_dup_keep_best measured 30.1 s in the same run); fall back to a
    // cheap documents-based warm-up so that never lands on a scored query.
    if (force("q1_pricing_summary") < 0) force("p_exact_dedup")

    // two runs per query, min reported: single-shot numbers at this scale
    // are dominated by JIT/GC/codegen noise (measured 0.8 s vs 9 s for the
    // same query back to back); the min is the steady-state cost the plan
    // actually has. If the two runs still disagree by >25% the noise isn't
    // settled — one more run tightens the tail (deterministic rule, at most
    // 3 runs). Any failed run fails the query.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for local iteration; the
    // driver never sets it, so driver rounds always measure the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would silently measure nothing and still print a
    // success-shaped total — fail fast instead
    only.foreach { req =>
      val unknown = req -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { n =>
      val a = force(n)
      if (a < 0) n -> a
      else {
        val b = force(n)
        if (b < 0) n -> b
        else {
          val noisy = math.abs(a - b) > 0.25 * math.min(a, b)
          val c = if (noisy) force(n) else Double.MaxValue
          n -> math.min(math.min(a, b), c) // failures negative → propagate
        }
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ > 0).sum
    val nFailed = results.count(_._2 < 0)
    val endedAt = java.time.Instant.now()
    val wallSec = (endedAt.toEpochMilli - startedAt.toEpochMilli) / 1e3
    val stealJson = stealPctSince(stat0).map(_.toString).getOrElse("null")
    // JIT self-diagnostics (round 13): per-JVM 1.3-6x swings on
    // string-kernel queries between quiet windows traced to code-cache
    // pressure — record peak CodeHeap fill and total JIT time so any
    // future two-window discrepancy carries its own compiler evidence.
    import scala.jdk.CollectionConverters._
    val codeHeaps = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap"))
    val ccPeakMb = codeHeaps.map(_.getPeakUsage.getUsed).sum >> 20
    val ccMaxMb = codeHeaps.map(p => math.max(0L, p.getUsage.getMax)).sum >> 20
    // per-segment peaks: the segmented code cache flushes per SEGMENT, so
    // "sum << cap" can hide a saturated profiled-nmethods heap
    val ccPools = codeHeaps.map { p =>
      val n = p.getName.replace("CodeHeap '", "").stripSuffix("'")
        .replaceAll("[^a-z0-9-]", "_")
      s""""$n":{"peak_mb":${p.getPeakUsage.getUsed >> 20},"max_mb":${math.max(0L, p.getUsage.getMax) >> 20}}"""
    }.mkString("{", ",", "}")
    val jitSec = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(-1.0)
    // registry counts (independent of any ONLY filter) — the single source
    // README counters are generated from (tools/update_readme.py)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":$nFailed,"runs_per_query":"2-3","agg":"min","isolate":true,"sf":"$sfDir","steal_pct":$stealJson,"code_cache_peak_mb":$ccPeakMb,"code_cache_max_mb":$ccMaxMb,"code_heaps":$ccPools,"jit_sec":$jitSec,"wall_sec":$wallSec,"started_at":"$startedAt","ended_at":"$endedAt","n_registered":${SparkEntry.queries.size},"n_oracled":${SparkEntry.oracleSql.size}}"""
    println(json)
    // artifact hygiene: BENCH_LOCAL.json holds ONLY the headline number —
    // the full suite at the driver's bench scale (sf0.1), isolated mode.
    // Scale-rehearsal corpora, A/B experiments and low-SF iteration runs
    // each go to their own file, so no later experiment buries the
    // headline artifact (the round-5 lesson: a 5-query x10 rehearsal
    // overwrote the 71-query result and the real number survived only in
    // git history). Trailing slashes are normalized so ".../sf0.1/" still
    // routes to the headline file.
    val sfNorm = sfDir.stripSuffix("/")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sfNorm.contains("/scale/")) "BENCH_SCALE.json"
      else if (only.nonEmpty || !sfNorm.endsWith("sf0.1")) "BENCH_DEV.json"
      else "BENCH_LOCAL.json")
    Files.writeString(Paths.get(outFile), json + "\n")
    spark.stop()
  }
}
