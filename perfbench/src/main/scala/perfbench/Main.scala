package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run of one workload in one JVM.
  *
  * Set-up (session start, index prebuild, one warm-up round of every op,
  * run `--cpus` at a time) is timed from process start. Then whole rounds
  * of ops run closed-loop, one at a time, until the summed op time reaches
  * `--seconds`. The first successful output of each op is its reference:
  * every later output of the op must match it, and `run.py` compares the
  * references with DuckDB. A reference whose (op, digest) pair is listed
  * in the `--verified` file passed that comparison in an earlier run of
  * the same build on the same tables, so it is not written out again.
  * With `--trace 1`, every op runs alternately with the listeners
  * attached, recording spans and per-layer counters, and bare, which
  * prices the tracing.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out FILE [--cpus N] [--verified FILE]
  */
object Main {
  private val BenchFiles = Set("Workloads.scala", "Main.scala", "Ledger.scala", "Probes.scala")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cpus: Int, verified: Option[String])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("out"), kv.getOrElse("cpus", "4").toInt, kv.get("verified"))
  }

  /** (total, steal) jiffies from the aggregate cpu line of /proc/stat. */
  private def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = os.getProcessCpuTime / 1e9
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def ioBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  private def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    graft.util.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def attach(spark: SparkSession, l: Ledger, on: Boolean): Unit =
    if (on) { spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    else { spark.sparkContext.removeSparkListener(l); spark.listenerManager.unregister(l) }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workloads(o.workload, o.data, o.seed)
    val refs = mutable.LinkedHashMap.empty[String, (OpResult, String)]
    def keepRef(op: String, r: OpResult): Unit =
      refs.synchronized { if (!refs.contains(op)) refs(op) = (r, digest(r.rows)) }

    // ---- set-up: session, then one warm-up round, --cpus ops at a time ----
    val spark = session(o.cpus)
    val pool = Executors.newFixedThreadPool(o.cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val warmup = wl.round(0).map(op => Future {
      val a = System.nanoTime()
      // a failing op keeps no reference; its timed runs fail on their own
      try keepRef(op, wl.run(spark, op, (_, body) => body))
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $op threw $e") }
      op -> JDouble((System.nanoTime() - a) / 1e9)
    }).map(Await.result(_, Duration.Inf))
    pool.shutdown()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // collected outside the window so that no op pays for warm-up garbage
    System.gc()
    var mark = System.nanoTime()
    val phases = mutable.ArrayBuffer[JField]("setup" -> JDouble(setupS))
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime(); phases += name -> JDouble((now - mark) / 1e9); mark = now
    }

    // ---- timed window ----
    val ledger = if (o.trace) Some(new Ledger(BenchFiles)) else None
    var attached = false
    val (tot0, steal0) = cpuStat()
    val jitStart = jitMs
    val ops = mutable.ArrayBuffer.empty[JValue]
    var window = 0.0
    var round = 1
    var opIdx = 0
    var heapPeak = 0.0
    var cpuOps = 0.0
    // traced runs alternate each op between traced and bare occurrences
    // (which comes first depends on the op), so they take two rounds or more
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    while (window < o.seconds || (o.trace && round <= 2)) {
      wl.round(round).foreach { op =>
        val traced = ledger.isDefined && (seen(op) + (op.hashCode & 1)) % 2 == 0
        seen(op) += 1
        val gid = s"op-$opIdx"
        val sc = spark.sparkContext
        ledger.foreach { l => if (traced != attached) attach(spark, l, traced) }
        attached = traced
        // no job description, so each SQL execution is described by its
        // call site, which tells the op's own action from eager engine ones
        sc.setJobGroup(gid, null, interruptOnCancel = false)
        val spans = mutable.ArrayBuffer.empty[Ledger.Span]
        def span(name: String, body: => Any): Any = {
          val a = System.currentTimeMillis()
          try body finally spans += Ledger.Span(name, a, System.currentTimeMillis())
        }
        val io0 = ioBytesRead
        val cpu0 = processCpuS; val jit0 = jitMs; val gc0 = gcMs
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgt0 = CodeGenerator.compileTime
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res: Either[Throwable, OpResult] =
          try Right(wl.run(spark, op, span)) catch { case e: Exception => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        val cpu = processCpuS - cpu0
        val jit = jitMs - jit0; val gc = gcMs - gc0
        val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        val cgt = CodeGenerator.compileTime - cgt0
        val io1 = ioBytesRead
        sc.clearJobGroup()
        window += wall
        cpuOps += cpu
        val (ok, detail, rows) = res match {
          case Left(e) => (false, s"threw ${e.getClass.getName}: ${e.getMessage}".take(500), -1L)
          case Right(r) =>
            keepRef(op, r)
            if (refs(op)._2 == digest(r.rows)) (true, "", r.rows.length.toLong)
            else (false, "output differs from the op's reference output", r.rows.length.toLong)
        }
        var rec: JObject = ("op" -> op) ~ ("round" -> round) ~ ("traced" -> traced) ~
          ("wall_s" -> wall) ~ ("ok" -> ok) ~ ("detail" -> detail) ~ ("rows_out" -> rows) ~
          ("cpu_s" -> cpu) ~ ("jit_ms" -> jit) ~ ("gc_ms" -> gc)
        if (traced) ledger.foreach { l =>
          l.settle(sc, gid)
          val g = l.group(gid)
          g.synchronized {
            val jobs = g.jobs.toSeq
            val allSpans = spans.toSeq ++ g.phases ++ jobs.map { case (id, j) =>
              Ledger.Span(s"spark.job.$id", j.startMs, math.max(j.end, j.startMs))
            }
            rec = rec ~ ("start_ms" -> startMs) ~ ("end_ms" -> endMs) ~
              ("spans" -> allSpans.map(s => ("name" -> s.name) ~ ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs))) ~
              ("jobs" -> jobs.size) ~ ("eager_jobs" -> jobs.count(_._2.eager)) ~
              ("call_sites" -> jobs.map(_._2.callSite).distinct.toList) ~ ("stages" -> g.stages) ~
              ("tasks" -> g.tasks) ~ ("task_retries" -> g.taskRetries) ~ ("task_run_ms" -> g.taskRunMs) ~
              ("task_cpu_ns" -> g.taskCpuNs) ~ ("task_gc_ms" -> g.taskGcMs) ~
              ("shuffle_write_b" -> g.shuffleWrite) ~ ("shuffle_read_b" -> g.shuffleRead) ~
              ("spill_b" -> g.spill) ~ ("input_b" -> g.inputBytes) ~ ("peak_exec_mem_b" -> g.peakExecMem) ~
              ("executions" -> g.executions.size) ~ ("phased_executions" -> g.phasedExecs.size) ~
              ("codegen_compiles" -> cg) ~ ("codegen_ms" -> cgt / 1e6) ~
              ("io_read_b" -> (io1 - io0))
          }
          l.forget(gid)
          rec = rec ~ ("tables_t_ms" -> tablesProbe(spark, wl, op, o.data))
        }
        ops += rec
        opIdx += 1
      }
      round += 1
      // live heap: in use right after a full collection at each round's
      // end, the least of three collections 0.2 s apart. Spark's cleaner
      // drops the blocks and broadcasts a collection found unreachable
      // only after it, and on a loaded host that can outlast one interval.
      val live = (0 until 3).map { i => if (i > 0) Thread.sleep(200); System.gc(); heapUsedMb }.min
      heapPeak = math.max(heapPeak, live)
    }
    phaseDone("window")
    val (tot1, steal1) = cpuStat()
    val stealPct = if (tot1 > tot0) 100.0 * (steal1 - steal0) / (tot1 - tot0) else 0.0

    // ---- traced-only probes of single-layer entry points ----
    val probes: JObject = ledger match {
      case Some(l) =>
        if (!attached) attach(spark, l, on = true)
        val p = Probes.run(spark, l, o.data, o.seed)
        attach(spark, l, on = false)
        p
      case None => JObject()
    }
    phaseDone("probes")

    // ---- references for the DuckDB comparison (untimed) ----
    val verified: Set[(String, String)] = o.verified.map(Paths.get(_)).filter(Files.exists(_)).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.map(_.split("\t")).collect { case Array(op, d, _*) => (op, d) })
      .toSet
    val refDir = Paths.get(o.out).toAbsolutePath.getParent.resolve("refs")
    val refsJ = JObject(refs.toList.map { case (op, (r, d)) =>
      val ref = ("oracle_sql" -> wl.oracleSql(op)) ~ ("rows" -> r.rows.length) ~ ("digest" -> d)
      op -> (if (verified((op, d))) ref ~ ("verified" -> true) else {
        val dir = refDir.resolve(op).toString
        spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        ref ~ ("dir" -> dir)
      })
    })
    phaseDone("refs")

    val conditions: JObject = ("steal_pct" -> stealPct) ~
      ("nproc" -> Runtime.getRuntime.availableProcessors) ~ ("cpus" -> o.cpus) ~
      ("xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576) ~
      ("jit_total_s" -> jitMs / 1e3) ~ ("jit_window_s" -> (jitMs - jitStart) / 1e3) ~
      ("spark_version" -> spark.version) ~ ("java_version" -> System.getProperty("java.version"))
    val out: JObject = ("workload" -> wl.name) ~ ("seed" -> o.seed) ~ ("trace" -> o.trace) ~
      ("seconds" -> o.seconds) ~ ("window_s" -> window) ~ ("cpu_ops_s" -> cpuOps) ~
      ("heap_live_peak_mb" -> heapPeak) ~ ("setup_s" -> setupS) ~
      ("phase_s" -> JObject(phases.toList)) ~
      ("warmup_s" -> JObject(warmup.toList)) ~
      ("conditions" -> conditions) ~ ("ops" -> ops.toList) ~ ("refs" -> refsJ) ~ ("probes" -> probes)
    spark.stop()
    Files.writeString(Paths.get(o.out), compact(render(out)) + "\n")
  }

  /** One `Tables.t` call per table the op reads, summed, in ms. */
  private def tablesProbe(spark: SparkSession, wl: Workload, op: String, dir: String): Double =
    wl.tablesOf(op).map { t =>
      val a = System.nanoTime()
      graft.util.Tables.t(spark, dir, t)
      (System.nanoTime() - a) / 1e6
    }.sum
}
