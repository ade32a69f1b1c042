package perfbench

import java.io.File

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.json4s._
import org.json4s.JsonDSL._

import graft.fit._

/** Traced-run probes of single-layer entry points: calls an op makes from
  * inside the engine, where the bench cannot put a span around them, and
  * the SLOPE fit layer, which no workload op reaches (see README.md).
  */
object Probes {
  /** Size of the seeded SLOPE problem: rows, and penalized coefficients. */
  private val N = 2000
  private val P = 40

  private def prebuiltRoot = new File(System.getProperty("java.io.tmpdir"), "graft_prebuilt")

  private def treeBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)

  private def medianUs(reps: Int)(body: => Any): Double = {
    val ts = (0 until reps).map { _ =>
      val a = System.nanoTime(); body; (System.nanoTime() - a) / 1e3
    }.sorted
    ts(ts.length / 2)
  }

  /** `SortedL1.prox` and `Screening.strongSet` on seeded input of P
    * coefficients (one target), median µs per call after a warm-up.
    */
  def slopeKernels(seed: Long): JObject = {
    val rng = new scala.util.Random(seed)
    val lambda = graft.slope.LambdaSequence.gaussian(P, 0.1, N).map(_ * 0.5)
    val prev = lambda.map(_ * 1.3)
    val b = Array.fill(P)(rng.nextGaussian() * 2)
    val g = DenseMatrix.tabulate(P + 1, 1)((_, _) => rng.nextGaussian())
    def prox() = graft.slope.SortedL1.prox(b.clone(), lambda)
    def strong() = graft.slope.Screening.strongSet(g, lambda, prev, intercept = true)
    (0 until 200).foreach { _ => prox(); strong() }
    ("prox_us" -> medianUs(301)(prox())) ~ ("strong_set_us" -> medianUs(301)(strong())) ~ ("p" -> P)
  }

  /** A certified SLOPE path fit on the distributed path: a seeded gaussian
    * `RandomProblem` under the certificate configuration of the
    * `m_slope_path_kkt_*` queries (FISTA forced, tight solver, KKT export)
    * with the local-fit shortcut disabled, so every data pass is a
    * treeAggregate job. The σ grid is the first three ratios of those
    * queries, and a one-ratio fit runs first to warm the fit code.
    */
  def fit(spark: SparkSession, ledger: Ledger, seed: Long): JObject = {
    def config(ratios: Array[Double]) = SlopeConfig(family = "gaussian",
      sigmaRatios = ratios, kktExport = true, maxGramCols = 0,
      solver = SolverConfig(tolRelGap = 1e-7, tolInfeas = 1e-8), localFitThreshold = 0L)
    val ratios = Array(0.7, 0.35, 0.15)
    val prob = RandomProblem(N, P, q = 0.05, rho = 0.3, seed = seed)
    val feats = (0 until P).map(j => s"x$j")
    val schema = StructType(("y" +: feats).map(StructField(_, DoubleType, nullable = false)))
    val rows = (0 until N).map(i => Row.fromSeq(prob.y(i, 0) +: (0 until P).map(j => prob.x(i, j))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    df.count()
    SlopeEstimator.fit(df, feats, "y", config(ratios.take(1)))
    val sc = spark.sparkContext
    sc.setJobGroup("probe-fit", null, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val model = SlopeEstimator.fit(df, feats, "y", config(ratios))
    val fitMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val verdict = KktCertificate.verdictDf(spark, model.fit, 1e-6).collect()
    val certMs = (System.nanoTime() - t1) / 1e6
    sc.clearJobGroup()
    ledger.settle(sc, "probe-fit")
    val g = ledger.group("probe-fit")
    val jobs = g.synchronized(g.jobs.size)
    ledger.forget("probe-fit")
    df.unpersist()
    val f = model.fit
    val kept = f.betas.length
    ("data_passes" -> f.dataPasses) ~ ("solver_iters" -> f.passes.map(_.toLong).sum) ~
      ("kept_steps" -> kept) ~ ("kkt_violations" -> f.violations.map(_.length.toLong).sum) ~
      ("nonzeros" -> (0 until kept).map(f.nonzeros).sum) ~
      ("working_set" -> f.activeSets.map(_.length).sum) ~
      ("stall_exits" -> f.stallExits.count(identity)) ~ ("jobs" -> jobs) ~
      ("fit_ms" -> fitMs) ~ ("cert_ms" -> certMs) ~
      ("cert_failed_steps" -> (ratios.length - verdict.count(r => r.getBoolean(1) && r.getBoolean(2)))) ~
      ("n" -> N) ~ ("p" -> P)
  }

  def run(spark: SparkSession, ledger: Ledger, dataDir: String, seed: Long): JObject = {
    val index: JObject = Option(prebuiltRoot.listFiles).toSeq.flatten
      .find(_.getName.startsWith("fullcleanidx_")) match {
      case Some(dir) =>
        val corpusMb = new File(dataDir, "documents.parquet").length / 1048576.0
        val readMs = (0 until 3).map { _ =>
          val a = System.nanoTime()
          val idx = graft.pipeline.CleanPipeline.readFullCleanIndex(spark, dir.toString)
          idx.corpusFps.count()
          val ms = (System.nanoTime() - a) / 1e6
          idx.unpersist()
          ms
        }.sorted
        ("disk_mb" -> treeBytes(dir) / 1048576.0) ~ ("corpus_mb" -> corpusMb) ~ ("read_ms" -> readMs(1))
      case None => JObject()
    }
    ("slope" -> slopeKernels(seed)) ~ ("index" -> index) ~ ("fit" -> fit(spark, ledger, seed))
  }
}
