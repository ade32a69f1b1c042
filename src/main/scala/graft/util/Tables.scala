package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parquet table loaders for the driver-generated star schema
  * (see TESTDATA.md). All queries read through here so the scan layer is
  * swappable (e.g. for a bucketed or partitioned layout at cluster scale).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is written as parquet TIMESTAMP(NANOS); Spark reads it as a
    // nanosecond long (spark.sql.legacy.parquet.nanosAsLong=true, set by
    // every session builder in this project). Normalize to a microsecond
    // timestamp, matching DuckDB's ts::TIMESTAMP truncation.
    // integral division keeps the computation in long arithmetic — epoch-ns
    // values (~1.7e18) exceed 2^53, so a double-precision divide would be
    // off by 1 µs on a fraction of rows vs DuckDB's exact truncation
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // a plain timestamp[us] file (no isAdjustedToUTC flag) reads as
    // TIMESTAMP_NTZ under Spark 4's inference; normalize to TIMESTAMP so
    // downstream unix_micros/window arithmetic is type-stable. All sessions
    // here run in UTC, where the cast is value-identity — matching DuckDB,
    // which treats the column as a naive TIMESTAMP either way.
    else if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Config required by every SparkSession that reads these tables. */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // read plain timestamp[us] parquet as TIMESTAMP (UTC session), not
    // TIMESTAMP_NTZ — keeps the scan schema identical across driver
    // testdata generations that differ in the isAdjustedToUTC flag
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // AQE small-partition coalescing floor (guide §2.2): with the initial
    // shuffle-partition count sized to cores, a small-SF run fans tiny
    // exchanges into `cores` sub-millisecond tasks and the per-task
    // overhead inverts scaling (the r16 driver measured the whole suite
    // FASTER at 8 cores than 32 at sf0.1). Merging sub-8MB post-shuffle
    // partitions removes most of that overhead here (measured ~15% off the
    // worst text-family offenders, neutral elsewhere) and is a no-op at
    // production scale, where partitions exceed the floor and the
    // parallelismFirst target governs. Parameterised for deployments that
    // want the full advisory-size policy instead.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "8m"),
    // the generated-class cache defaults to 100 entries; a session running
    // the full query suite compiles several hundred distinct codegen units,
    // so the default thrashes and every query pays Janino recompilation on
    // every run (static conf — must be set before the session starts)
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // native expressions (vec_dot) on the SQL surface of every session
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // FAIR task scheduling: single jobs behave exactly as FIFO, but the
    // concurrent CV-cell jobs (TrainSlope) share the cluster round-robin
    // through per-cell pools instead of queueing whole stages
    "spark.scheduler.mode" -> "FAIR")

  /** The one session factory every `main` in this project uses:
    * `local[$SPARK_GRAFT_CPUS]` (default 4), no UI, [[sessionConfigs]]
    * (UTC among them), log level WARN.
    *
    * Shuffle-partition count is a DEPLOYMENT knob, not plan structure: the
    * engine's plans are partition-count-agnostic, and production sizes
    * partitions so a task's shuffle slice stays ~task-sized (100-200 MB).
    * Default = cores (right for the sf0.1 headline: fixed 512 initial
    * partitions measured +34 s of pure task overhead across 103 queries);
    * scale-rehearsal decades MUST override through
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` — at /tmp/x1000 the multi-order span
    * family shuffles ~60 GB, and 32 partitions means ~2 GB per sort-merge
    * task: spill-bound superlinearity (d3 ≈ 1.25) that disappears at
    * data-sized partition counts (SCALING.md round 12).
    */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Recover scan parallelism lost to coarse parquet row groups.
    *
    * The local test tables are single-row-group files, and a row group is
    * Spark's minimum split unit — so a scan yields 1–3 partitions and every
    * downstream map-side computation (decimal-exact sums, regex explodes,
    * per-row hashing) runs near-serially no matter how many cores exist.
    * Spreading is GATED on the observed partition count: on a real lake a
    * 100 TB table scans as tens of thousands of row-group splits, the gate
    * fails, and no shuffle is added. Locally it costs one small shuffle of
    * the (column-pruned) rows and buys full-core aggregation.
    *
    * The explicit partition count also pins the exchange against AQE
    * coalescing, which would otherwise size the few-MB pre-explode input
    * back down to one partition.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) < target) df.repartition(target) else df
  }

  // the `.rdd` probe compiles a SECOND physical plan for the same query
  // (~100-150 ms of pure driver planning per call); identical plans always
  // probe identical counts, so memoize per (session, canonicalized plan).
  // Plans are FULL canonicalized trees compared structurally (a 32-bit
  // semanticHash collision would silently return the wrong count and flip
  // a spread/repartition decision), in one bounded LRU so stopped
  // sessions' plan trees age out instead of accumulating. (A WeakHashMap
  // keyed by session does NOT work here: the cached plans strongly
  // reference their session, and a weak key reachable from its own value
  // is never collected.) While a session's entries live, the session is
  // strongly held, so its identity hash cannot be recycled into a live
  // alias; counts can still go stale if files change under an identical
  // plan — acceptable for this fixed test layout; a moving lake should
  // skip the cache, not trust it.
  private val ProbeCacheMax = 256
  private type PlanKey = (Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  private val probeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[PlanKey, Integer](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[PlanKey, Integer]): Boolean =
        size() > ProbeCacheMax
    })

  /** Partition count of `df`'s physical plan, memoized per (session, plan). */
  def scanPartitions(df: DataFrame): Int = {
    val key: PlanKey = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.canonicalized)
    val cached = probeCache.get(key)
    if (cached != null) cached.intValue()
    else {
      val n = df.rdd.getNumPartitions
      probeCache.put(key, n)
      n
    }
  }
}

/** Deterministic-aggregation helpers.
  *
  * Double sums are order-dependent, and Spark's partial aggregation order
  * differs from DuckDB's, so a raw `sum(double)` can differ in the last few
  * ulps between the engine and the oracle. Fixing each addend to an integer
  * grid — `floor(x·10^s + 0.5)` as a 64-bit integer, summed as a decimal —
  * makes the sum exact and associative, so the result is bit-identical in
  * both engines and invariant to partitioning/AQE/speculation.
  *
  * Why `floor(x·10^s + 0.5)` instead of a double→DECIMAL(·,s) cast: the
  * cast asks each engine to round a *real number* at a decimal boundary,
  * and on `.xxx5` ties Spark (shortest-string repr, HALF_UP) and DuckDB
  * (exact binary value) disagree. `floor` rounds the *same IEEE double*
  * with the same function — agreement is structural, not luck. It is also
  * ~an order of magnitude cheaper per row: Spark's double→decimal cast goes
  * through `Double.toString` + BigDecimal parse; this path is a codegen'd
  * multiply+floor into a compact long-backed decimal.
  *
  * The long-typed grid value requires |x|·10^s < 2^63 per row; the decimal
  * re-cast before the sum keeps the TOTAL overflow-safe at any scale
  * (a 100 TB sum of e10-sized addends exceeds int64 but not DECIMAL(38)).
  *
  * The DuckDB twin of `dsum(x, 6)` is
  * `(sum(CAST(floor(x*1e6 + 0.5) AS BIGINT)::DECIMAL(38,0)))::DOUBLE / 1e6`
  * and `davg(x, 9)` appends `/ count(*)::DOUBLE` to the scale-9 form.
  */
object Det {
  def dsum(c: Column, scale: Int = 6): Column = {
    val m = math.pow(10, scale) // powers of ten ≤ 1e22 are exact doubles
    sum(floor(c * lit(m) + lit(0.5)).cast(DecimalType(38, 0)))
      .cast("double") / lit(m)
  }

  def davg(c: Column, scale: Int = 9): Column =
    dsum(c, scale) / count(lit(1)).cast("double")

  /** DuckDB twin of [[dsum]] as an oracle-SQL fragment. */
  def dsumSql(expr: String, scale: Int = 6): String =
    s"(sum(CAST(floor(($expr)*1e$scale + 0.5) AS BIGINT)::DECIMAL(38,0)))::DOUBLE / 1e$scale"

  /** DuckDB twin of [[davg]] as an oracle-SQL fragment. */
  def davgSql(expr: String, scale: Int = 9): String =
    s"${dsumSql(expr, scale)} / count(*)::DOUBLE"

  /** 60-bit hash shared with DuckDB:
    * Spark  : conv(substring(md5(s),1,15),16,10)::long
    * DuckDB : ('0x' || substr(md5(s),1,15))::BIGINT
    */
  /** 60-bit md5-derived hash (native expression — see
    * [[graft.functions.Md5Hash60]]; bit-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10)` and to the DuckDB fragment
    * below, asserted in Md5Hash60Spec).
    */
  def md5Hash60(c: Column): Column = graft.functions.Md5Hash60.column(c)

  /** Same hash as a SQL fragment for generated oracle SQL. */
  def md5Hash60Sql(expr: String): String =
    s"('0x' || substr(md5($expr), 1, 15))::BIGINT"
}
