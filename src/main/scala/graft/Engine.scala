package graft

import graft.plans._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Engine façade: the session factory + catalog over the testdata layout.
  *
  * Matches the reference's query-visible semantics (Spark 1.3 fork — see
  * /root/reference/sql/catalyst/src/main/scala/org/apache/spark/sql/catalyst/expressions/Cast.scala:28
  * null-on-bad-cast, arithmetic.scala:179 Divide null-on-zero) by pinning
  * ANSI mode off; everything else rides modern Catalyst/Tungsten/AQE.
  *
  * Scale posture: all configuration here is cluster-safe — AQE handles
  * skew/coalescing at 1000-executor scale; nothing assumes local mode.
  */
object Engine {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The master of Verify, Bench and tools.Profile:
    * `local[$SPARK_GRAFT_CPUS]`, 32 cores when unset. */
  def localMaster: Option[String] =
    Some(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")

  private val LocalMaster = """local\[(\d+)\]""".r

  /** The six native functions, reachable from SQL and `expr(...)`
    * through the session's FunctionRegistry (SURVEY §2.7): name, arity,
    * the argument list an arity error names, constructor. */
  private val NativeFunctions: Seq[(String, Int, String, Seq[Expression] => Expression)] = Seq(
    ("graft_hamming64", 2, "2 arguments", e => Hamming64(e(0), e(1))),
    ("graft_cosine", 2, "2 arguments", e => CosineSim(e(0), e(1))),
    ("graft_topk", 3, "3 arguments (score, id, k)", e => TopKPairs(e(0), e(1), e(2))),
    ("graft_minhash16", 1, "1 argument", e => MinHash16(e(0))),
    ("graft_intl2", 2, "2 arguments", e => IntL2(e(0), e(1))),
    ("graft_overlap64", 2, "2 arguments", e => Overlap64(e(0), e(1))))

  /** The one place a session is built. Everything a query relies on is
    * set here, at construction, so a run's result never depends on who
    * built the session or which query touched it first: the confs, the
    * Hive catalog, the six native functions, the optimizer rules and the
    * AsOf planner strategy. A `local[k]` master gets k shuffle
    * partitions; on a cluster the same settings apply unchanged. */
  def session(appName: String = "graft", master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    master.collect { case LocalMaster(k) => k.toLong }
      .foreach(k => b.config("spark.sql.shuffle.partitions", k))
    val spark = b
      // a real HiveExternalCatalog (HiveTableScan / InsertIntoHiveTable
      // parity) over an in-memory Derby metastore unique per JVM, so
      // concurrent JVMs never contend on a metastore lock; every query
      // rebuilds the catalog state it needs
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:memory:graftms${java.lang.ProcessHandle.current().pid()};create=true")
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false") // 1.3 semantics: null, not error
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // mismatched bucket counts (8 vs 4) still join shuffle-free by
      // reading the finer side's buckets coalesced
      .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
      // a cache keeps its build partitioning: the text_tf/text_df posting
      // caches are stored hash-partitioned on token so the tf⋈df scoring
      // join rides that layout with no exchange. Spark 4's default lets
      // AQE re-plan the cache build, leaving its partitioning unknown at
      // planning time, and every cached side is then re-shuffled on
      // every use.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      // nanos timestamps in events.parquet: read as LONG then convert
      // explicitly where needed (legacy flag keeps the scan vectorized)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are naive micros (no isAdjustedToUTC flag);
      // read them as session-zone instants (TIMESTAMP, matching the
      // DuckDB oracle's rendering under the UTC session zone) rather
      // than TIMESTAMP_NTZ, which watermarks and unix_micros reject
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((name, arity, args, build) <- NativeFunctions)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
        { exprs: Seq[Expression] =>
          if (exprs.length != arity)
            throw new IllegalArgumentException(
              s"$name requires exactly $args, got ${exprs.length}")
          build(exprs)
        }, "built-in")
    // session-scoped, so the rules run in the terminal "User Provided
    // Optimizers" batch, after RewriteDistinctAggregates (README, Sessions)
    spark.experimental.extraOptimizations = Seq(SimplifySelfHamming, LinearizeNullSafeCountAgg)
    spark.experimental.extraStrategies = Seq(AsOfJoinStrategy)
    spark
  }

  /** Read one testdata table. Plain parquet scan — Catalyst pushes filters
    * and prunes columns into it; at 100 TB this is a partitioned columnar
    * scan with row-group pruning, no code change needed.
    *
    * The schema is inferred ONCE per path and then passed explicitly:
    * schema inference fires a footer-read job per `spark.read.parquet`
    * call, so without the cache every query DECLARATION launched a job
    * (Verify declares 185 of them). With it, declaring a query builds a
    * pure lazy plan — RegistrySpec's eager census fails any row outside
    * EagerContract.eagerByDesign that fires a job at declaration. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** events with `ts` restored to a proper µs TimestampType column.
    * The raw file stores timestamp[ns]; nanosAsLong gives LONG nanos which
    * we floor-divide to µs — identical to what DuckDB reports. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral `div`, NOT `/`: double division loses µs precision on
        // ~1e18 nanosecond values (53-bit mantissa).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
}
