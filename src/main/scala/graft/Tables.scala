package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated corpus (TESTDATA.md / FIXTURES.md).
  *
  * One parquet file per table under an sf directory. The reference
  * (ispras/pu4spark) has no I/O layer of its own — ingestion is the
  * caller's job (reference README.md:74-77) — so this is the rebuild's
  * single, Parquet-native ingestion seam. Scans are plain
  * `spark.read.parquet`, so Catalyst predicate pushdown / column
  * pruning / partition pruning all apply to anything built on top.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns whose parquet physical type has varied across
    * driver-generator versions: TIMESTAMP(NANOS) (surfaced as LongType
    * nanos-since-epoch under `spark.sql.legacy.parquet.nanosAsLong=true` —
    * Spark 4 rejects NANOS outright otherwise), and timestamp[us] with
    * isAdjustedToUTC=false (surfaced as TIMESTAMP_NTZ). Functions like
    * `unix_micros` only accept TIMESTAMP, so both flavors are normalized
    * to TimestampType here — the session timezone is pinned UTC in
    * [[localSession]], making the NTZ→LTZ cast exact and
    * engine-parity-safe (DuckDB reads the same field values).
    */
  private val tsColumns = Set("ts", "o_orderdate", "l_shipdate")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/$table.parquet")
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      if (tsColumns.contains(f.name) && f.dataType == LongType)
        // `div` = integer division. `/` would be DOUBLE division: epoch
        // nanos (~1.7e18) exceed double's 2^53 mantissa, silently
        // corrupting timestamps by hundreds of microseconds.
        df.withColumn(f.name, org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr(s"${f.name} div 1000")))
      else if (tsColumns.contains(f.name) && f.dataType == TimestampNTZType)
        df.withColumn(f.name, df.col(f.name).cast(TimestampType))
      else df
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The one SparkSession builder: every main, perfbench and the specs
    * get their session here, so the engine config cannot drift between
    * them. `cores` defaults to `SPARK_GRAFT_CPUS` (else 4).
    *
    * AQE post-shuffle coalescing and runtime SMJ->SHJ conversion stay at
    * Spark stock: a 64k coalescing floor regressed the pu and q query
    * families on `Bench` (VERDICT.md), and a full-bench A/B
    * (bench_r17_mid1.json vs bench_r17_shj0.json) measured the stock
    * SMJ->SHJ setting as equal or better than a 128m threshold.
    */
  def localSession(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fail LOUDLY if any generated code stops compiling (e.g. a kernel
      // reference Janino can't resolve) instead of silently downgrading the
      // whole stage to interpreted execution. Round-1 shipped exactly that
      // silent downgrade; this keeps it from coming back.
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A child of `s` with `confs` set, so library code can run with other
    * settings without changing its caller's session. It shares the
    * SparkContext, CacheManager and catalog (persisted frames and saved
    * tables are still hit; rebind a frame with `GraftColumnBridge.ofRows`),
    * and is built once per (session, confs): a fresh session's first query
    * pays ~0.2 s of session-state construction. */
  def scopedSession(s: SparkSession, confs: (String, String)*): SparkSession =
    scopedChildren.getOrBuild(s, confs.mkString(",")) {
      val child = s.newSession()
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      child
    }

  private val scopedChildren = new SessionMemo[SparkSession]
}
