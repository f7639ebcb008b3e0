package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central loaders for the driver-supplied parquet tables (TESTDATA.md).
  *
  * All engine code reads through here so that scan-level concerns
  * (format, pushdown-friendly layout, future bucketing/partitioning on a
  * real cluster) live in one place. At 100 TB these become partitioned /
  * bucketed table reads; the API stays the same.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread an under-split scan across the cluster before per-row-heavy
    * compute (regex tokenize, shingling, md5, cosine). A single-row-group
    * parquet file yields ONE scan task no matter the split config, so
    * everything up to the first exchange — including map-side partial
    * aggregation — runs on one core. At 100 TB the input is thousands of
    * row groups and this is a no-op (partitions ≥ parallelism already);
    * the shuffle only exists exactly when the scan cannot parallelize
    * itself and the data is therefore tiny. */
  def fanOut(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // partition count from the PHYSICAL PLAN, not df.rdd: df.rdd builds
    // the extra InternalRow→Row conversion lineage just to read a
    // number the planned scan already knows. outputPartitioning carries
    // it for exchanges/bucketed scans; a plain file scan reports
    // UnknownPartitioning(0), so fall back to the plan's own RDD
    // (cached in the plan, no job, no conversion stage).
    val plan = df.queryExecution.executedPlan
    val planned = plan.outputPartitioning.numPartitions match {
      case n if n > 0 => n
      case _ => plan.execute().getNumPartitions
    }
    if (planned < target) df.repartition(target) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Normalize the events `ts` column to a UTC instant (TimestampType)
    * whatever physical encoding the parquet carries. The driver has
    * shipped two encodings across rounds — ns-precision INT64 (which
    * Spark only reads via `nanosAsLong`, arriving as LongType) and
    * standard TIMESTAMP_MICROS with isAdjustedToUTC=false (arriving as
    * TIMESTAMP_NTZ) — so the repair must branch on the READ schema, not
    * assume one. Both branches yield the same instant for the same
    * wall-clock value. The NTZ branch computes wall-clock µs via
    * `timestampdiff` from the NTZ epoch — deliberately NOT
    * `to_utc_timestamp(ts, 'UTC')` or `cast(ts as timestamp)`, since both
    * of those route the NTZ value through `spark.sql.session.timeZone`
    * first (measured +5 h under an America/New_York session;
    * `EventsEncodingSpec` pins the timezone independence). Pure date
    * arithmetic keeps epoch-based oracles (DuckDB `epoch()`) matched in
    * any session. */
  def repairTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // integer DIV, not `/`: a double roundtrip at ns magnitude (~1e18)
      // exceeds the 53-bit mantissa and would corrupt the µs value
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts DIV 1000)"))
      // NOT to_utc_timestamp / cast: both implicitly convert NTZ→TZ
      // through the SESSION zone first (measured: a New_York session
      // shifts every instant by 5 h). Wall-clock µs since the NTZ epoch
      // is pure date arithmetic — no zone, no DST ambiguity.
      case TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: unexpected physical type $other")
    }
  }

  /** The events table with `ts` repaired by [[repairTs]]. An
    * ns-precision INT64 `ts` reads only in a session with
    * `spark.sql.legacy.parquet.nanosAsLong=true`: a [[Sessions.local]]
    * session, or one that sets the flag itself. */
  def events(s: SparkSession, d: String): DataFrame = {
    // every consumer gets ts-predicate pushdown through the repair
    graft.plans.RepairTsPushdown.install(s)
    repairTs(table(s, d, "events"))
  }
  // documents/embeddings feed the per-row-expensive pipelines (shingle
  // explode + md5 lanes, 256-dim cosine): fan the scan out so that work
  // uses every core, not the single task a one-row-group file produces
  def documents(s: SparkSession, d: String): DataFrame =
    fanOut(s, table(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    fanOut(s, table(s, d, "embeddings"))
}
