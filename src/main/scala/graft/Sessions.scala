package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main, tool and the
  * test suite gets its session from [[local]], so each one runs the
  * catalog under the same settings:
  *
  *  - `local[cpus]` with the shuffle width equal to `cpus`;
  *  - `spark.sql.session.timeZone=UTC`: timestamp functions are
  *    session-timezone-sensitive, so an unpinned machine-local zone
  *    would make temporal queries return different rows elsewhere;
  *  - the UI off and the log level at WARN;
  *  - [[graft.plans.GraftExtensions]], so the engine's SQL functions,
  *    optimizer rules and planner strategy are present in this session
  *    and in every `newSession()` of it;
  *  - the two engine confs below, set once here so that no library
  *    call has to change session conf as a side effect.
  *
  * A cluster deployment passes the same keys to `spark-submit`, with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (README). */
object Sessions {

  /** `$SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session over `cpus` cores. `warehouseDir` places
    * `spark.sql.warehouse.dir`; unset, Spark's default applies. */
  def local(cpus: Int = defaultCpus,
            warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // TypedImperativeAggregates (TopKAgg, the sketches) plan as
      // ObjectHashAggregate, which falls back to sort-based aggregation
      // once a task sees more than this many distinct groups (default
      // 128). The top-k folds group by thousands of query ids per task
      // over a cross-join or probe-join input, and the fallback then
      // sorts that input through disk: measured at the sf100 probe as a
      // multi-TB spill. The buffers are k-bounded heaps, so a few
      // million groups of hash-map state stay executor-sized.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      // the events fixture has shipped `ts` as ns-precision INT64, which
      // Spark reads only under this flag (as LongType; Tables.repairTs
      // converts it). It changes nothing for µs TIMESTAMP columns.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)
    val spark = warehouseDir.fold(builder)(builder.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
