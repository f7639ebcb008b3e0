package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query timing over arbitrary data dirs — the dev-loop companion
  * to [[graft.Bench]] (full catalog, fixed dir) and [[Repeat]] (one
  * query, CPU-time A/B): times a SUBSET of the catalog at any
  * directory (typically a [[ScaleUp]]-built 10×/100× corpus) without
  * paying for the full 140+-query run.
  *
  * Usage: `runMain graft.tools.QueryTimer <sfDir> <q1,q2,…> [reps]` —
  * prints per-query cold and steady (min of `reps` post-cold runs,
  * default 2) wall seconds through the same noop-sink path as Bench,
  * so numbers are comparable with bench artifacts. For A/B-ing two
  * IMPLEMENTATIONS on this CPU-noisy host, use [[Repeat]]'s
  * process-CPU seconds instead — wall time alone can't separate work
  * from interference.
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev knob: decouple shuffle width from core count to attribute
    // scaling anomalies (32-core slower than 8-core) to one or the other
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // dev knob: arbitrary session confs (k=v;k=v) for A/B-ing
    // conf-gated behavior (e.g. graft.streaming.shufflePartitions)
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConf)
      .getOrElse(Seq.empty)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.split(",").foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      graft.SparkEntry.clearSessionCaches()
      val cold = once()
      val steady = (1 to reps).map(_ => once()).min
      println(f"[probe] $name dir=$sfDir cold=$cold%.2fs steady=$steady%.2fs")
    }
    spark.stop()
  }

  /** The `SPARK_GRAFT_EXTRA_CONF` pairs: `k=v` segments split on `;`.
    * Empty segments (e.g. after a trailing `;`) are skipped; a segment
    * without `=` or with an empty key refuses, naming itself. */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"malformed SPARK_GRAFT_EXTRA_CONF segment '$kv': expected k=v;k=v")
      }
    }
}
