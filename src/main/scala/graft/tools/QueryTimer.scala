package graft.tools

/** Per-query timing over arbitrary data dirs — the dev-loop companion
  * to [[graft.Bench]] (full catalog, fixed dir): times a SUBSET of the
  * catalog at any directory (typically a [[ScaleUp]]-built 10×/100×
  * corpus) without paying for the full 140+-query run.
  *
  * Usage: `runMain graft.tools.QueryTimer <sfDir> <q1,q2,…> [reps]` —
  * prints per-query cold and steady (min of `reps` post-cold runs,
  * default 2) wall seconds through the same noop-sink path as Bench,
  * so numbers are comparable with bench artifacts. Each pass also
  * prints the process-CPU seconds it used: on a CPU-noisy host wall
  * time alone can't separate work from interference, so A/B two
  * IMPLEMENTATIONS on the CPU column. A name listed twice runs twice,
  * each time from a cleared session (cold rebuilds every store).
  *
  * The session is [[graft.Sessions.local]]'s, shuffle width = cores.
  * `SPARK_GRAFT_EXTRA_CONF=k=v;k=v` sets session confs after it is
  * built, e.g. `spark.sql.shuffle.partitions=N` to time another width.
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val reps = if (args.length > 2) args(2).toInt else 2
    // dev knob: arbitrary session confs (k=v;k=v) for A/B-ing
    // conf-gated behavior (e.g. graft.streaming.shufflePartitions)
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConf)
      .getOrElse(Seq.empty)
    val spark = graft.Sessions.local()
    extraConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    try names.split(",").foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // (wall, process-CPU) seconds of one noop-sink pass
      def once(): (Double, Double) = {
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      graft.Scratch.clearSession()
      val (cold, coldCpu) = once()
      val (steady, steadyCpu) = (1 to reps).map(_ => once()).minBy(_._1)
      println(f"[probe] $name dir=$sfDir cold=$cold%.2fs (cpu $coldCpu%.1fs) " +
        f"steady=$steady%.2fs (cpu $steadyCpu%.1fs)")
    } finally graft.Scratch.clearSession()
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
