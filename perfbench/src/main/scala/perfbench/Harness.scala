package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.JString
import org.json4s.jackson.JsonMethods
import graft.cli.LinkagePipeline
import graft.operators.{KeyCorrection, Reports}
import graft.sources.Readers

/** Runs `cli.Pipeline`'s E1+E2 dataflow repeatedly over one extract
  * directory and writes raw timings and traces as JSON; every pass's
  * outputs stay on disk for `perfbench/run.py` to check and to turn
  * into metrics.
  *
  * Untraced (`--trace 0`): after the set-up (a fresh session plus one
  * pass), passes run until `--seconds` have elapsed. Unless
  * `--fixture none`, a last pass over the checked-in domain fixture
  * lets run.py check its checker.
  * Traced (`--trace 1`): after the set-up, each round runs an untraced
  * pass, the same pass under the listeners, and a staged pass whose
  * spans each wrap one call into the engine with its inputs cached.
  */
object Harness {

  /** Output writes in the order they are timed, one group per metric. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "linkage" -> Seq("philips", "icustays", "cohort", "mortality_rates", "admission_types"),
    "chartevents" -> Seq("chartevents"),
    "reports" -> Seq("completeness", "per_stay_stats", "freq_moments"))

  final case class Op(name: String, group: String, wallS: Double, cpuS: Double,
                      error: Option[(String, String)])

  final case class Pass(index: Int, kind: String, wallS: Double, ops: Seq[Op],
                        outBytes: Long, loadBefore: String, loadAfter: String, xmlScans: Long)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private def nowS: Double = System.nanoTime() / 1e9
  private def loadavg: String = Files.readString(Paths.get("/proc/loadavg")).trim

  def session(nproc: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deepest error condition in the cause chain (a task's
    * CAST_INVALID_INPUT, not the TASK_WRITE_FAILED that wraps it). */
  def errorOf(t: Throwable): (String, String) = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val cls = chain.reverse.collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(chain.last.getClass.getSimpleName)
    (cls, String.valueOf(t.getMessage).take(300))
  }

  private def attempt(body: => Unit): Option[(String, String)] =
    try { body; None } catch { case e: Exception => Some(errorOf(e)) }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(Files.size).sum

  /** One pass of the pipeline: build E1 and E2 as `cli.Pipeline` does
    * and write every output. Frame construction (eager schema and
    * header jobs) is charged to the first write of its group. With a
    * tracer, each build and write is a span under its own job group
    * and `executedPlan` is forced first, in a `plans` span. */
  def pipelinePass(spark: SparkSession, dir: String, out: String,
                   tracer: Option[Tracer]): Seq[Op] = {
    def traced[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    var frames = Map.empty[String, DataFrame]
    var buildError: Option[(String, String)] = None
    Groups.flatMap { case (group, names) =>
      val w0 = nowS; val c0 = cpuS
      group match {
        case "linkage" => buildError = attempt(traced("cli.runLinkage") {
          frames ++= LinkagePipeline.runLinkage(spark, dir) })
        case "chartevents" if buildError.isEmpty => buildError = attempt(traced("cli.runChartevents") {
          frames ++= LinkagePipeline.runChartevents(spark, dir, frames("cohort")) })
        case _ =>
      }
      var buildWall = nowS - w0; var buildCpu = cpuS - c0
      names.map { name =>
        val t0 = nowS; val u0 = cpuS
        val err = buildError.orElse(attempt(traced(s"sources.writeParquet/$name") {
          val df = frames(name)
          tracer.foreach(_.span("plans.executedPlan") {
            df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan })
          Readers.writeParquet(df, s"$out/$name")
        }))
        val op = Op(name, group, nowS - t0 + buildWall, cpuS - u0 + buildCpu, err)
        buildWall = 0; buildCpu = 0
        op
      }
    }
  }

  // ------------------------------------------------------------ staged trace

  private def cacheNow(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK); c.count(); c
  }

  /** The pipeline's calls, one span each, in `cli.Pipeline` order. Each
    * span's inputs are cached by earlier spans (the engine's cache
    * manager substitutes them inside later calls), so a span times its
    * own call. A cli span's self time still includes the eager schema
    * and header jobs of the source reads it issues itself. */
  def stagedPass(spark: SparkSession, dir: String, out: String, t: Tracer): (Long, Long) = {
    import LinkagePipeline._
    def mat(name: String)(df: => DataFrame): DataFrame = t.span(name)(cacheNow(df))
    val ww = s"$dir/issue_list.ww.csv"
    val encIssues = s"$dir/issue_list.encounterId.csv"
    val frames = mutable.LinkedHashMap.empty[String, DataFrame]
    var fragments: DataFrame = null
    t.span("E1") {
      val icnarc = t.span("cli.cleanIcnarcIds") {
        val ids = mat("sources.csv")(Readers.csv(spark, s"$dir/icnarc_ids.csv"))
        val fix = mat("sources.dimensionCsv")(Readers.dimensionCsv(spark, ww))
        mat("operators.KeyCorrection.correctVia")(KeyCorrection.correctVia(
          ids.filter(col("Unit ID") =!= 14),
          fix.select(col("ICNARC Number").as("ICNARC number"),
            col("Corrected encID").cast("int").as("corrected_cis")),
          "ICNARC number", "CIS Patient ID", "corrected_cis"))
        cacheNow(cleanIcnarcIds(spark, s"$dir/icnarc_ids.csv", ww))
      }
      fragments = t.span("cli.cleanPhilipsEncounters") {
        val enc = mat("sources.tsvWithFooter")(
          Readers.tsvWithFooter(spark, s"$dir/encounter_summary.tsv", Seq("inTime", "outTime")))
        val issues = mat("sources.dimensionCsv")(Readers.dimensionCsv(spark, encIssues))
        mat("operators.KeyCorrection.correctKeys")(KeyCorrection.correctKeys(
          enc.withColumn("encounterId", col("encounterId").cast("int"))
            .withColumn("ptCensusId", col("ptCensusId").cast("int"))
            .withColumn("age", col("age").cast("double"))
            .withColumn("lengthOfStay (mins)", col("lengthOfStay (mins)").cast("double"))
            .withColumn("clinicalUnitId", col("clinicalUnitId").cast("int"))
            .filter(col("clinicalUnitId") =!= 8),
          issues.filter(col("clinicalUnitId") =!= 8.0)
            .select(col("encounterId_CIS").as("encounterId"), col("encounterId_Adjusted").cast("int")),
          "encounterId", "encounterId_Adjusted"))
        cacheNow(cleanPhilipsEncounters(spark, s"$dir/encounter_summary.tsv", encIssues))
      }
      frames("philips") = mat("operators.Dedup.combine")(dedupEncounters(fragments))
      frames("icustays") = mat("cli.joinIcnarcToPhilips")(joinIcnarcToPhilips(icnarc, frames("philips")))
      val cmp = t.span("cli.parseCmp") {
        mat("sources.xml")(Readers.xml(spark, s"$dir/icnarc_cmp.xml", rowTag = "patient"))
        mat("sources.dimensionCsv")(Readers.dimensionCsv(spark, s"$dir/cmp_dictionary.csv"))
        cacheNow(parseCmp(spark, s"$dir/icnarc_cmp.xml", s"$dir/cmp_dictionary.csv"))
      }
      frames("cohort") = mat("cli.deriveClinical")(deriveClinical(frames("icustays"), cmp))
      frames("mortality_rates") = mat("operators.Reports.freqTable")(
        Reports.freqTable(frames("cohort"), "icnarc_in_hospital_mortality"))
      frames("admission_types") = mat("operators.Reports.freqTable")(
        Reports.freqTable(frames("cohort"), "Admission Type"))
    }
    t.span("E2") {
      t.span("cli.runChartevents") {
        val events = t.span("cli.buildChartevents") {
          val dates = Seq("chartTime", "storeTime")
          mat("sources.tsvWithFooter")(Readers.tsvWithFooter(spark, s"$dir/chartevents.ptassess.tsv", dates))
          mat("sources.tsvWithFooter")(Readers.tsvWithFooter(spark, s"$dir/chartevents.labresults.tsv", dates))
          mat("sources.dimensionCsv")(Readers.dimensionCsv(spark, s"$dir/interventions_key.csv"))
          cacheNow(buildChartevents(spark, dir, frames("cohort")))
        }
        frames("chartevents") = events
        mat("operators.Reports.completeness")(Reports.completeness(
          events.filter(col("Variable").isNotNull), "Variable", "encounterId"))
        val e2 = runChartevents(spark, dir, frames("cohort"))
        Seq("completeness", "per_stay_stats", "freq_moments").foreach(k => frames(k) = cacheNow(e2(k)))
      }
    }
    t.span("sinks") {
      frames.foreach { case (name, df) =>
        t.span("sources.writeParquet")(Readers.writeParquet(df, s"$out/$name")) }
    }
    val dedupRows = (fragments.count(), frames("philips").count())
    spark.catalog.clearCache()
    dedupRows
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val out = a("out")
    val passes = mutable.ArrayBuffer.empty[Pass]

    /** One pipeline pass, written to `out/p<index>` for run.py's checks. */
    def runPass(spark: SparkSession, kind: String, dir: String,
                tracer: Option[Tracer] = None, scans: Option[ScanCounter] = None): Pass = {
      val before = loadavg
      val scans0 = scans.map(_.scans)
      val dest = s"$out/p${passes.size}"
      val w0 = nowS
      val ops = tracer.fold(pipelinePass(spark, dir, dest, None))(t =>
        t.span("pass.traced")(pipelinePass(spark, dir, dest, Some(t))))
      val wall = nowS - w0
      val xml = scans.map { s => org.apache.spark.ListenerBusDrain(spark.sparkContext); s.scans - scans0.get }
      val p = Pass(passes.size, kind, wall, ops, dirBytes(Paths.get(dest)), before, loadavg,
        xml.getOrElse(-1L))
      passes += p
      System.err.println(f"[perfbench] pass ${p.index} ${p.kind} ${p.wallS}%.2fs " +
        Groups.map { case (g, _) => f"$g=${ops.filter(_.group == g).map(_.wallS).sum}%.2fs" }
          .mkString(" ") + s" failed=${ops.count(_.error.isDefined)}")
      p
    }

    // Set-up: the session as cli.Pipeline builds it, plus the first
    // pass, which carries the cold codegen and JIT cost.
    val s0 = nowS
    val spark = session(a("nproc").toInt, a("local-dir"))
    val setupS = nowS - s0 + runPass(spark, "setup", a("data")).wallS

    val spans = mutable.ArrayBuffer.empty[(Span, Counters)]
    var dedupRows = (-1L, -1L)
    val start = nowS
    val minRounds = a("min-passes").toInt
    if (a("trace") == "0") {
      while (passes.count(_.kind == "measure") < minRounds || nowS - start < seconds)
        runPass(spark, "measure", a("data"))
    } else {
      val sc = spark.sparkContext
      val listener = new GroupListener
      val scans = new ScanCounter("icnarc_cmp.xml")
      val tracer = new Tracer(sc, a("run-id"))
      val qel = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      var rounds = 0
      while (rounds < minRounds || nowS - start < seconds) {
        runPass(spark, "untraced", a("data"))
        sc.addSparkListener(listener); qel.register(scans)
        tracer.pass = passes.size
        runPass(spark, "traced", a("data"), Some(tracer), Some(scans))
        dedupRows = tracer.span("pass.staged")(stagedPass(spark, a("data"), s"$out/staged", tracer))
        sc.removeSparkListener(listener); qel.unregister(scans)
        rounds += 1
      }
      tracer.spans.foreach(s => spans += s -> listener.total(sc)(_ == tracer.group(s.id)))
    }
    if (a("fixture") != "none") runPass(spark, "fixture", a("fixture"))
    val version = spark.version
    spark.stop()

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    writeResults(Paths.get(a("results")), a, version, hwmKb / 1024.0, setupS, passes.toSeq,
      spans.toSeq, dedupRows)
  }

  // ------------------------------------------------------------ results

  private def js(s: String): String = JsonMethods.compact(JString(s))
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def writeResults(path: Path, a: Map[String, String], sparkVersion: String, rssMb: Double,
                   setupS: Double, passes: Seq[Pass], spans: Seq[(Span, Counters)],
                   dedupRows: (Long, Long)): Unit = {
    def op(o: Op): String = Seq(
      s""""name":${js(o.name)}""", s""""group":${js(o.group)}""",
      s""""wall_s":${num(o.wallS)}""", s""""cpu_s":${num(o.cpuS)}""",
      s""""error_class":${o.error.map(e => js(e._1)).getOrElse("null")}""",
      s""""error":${o.error.map(e => js(e._2)).getOrElse("null")}""",
      s""""check":null""", s""""hash":null""").mkString("{", ",", "}")
    def pass(p: Pass): String = Seq(
      s""""index":${p.index}""", s""""kind":${js(p.kind)}""", s""""wall_s":${num(p.wallS)}""",
      s""""out_bytes":${p.outBytes}""", s""""xml_scans":${p.xmlScans}""",
      s""""loadavg_before":${js(p.loadBefore)}""", s""""loadavg_after":${js(p.loadAfter)}""",
      s""""ops":${p.ops.map(op).mkString("[", ",", "]")}""").mkString("{", ",", "}")
    def span(s: Span, c: Counters): String = (Seq(
      s""""id":${s.id}""", s""""name":${js(s.name)}""", s""""parent":${s.parent}""",
      s""""pass":${s.pass}""", s""""run_id":${js(a("run-id"))}""",
      s""""start_ns":${s.startNs}""", s""""end_ns":${s.endNs}""") ++
      c.fields.map { case (k, v) => s""""$k":${num(v)}""" }).mkString("{", ",", "}")
    val body = Seq(
      s""""run_id":${js(a("run-id"))}""",
      s""""jvm":${js(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))}""",
      s""""spark":${js(sparkVersion)}""",
      s""""peak_rss_mb":${num(rssMb)}""",
      s""""dedup_rows":[${dedupRows._1},${dedupRows._2}]""",
      s""""setup_s":${num(setupS)}""",
      s""""passes":${passes.map(pass).mkString("[", ",", "]")}""",
      s""""spans":${spans.map { case (s, c) => span(s, c) }.mkString("[", ",", "]")}""")
    Files.writeString(path, body.mkString("{", ",", "}"))
  }
}
