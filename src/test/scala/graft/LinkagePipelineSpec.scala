package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.cli.LinkagePipeline
import graft.operators.Validation
import graft.sources.Readers
import graft.tools.Metrics

/** Golden end-to-end test of the E1/E2 reference-parity pipelines over
  * the checked-in domain fixtures (FIXTURES.md §A): every stage's
  * behavior is pinned by hand-derivable expectations. */
class LinkagePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = getClass.getResource("/domain").getPath
  private lazy val e1 = LinkagePipeline.runLinkage(spark, dir)
  private lazy val cohort = e1("cohort")

  /** Runs `body` over a temporary copy of the fixture whose `file` is
    * rewritten by `edit`, then deletes the copy. */
  private def withFixtureCopy[T](file: String, edit: String => String)(body: String => T): T = {
    val copy = Files.createTempDirectory("graft-linkage")
    try {
      new java.io.File(dir).listFiles().foreach(f =>
        Files.copy(f.toPath, copy.resolve(f.getName)))
      val p = copy.resolve(file)
      Files.writeString(p, edit(Files.readString(p, UTF_8)), UTF_8)
      body(copy.toString)
    } finally {
      Files.walk(copy).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
  }

  describe("E1 linkage") {
    it("repairs keys, dedups fragments, and keeps the cohort unique") {
      // philips: 7 rows; footer dropped; unit 8 row (1005) filtered;
      // 9901→1004 correction merges with 1004; 1001 fragments merge.
      // The same holds for a summary export that starts with a UTF-8
      // byte-order mark, which must not reach the first column's name.
      withFixtureCopy("encounter_summary.tsv", "\uFEFF" + _) { bomDir =>
        val bomPhilips = LinkagePipeline.dedupEncounters(LinkagePipeline.cleanPhilipsEncounters(
          spark, s"$bomDir/encounter_summary.tsv", s"$bomDir/issue_list.encounterId.csv"))
        for ((input, philips) <- Seq("fixture" -> e1("philips"), "BOM copy" -> bomPhilips))
          withClue(s"$input: ") {
            Validation.isUnique(philips, Seq("encounterId")) shouldBe true
            philips.count() shouldBe 4 // 1001, 1002, 1003, 1004
            philips.filter($"encounterId" === 1001)
              .head().getAs[Double]("lengthOfStay (mins)") shouldBe 5805.0
          }
      }
    }

    it("merges the corrected 9901 stay into encounter 1004") {
      val p1004 = e1("philips").filter($"encounterId" === 1004).head()
      p1004.getAs[Double]("lengthOfStay (mins)") shouldBe (9080.0 + 2970.0)
    }

    it("links all four eligible stays to ICNARC records") {
      val icustays = e1("icustays")
      icustays.count() shouldBe 4
      // 300003's CIS id 9999 was repaired to 1003 via the WW issue list
      icustays.filter($"ICNARC number" === 300003)
        .head().getAs[Int]("encounterId") shouldBe 1003
    }

    it("derives mortality, outTime fallback, age, bmi, and gender") {
      cohort.count() shouldBe 4
      val byIcnarc = cohort.collect().map(r =>
        r.getAs[Int]("ICNARC number") -> r).toMap
      byIcnarc(300001).getAs[String]("icnarc_in_hospital_mortality") shouldBe "A"
      byIcnarc(300002).getAs[String]("icnarc_in_hospital_mortality") shouldBe "D"
      byIcnarc(300003).getAs[String]("icnarc_in_hospital_mortality") shouldBe "D"
      byIcnarc(300004).getAs[String]("icnarc_in_hospital_mortality") shouldBe null
      // 300003 has no discharge datetime → body-removed fallback
      byIcnarc(300003).getAs[java.sql.Timestamp]("icnarc_outTime") shouldBe
        java.sql.Timestamp.valueOf("2016-02-06 14:00:00")
      byIcnarc(300003).getAs[Double]("icnarc_los_mins") shouldBe 1740.0
      byIcnarc(300001).getAs[Double]("icnarc_bmi") shouldBe (25.88 +- 0.01)
      byIcnarc(300002).getAs[String]("icnarc_gender") shouldBe "Female"
      byIcnarc(300001).getAs[String]("icnarc_gender") shouldBe "Male"
    }

    it("produces the mortality rate table") {
      val rates = e1("mortality_rates").collect()
        .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
      rates shouldBe Map("A" -> 1L, "D" -> 2L, "null" -> 1L)
    }
  }

  private lazy val e2 = LinkagePipeline.runChartevents(spark, dir, cohort)

  describe("E2 chartevents") {

    it("unions both extracts and keeps all cohort events") {
      val ev = e2("chartevents")
      ev.count() shouldBe 11 // 7 ptassess + 4 labresults, all in cohort
      // string-attribute rows surface valueString; junk → null after parse
      ev.filter($"attributeId" === 16240 && $"encounterId" === 1003)
        .head().getAs[java.lang.Double]("value_num") shouldBe null
      ev.filter($"attributeId" === 8590 && $"encounterId" === 1002)
        .head().getAs[Double]("value_num") shouldBe 2.1
    }

    it("labels events through the interventions key") {
      val labels = e2("chartevents").filter($"Variable".isNotNull)
        .select($"Variable").distinct().collect().map(_.getString(0)).toSet
      labels shouldBe Set("Heart Rate", "Non-Invasive BP Mean", "FiO2",
        "Temperature", "Creatinine", "Lactate")
    }

    it("computes completeness against the cohort size") {
      val c = e2("completeness").collect()
        .map(r => r.getString(0) -> r.getAs[Double]("completeness")).toMap
      c("Heart Rate") shouldBe 0.75 // stays 1001, 1002, 1004 of 4
      c("FiO2") shouldBe 0.25
    }

    it("computes per-stay observation stats") {
      val hr1001 = e2("per_stay_stats")
        .filter($"encounterId" === 1001 && $"Variable" === "Heart Rate").head()
      hr1001.getAs[Long]("n_obs") shouldBe 2L
    }
  }

  /** File scans over `fileName` in `df`'s physical plan, looking
    * through AQE wrappers and query stages. */
  private def scansOf(df: DataFrame, fileName: String): Int =
    Metrics.expand(df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan).count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == fileName)
      case _ => false
    }

  describe("the composed runners") {
    it("list their outputs in write order") {
      e1.keys.toSeq shouldBe Seq("philips", "icustays", "cohort", "mortality_rates",
        "admission_types")
      e2.keys.toSeq shouldBe Seq("chartevents", "completeness", "per_stay_stats",
        "freq_moments")
    }

    it("run the E1 lineage once: later outputs read no E1 source file") {
      val outputs = Seq("cohort" -> cohort, "mortality_rates" -> e1("mortality_rates"),
        "admission_types" -> e1("admission_types"), "chartevents" -> e2("chartevents"))
      for ((name, df) <- outputs; file <- Seq("icnarc_cmp.xml", "encounter_summary.tsv"))
        withClue(s"$name scans $file: ") { scansOf(df, file) shouldBe 0 }
      // the walk does see file scans: E2 still reads its own extracts
      scansOf(e2("chartevents"), "chartevents.ptassess.tsv") shouldBe 1
    }

    it("read the files afresh on every call") {
      withFixtureCopy("encounter_summary.tsv", identity) { copy =>
        LinkagePipeline.runLinkage(spark, copy)("philips").count() shouldBe 4
        val tsv = java.nio.file.Paths.get(copy, "encounter_summary.tsv")
        Files.write(tsv, Files.readAllLines(tsv).asScala.filterNot(_.startsWith("1002\t")).asJava)
        LinkagePipeline.runLinkage(spark, copy)("philips").count() shouldBe 3
      }
    }
  }

  /** Jobs that `body` starts, counted by a listener over a job group of
    * its own; the listener bus is drained before the count is read. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"linkage-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "LinkagePipelineSpec job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  describe("the source reads") {
    it("build the stage frames without a job; parsing the CMP collects the dictionary once") {
      cohort // materialized outside the counted group
      jobsStarted {
        LinkagePipeline.cleanIcnarcIds(spark, s"$dir/icnarc_ids.csv", s"$dir/issue_list.ww.csv")
        LinkagePipeline.cleanPhilipsEncounters(
          spark, s"$dir/encounter_summary.tsv", s"$dir/issue_list.encounterId.csv")
        LinkagePipeline.buildChartevents(spark, dir, cohort)
      } shouldBe 0
      jobsStarted {
        LinkagePipeline.parseCmp(spark, s"$dir/icnarc_cmp.xml", s"$dir/cmp_dictionary.csv")
      } shouldBe 1
    }

    it("declare the types that inference gives the extracts") {
      import LinkagePipeline._
      for ((file, schema) <- Seq("icnarc_ids.csv" -> icnarcIdsSchema,
          "issue_list.ww.csv" -> wwIssuesSchema,
          "issue_list.encounterId.csv" -> encounterIssuesSchema,
          "cmp_dictionary.csv" -> cmpDictionarySchema,
          "interventions_key.csv" -> interventionsKeySchema))
        withClue(s"$file: ") { Readers.csv(spark, s"$dir/$file").schema shouldBe schema }
      val codes = Readers.csv(spark, s"$dir/cmp_dictionary.csv").collect().map(_.getString(0))
      Readers.xml(spark, s"$dir/icnarc_cmp.xml", rowTag = "patient").schema shouldBe
        StructType(codes.sorted.map(StructField(_, StringType)))
    }

    it("fail the linkage on a dirty CSV extract, naming the file") {
      val dirty = Seq(
        "icnarc_ids.csv" -> ((s: String) => s.replace("300001,1001,", "300001,abc,")),
        "issue_list.ww.csv" -> ((s: String) => s.replace("Corrected encID", "Corrected encounterId")))
      for ((file, edit) <- dirty) withClue(s"$file: ") {
        withFixtureCopy(file, edit) { copy =>
          val e = intercept[Exception](LinkagePipeline.runLinkage(spark, copy))
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage)).mkString("\n") should include(file)
        }
      }
    }
  }
}
