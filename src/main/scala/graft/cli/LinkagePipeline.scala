package graft.cli

import scala.collection.immutable.SeqMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.Derivations
import graft.operators._
import graft.sources.Readers

/** End-to-end reference-parity pipelines (SURVEY.md §3 E1/E2): the full
  * ICU record-linkage dataflow re-expressed as lazy, separately-testable
  * `DataFrame => DataFrame` stages. Report emission (the reference's
  * matplotlib cells) stays out of the engine — report *tables* are the
  * outputs.
  *
  * E1 (linkage): scan → filter bad units → repair known-bad keys
  * (broadcast join + coalesce) → dedup stay fragments (one hash agg) →
  * inner join link table → XML CMP scan + dictionary rename → composite
  * join → clinical derivations → report tables + validation.
  *
  * E2 (chartevents): two EAV extracts → UNION ALL → cohort restriction
  * (right join) → typed value coalesce + lenient parse → variable
  * harmonisation (broadcast composite join) → completeness / per-stay
  * stats / frequency reports.
  *
  * Every join against a curated dimension is an explicit broadcast; the
  * only shuffles are the dedup groupBy, the linkage joins' key
  * exchanges, and the report aggregations — all keyed on the stay id,
  * so at cluster scale the stages between them stay co-partitioned.
  *
  * The stages stay lazy. The composed E1 runner [[runLinkage]]
  * materializes the three frames that several outputs read (`philips`,
  * `icustays`, `cohort`) once per call with an eager local checkpoint,
  * so the nine E1+E2 outputs share one run of the E1 lineage instead
  * of re-running it per write. It is not `cache()`: the cache manager
  * matches plans by file root path, so a later call over the same
  * directory would be served the earlier call's data after the files
  * changed, and nothing would unpersist the blocks. A local checkpoint
  * is a fresh RDD per call, freed by the context cleaner once its
  * frames are dropped. On a cluster its blocks live on the executors
  * without replication: losing an executor fails the job instead of
  * recomputing the lost partitions.
  *
  * Every extract is read with a declared schema (SURVEY §1.2), each
  * declared next to the stage that reads it with the types inference
  * gave the extracts: building a stage's frame starts no inference or
  * header job, and a dirty CSV (a renamed header column, a value of the
  * wrong type) fails its read, naming the file, instead of binding by
  * position or turning into a dropped null.
  */
object LinkagePipeline {

  /** String-valued EAV attributes (value lives in `valueString`) —
    * reference list at `dataset_curation.ipynb:cell 51`. */
  val stringAttributeIds: Seq[Int] = Seq(16240, 6847, 6849, 6851, 8590, 34870,
    34873, 8584, 3566, 25545)

  // ------------------------------------------------------------ E1 stages

  /** `icnarc_ids.csv`, the ICNARC link table. */
  val icnarcIdsSchema: StructType = StructType.fromDDL("`ICNARC number` INT, " +
    "`CIS Patient ID` INT, `CIS Episode ID` INT, `Unit ID` INT, `Key` STRING, " +
    "`Readmission during this hospital stay` STRING")

  /** `issue_list.ww.csv`, the WW list of wrong CIS ids. */
  val wwIssuesSchema: StructType =
    StructType.fromDDL("`ICNARC Number` INT, `Corrected encID` INT, `Unit ID` INT")

  /** ICNARC link table: CSV scan, drop cardiac unit, repair CIS ids via
    * the WW issue list, drop rows with no CIS id, take the CIS id as
    * the join key (`clean_encounterids.py:31-53`). */
  def cleanIcnarcIds(spark: SparkSession, idsCsv: String, wwIssuesCsv: String): DataFrame = {
    val ids = Readers.csv(spark, idsCsv, icnarcIdsSchema).filter(col("Unit ID") =!= 14)
    val ww = Readers.csv(spark, wwIssuesCsv, wwIssuesSchema)
      .select(col("ICNARC Number").as("ICNARC number"),
        col("Corrected encID").cast("int").as("corrected_cis"))
    KeyCorrection.correctVia(ids, ww, "ICNARC number", "CIS Patient ID", "corrected_cis")
      .na.drop(Seq("CIS Patient ID"))
      .withColumn("encounterId", col("CIS Patient ID").cast("int"))
  }

  /** `issue_list.encounterId.csv`, the encounterId remap list. */
  val encounterIssuesSchema: StructType = StructType.fromDDL("encounterId_CIS INT, " +
    "encounterId_Adjusted INT, clinicalUnitId DOUBLE, Explanation STRING")

  /** Philips encounters: footer-tolerant TSV scan, drop cardiac unit,
    * repair encounterIds via the issue list (+ error-type column),
    * (`clean_encounterids.py:55-84`). */
  def cleanPhilipsEncounters(spark: SparkSession, tsv: String, issuesCsv: String): DataFrame = {
    val enc = Readers.tsvWithFooter(spark, tsv, Seq("inTime", "outTime"))
      .withColumn("encounterId", col("encounterId").cast("int"))
      .withColumn("ptCensusId", col("ptCensusId").cast("int"))
      .withColumn("age", col("age").cast("double"))
      .withColumn("lengthOfStay (mins)", col("lengthOfStay (mins)").cast("double"))
      .withColumn("clinicalUnitId", col("clinicalUnitId").cast("int"))
      .filter(col("clinicalUnitId") =!= 8)
    val issues = Readers.csv(spark, issuesCsv, encounterIssuesSchema)
      .filter(col("clinicalUnitId") =!= 8.0)
      .select(col("encounterId_CIS").as("encounterId"),
        col("encounterId_Adjusted").cast("int"),
        KeyCorrection.fillDefault(col("Explanation"), "NA").as("error_type"))
    val errTypes = issues
      .select(col("encounterId").as("encounterId_original"), col("error_type"))
      .groupBy(col("encounterId_original"))
      .agg(min(col("error_type")).as("error_type"))
    KeyCorrection.correctKeys(enc, issues.drop("error_type"),
        "encounterId", "encounterId_Adjusted")
      .join(broadcast(errTypes), Seq("encounterId_original"), "left")
      .withColumn("error_type", KeyCorrection.fillDefault(col("error_type"), "NA"))
      .drop("clinicalUnitId")
  }

  /** Dedup stay fragments into one row per encounter — the reference's
    * `combine_non_unique_philips_encounters(combine='simple')`
    * (`clean_encounterids.py:129-158`); key uniqueness is the
    * post-condition (checked in the spec via Validation). */
  def dedupEncounters(philips: DataFrame): DataFrame =
    Dedup.combine(philips, Seq("encounterId"), Seq(
      Dedup.firstBy(col("ptCensusId"), col("inTime")).as("ptCensusId"),
      min(col("age")).as("age"),
      min(col("inTime")).as("inTime"),
      max(col("outTime")).as("outTime"),
      Dedup.firstBy(col("tNumber"), col("inTime")).as("tNumber"),
      sum(col("lengthOfStay (mins)")).as("lengthOfStay (mins)"),
      min(when(col("gender").isNotNull, col("gender"))).as("gender"),
      Dedup.firstNonDefault(col("error_type"), "NA").as("error_type")))

  /** J3: link Philips stays to ICNARC records on the repaired key. */
  def joinIcnarcToPhilips(icnarc: DataFrame, philips: DataFrame): DataFrame =
    philips.join(icnarc.drop("Key"), Seq("encounterId"), "inner")

  /** `cmp_dictionary.csv`: each CMP element code and its readable name. */
  val cmpDictionarySchema: StructType = StructType.fromDDL("CODE STRING, Description STRING")

  /** S4 + §1.3: CMP XML scan, dictionary-driven rename, unit recode
    * (`parse_ICNARC_xml.py:22-75`). Starts one job, the collect of the
    * dimension-scale dictionary, which gives both the XML read schema
    * (one string column per code, sorted by code, the order inference
    * gave) and the rename. As in the reference's dictionary-driven
    * parse (`parse_ICNARC_xml.py:51-62`), a dictionary code that no
    * record has reads as an all-null column, not a missing one, and an
    * element that is not in the dictionary is not read. */
  def parseCmp(spark: SparkSession, xmlPath: String, dictionaryCsv: String): DataFrame = {
    val names = Readers.csv(spark, dictionaryCsv, cmpDictionarySchema).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val wide = Readers.xml(spark, xmlPath, rowTag = "patient",
      StructType(names.keys.toSeq.sorted.map(StructField(_, StringType))))
    // "ICNARC Number" → "ICNARC number" (link-table spelling): via a
    // temp name because Spark's case-insensitive resolution would make
    // withColumn("ICNARC number", ...) overwrite-then-drop the source
    Readers.renameByDictionary(wide, names)
      .withColumn("Unit ID",
        when(col("ICNARC CMP Number") === "H91", 1).otherwise(14))
      .withColumn("icnarc_no_tmp", col("ICNARC Number").cast("int"))
      .drop("ICNARC Number")
      .withColumnRenamed("icnarc_no_tmp", "ICNARC number")
  }

  /** J4 composite join + clinical derivations (F1-F10, P9):
    * datetime assembly, outTime fallback, 3-way mortality coalesce,
    * age / LOS / BMI, gender recode. */
  def deriveClinical(icustays: DataFrame, cmp: DataFrame): DataFrame = {
    val joined = icustays.join(cmp, Seq("ICNARC number", "Unit ID"), "inner")
    val admission = Derivations.combineDateTime(
      col("Date of admission to your unit"), col("Time of admission to your unit"))
    val discharge = Derivations.combineDateTime(
      col("Date of discharge from your unit"), col("Time of discharge from your unit"))
    val bodyRemoved = Derivations.combineDateTime(
      col("Date of body removed"), col("Time of body removed"))
    joined
      .withColumn("icnarc_admission", admission)
      .withColumn("icnarc_outTime", coalesce(discharge, bodyRemoved))
      .withColumn("icnarc_in_hospital_mortality", KeyCorrection.threeWayCoalesce(
        col("Status at ultimate discharge from hospital"),
        col("Status at discharge from your hospital"),
        col("Status at discharge from your unit")))
      .withColumn("icnarc_age", round(Derivations.ageYears(
        to_timestamp(col("Date of Birth"), "yyyy-MM-dd"), col("icnarc_admission")), 2))
      .withColumn("icnarc_los_mins",
        Derivations.spanMinutes(col("icnarc_admission"), col("icnarc_outTime")))
      .withColumn("icnarc_bmi",
        round(Derivations.bmi(col("Weight in kg"), col("Height in cm")), 2))
      .withColumn("icnarc_gender",
        when(col("Sex") === "F", "Female").otherwise("Male"))
  }

  /** E1 composed: returns the linked cohort plus report tables, in
    * output order.
    *
    * `philips`, `icustays` and `cohort` are each read by more than one
    * output, so each is materialized here by an eager
    * `localCheckpoint()` and the later frames build on the
    * materialized ones: the E1 lineage runs once per call, before any
    * write, and each call reads the files afresh. The object doc says
    * why this is not `cache()` and gives the cluster caveat. */
  def runLinkage(spark: SparkSession, dir: String): SeqMap[String, DataFrame] = {
    val icnarc = cleanIcnarcIds(spark, s"$dir/icnarc_ids.csv", s"$dir/issue_list.ww.csv")
    val philips = dedupEncounters(cleanPhilipsEncounters(
      spark, s"$dir/encounter_summary.tsv", s"$dir/issue_list.encounterId.csv"))
      .localCheckpoint()
    val icustays = joinIcnarcToPhilips(icnarc, philips).localCheckpoint()
    val cmp = parseCmp(spark, s"$dir/icnarc_cmp.xml", s"$dir/cmp_dictionary.csv")
    val cohort = deriveClinical(icustays, cmp).localCheckpoint()
    SeqMap(
      "philips" -> philips,
      "icustays" -> icustays,
      "cohort" -> cohort,
      "mortality_rates" -> Reports.freqTable(cohort, "icnarc_in_hospital_mortality"),
      "admission_types" -> Reports.freqTable(cohort, "Admission Type"))
  }

  // ------------------------------------------------------------ E2 stages

  /** `interventions_key.csv`: the variable each (intervention,
    * attribute) pair charts. */
  val interventionsKeySchema: StructType = StructType.fromDDL("Variable STRING, " +
    "`Intervention name (longLabel)` STRING, interventionId INT, " +
    "`Attribute name (shortLabel)` STRING, attributeId INT, " +
    "`Back end location (ICCA table)` STRING, `Frontend Source` STRING")

  /** Chartevents: U1 union of the two EAV extracts, J5 cohort
    * restriction, P8 typed value coalesce + P12 lenient parse, J6
    * variable harmonisation (`ipynb:cells 44-54`). */
  def buildChartevents(spark: SparkSession, dir: String, cohortIds: DataFrame): DataFrame = {
    val dateCols = Seq("chartTime", "storeTime")
    def scan(p: String) = Readers.tsvWithFooter(spark, p, dateCols)
      .withColumn("encounterId", col("encounterId").cast("int"))
      .withColumn("interventionId", col("interventionId").cast("int"))
      .withColumn("attributeId", col("attributeId").cast("int"))
      .withColumn("valueNumber", col("valueNumber").cast("double"))
    val events = scan(s"$dir/chartevents.ptassess.tsv")
      .unionByName(scan(s"$dir/chartevents.labresults.tsv"))
    val key = Readers.csv(spark, s"$dir/interventions_key.csv", interventionsKeySchema)
      .select(col("interventionId"), col("attributeId"), col("Variable"))
    events
      .join(cohortIds.select(col("encounterId")), Seq("encounterId"), "right")
      .withColumn("value", Derivations.eavValue(col("attributeId"), stringAttributeIds,
        col("valueString"), col("valueNumber")))
      .withColumn("value_num", Derivations.lenientDouble(col("value")))
      .join(broadcast(key), Seq("interventionId", "attributeId"), "left")
  }

  /** E2 composed: labeled chartevents plus the analysis report tables
    * (A6 completeness, A7 per-stay stats, A8 frequency moments), in
    * output order. */
  def runChartevents(spark: SparkSession, dir: String,
                     cohort: DataFrame): SeqMap[String, DataFrame] = {
    val events = buildChartevents(spark, dir, cohort)
    val perStay = events.filter(col("Variable").isNotNull)
      .groupBy(col("encounterId"), col("Variable"))
      .agg(count(lit(1)).as("n_obs"),
        min(col("chartTime")).as("first_obs"),
        max(col("chartTime")).as("last_obs"))
    val losRef = cohort.select(col("encounterId"), col("icnarc_los_mins"))
    val freq = perStay.join(losRef, Seq("encounterId"))
      .withColumn("obs_per_day",
        col("n_obs") / Derivations.minutesToDays(col("icnarc_los_mins")))
    val freqMoments = freq.groupBy(col("Variable"))
      .agg(round(avg(col("obs_per_day")), 4).as("freq_mean"),
        round(stddev_samp(col("obs_per_day")), 4).as("freq_std"))
    SeqMap(
      "chartevents" -> events,
      "completeness" -> Reports.completeness(
        events.filter(col("Variable").isNotNull), "Variable", "encounterId")
        .crossJoin(broadcast(cohort.select(countDistinct(col("encounterId")).as("n_cohort"))))
        .withColumn("completeness",
          round(col("n_entities") / col("n_cohort"), 4)).drop("n_cohort"),
      "per_stay_stats" -> perStay,
      "freq_moments" -> freqMoments)
  }
}
