package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source/sink layer (SURVEY.md §2.1 S1-S7).
  *
  * Scan-level concerns live here so pipelines stay declarative:
  *  - S1 `csv`: comma CSV with a header. The pipelines pass a declared
  *    schema: no inference or header job runs when the frame is built,
  *    and a header that does not name the schema's columns in order,
  *    or a value that does not parse as its declared type, fails the
  *    read with the file's name. The schema-less overload infers types
  *    (one header job plus one full scan per call);
  *  - S2 `tsvWithFooter`: tab-separated SQL-Server `.rpt`-style export
  *    whose trailing "(N rows affected)" footer the reference deletes
  *    by hand (`clean_encounterids.py:17-19`). Its all-string schema
  *    comes from the header line, read on the driver through the
  *    Hadoop `FileSystem` (no Spark job). DROPMALFORMED drops the
  *    footer, but only when the query reads every column: footer
  *    lines then have the wrong token count and are dropped at parse
  *    time. Under CSV column pruning the parser sees only the required
  *    columns, so each footer line is padded with nulls instead of
  *    dropped, and its text reaches the callers' casts through the
  *    file's first column (an `int` cast of it fails with
  *    CAST_INVALID_INPUT) — a known open defect;
  *  - S3 `dimensionCsv` / `dimensionXlsx`: small lookup workbooks,
  *    either pre-converted to CSV or read directly from `.xlsx` (JDK
  *    zip + StAX, no library dependency — see [[Xlsx]]), always
  *    broadcast-sized;
  *  - S4 `xml`: Spark 4's built-in XML source (`rowTag`), replacing the
  *    reference's ElementTree parser (`parse_ICNARC_xml.py:22-64`).
  *    Given a schema it reads the declared elements without a scan to
  *    discover them; without one it scans the file for element names;
  *  - S5/S6 sinks: parquet is the engine default (splittable, columnar,
  *    statistics for pushdown).
  * JDBC (S7) is `spark.read.jdbc` — nothing to wrap.
  */
object Readers {

  /** S1: comma CSV with header + inferred schema: one header job and
    * one full scan each time the frame is built. */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S1/S3: comma CSV with header, read with a declared `schema`.
    * Building the frame starts no job. The read fails, naming the
    * file, when the header does not name the schema's columns in order
    * (`enforceSchema=false`, matched case-insensitively) or when a read
    * value does not parse as its declared type (FAILFAST): neither a
    * renamed column nor a bad value can bind by position or turn into
    * a null that a later `na.drop` would silently discard. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("enforceSchema", "false").option("mode", "FAILFAST")
      .csv(path)

  /** S2: tab-separated export with possible non-tabular footer garbage.
    * Read with an all-string schema taken from the header line of the
    * one plain-text file at `path`, which is read on the driver through
    * the Hadoop `FileSystem` (no Spark job; a leading UTF-8 byte-order
    * mark is dropped, as Spark's line reader drops it) +
    * DROPMALFORMED; then cast the declared timestamp columns with a
    * pinned format (SURVEY §7.4#3 — never inference). The short footer
    * rows vanish only when every column is read: a query that prunes
    * columns gets each footer line as an extra row, with the footer
    * text in the file's first column and nulls elsewhere (see the S2
    * note on [[Readers]]). */
  def tsvWithFooter(spark: SparkSession, path: String, dateCols: Seq[String],
                    fmt: String = "yyyy-MM-dd HH:mm:ss"): DataFrame = {
    val schema = StructType(headerLine(spark, path).split("\t").map(c =>
      StructField(c, StringType, nullable = true)))
    val raw = spark.read
      .option("header", "true").option("sep", "\t").option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)
    dateCols.foldLeft(raw)((df, c) => df.withColumn(c, to_timestamp(col(c), fmt)))
  }

  /** First line of the text file at `path`, without a leading UTF-8
    * byte-order mark. */
  private def headerLine(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = new BufferedReader(new InputStreamReader(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), StandardCharsets.UTF_8))
    try {
      val line = in.readLine()
      if (line == null) throw new IllegalArgumentException(s"no header line in $path")
      line.stripPrefix("\uFEFF")
    } finally in.close()
  }

  /** S3: dimension-table CSV (converted from xlsx at ingest). Small by
    * contract — callers broadcast it into joins. */
  def dimensionCsv(spark: SparkSession, path: String): DataFrame =
    csv(spark, path)

  /** S3: direct sheet-addressed `.xlsx` ingest (the reference's
    * `pd.read_excel(…, sheet_name=…)` — `clean_encounterids.py:40,67`,
    * `parse_ICNARC_xml.py:53`). Same broadcast-sized dimension contract
    * and the same schema a pre-converted CSV would get; see [[Xlsx]]. */
  def dimensionXlsx(spark: SparkSession, path: String, sheet: String): DataFrame =
    Xlsx.readSheet(spark, path, sheet)

  /** S4: XML scan via the built-in Spark 4 source. One row per
    * `rowTag` element; absent child elements → null columns (the
    * reference's NaN-for-missing contract, `parse_ICNARC_xml.py:15-16`).
    * Schema inference is off — CMP values are "all stored as strings"
    * (`parse_ICNARC_xml.py:8-9`) and inference would mangle time-only
    * fields into timestamps anchored at the read date — but the source
    * still scans the whole file for the element names, one string
    * column each, sorted by name. */
  def xml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag).option("inferSchema", "false")
      .load(path)

  /** S4 with a declared `schema`: no scan to discover the elements.
    * A declared element that no record has reads as an all-null
    * column, not a missing one; an element the schema does not declare
    * is not read. */
  def xml(spark: SparkSession, path: String, rowTag: String, schema: StructType): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).schema(schema).load(path)

  /** §1.3 metadata-driven rename: map opaque source codes to readable
    * names with a code → name `mapping` (the caller collects the
    * dimension-scale dictionary once; the *data* never moves). One
    * projection keeps the column order; a column with no entry keeps
    * its name. */
  def renameByDictionary(df: DataFrame, mapping: Map[String, String]): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      val ref = col("`" + c.replace("`", "``") + "`")
      mapping.get(c).fold(ref)(ref.as(_))
    }: _*)

  /** S4/§7.3: EAV long→wide pivot with an EXPLICIT code list (the
    * reference's 205-column CMP table): supplying the pivot values from
    * the data dictionary keeps this a single pass — Spark never runs
    * the extra distinct-values discovery job, and the output schema is
    * stable regardless of which codes happen to appear in a batch.
    * `min(value)` (not `first`) so the wide cell is deterministic if a
    * (entity, code) pair ever duplicates. */
  def pivotEav(df: DataFrame, entityCol: String, codeCol: String,
               valueCol: String, codes: Seq[String]): DataFrame =
    df.groupBy(col(entityCol))
      .pivot(codeCol, codes)
      .agg(min(col(valueCol)))

  /** S5/S6: engine-default sink (splittable columnar checkpoint). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** JSONL (line-delimited JSON) sink — the interchange format of
    * training-data pipelines. Splittable: one JSON document per line. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL source with a CALLER-SUPPLIED schema — same no-inference
    * policy as [[xml]]: schema inference samples the data, so two runs
    * over different partitions could disagree on types. */
  def jsonl(spark: SparkSession, path: String,
            schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC round-trip (columnar alternative to parquet; same pushdown and
    * pruning behavior through the DSv2 scan). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S7: partitioned JDBC read — the shape that matters at scale: the
    * table splits into `numPartitions` range queries on `partitionCol`
    * (each executor pulls its own slice concurrently), never one giant
    * single-connection result set. Bounds come from the caller (or a
    * cheap min/max probe); rows outside them are still read — bounds
    * control the split, not a filter. */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionCol: String, lower: Long, upper: Long, numPartitions: Int,
           props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions, props)

  /** S7 sink: full-table JDBC write (overwrite = drop-and-recreate). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties = new java.util.Properties): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)
}
