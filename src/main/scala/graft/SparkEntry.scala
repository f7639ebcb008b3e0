package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live in [[Queries]] (relational / reference
  * parity) and the graft.* operator packages they exercise.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q08JoinInner(spark, "/root/testdata/sf0.001")

  /** Full registry across catalogs (relational parity, analytic,
    * text/dedup, similarity). */
  private def catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Queries.catalog ++ QueriesAnalytic.catalog ++ QueriesText.catalog ++
      QueriesSimilarity.catalog ++ QueriesMultimodal.catalog ++
      QueriesSources.catalog ++ QueriesScale.catalog ++ QueriesStreaming.catalog ++
      QueriesSelect.catalog ++ QueriesCurate.catalog ++ QueriesPipeline.catalog

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q, _) => name -> q }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case (name, _, Some(sql)) => name -> sql }.toMap
}
