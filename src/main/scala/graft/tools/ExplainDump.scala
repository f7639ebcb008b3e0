package graft.tools

import graft.SparkEntry

/** Dev-only plan auditor: prints the formatted physical plan of each
  * catalog query so scan pushdown (`PushedFilters`/`ReadSchema`),
  * broadcast-vs-shuffle join choices, and whole-stage-codegen spans can
  * be reviewed per query. Pass query names as args; no args = a core
  * sample. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local()
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_filter_project", "q08_join_inner",
        "q19_pivot", "q29_jaccard_pairs", "q33_knn_brute",
        "q73_repetition", "q77_trigram_lm", "q82_linkage_score", "q85_bucketed_join",
        "q107_incremental_dedup", "q108_domain_cap", "q113_decontaminate")
    try names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    } finally graft.Scratch.clearSession()
    spark.stop()
  }
}
