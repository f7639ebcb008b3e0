package graft.cli

import graft.sources.Readers

/** E3 batch entry point (the reference's script `__main__`s,
  * `clean_encounterids.py:293-303` / `parse_ICNARC_xml.py:77-83`): run
  * the full E1+E2 dataflow over a fixture directory and sink every
  * output table as parquet, in order: the E1 tables `philips`,
  * `icustays`, `cohort`, `mortality_rates`, `admission_types`, then
  * the E2 tables `chartevents`, `completeness`, `per_stay_stats`,
  * `freq_moments`. The session is stopped even when a stage fails.
  *
  * Usage: `sbt "runMain graft.cli.Pipeline <fixtureDir> <outDir>"`
  * (defaults to the checked-in domain fixtures and /tmp/graft-pipeline).
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("src/test/resources/domain")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val spark = graft.Sessions.local()

    try {
      val e1 = LinkagePipeline.runLinkage(spark, dir)
      val e2 = LinkagePipeline.runChartevents(spark, dir, e1("cohort"))
      (e1 ++ e2).foreach { case (name, df) =>
        Readers.writeParquet(df, s"$outDir/$name")
        println(s"[pipeline] wrote $outDir/$name")
      }
    } finally spark.stop()
  }
}
