package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name subset (dev loop —
    // the driver always runs the full catalog)
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String) = only.forall(_.contains(name))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    try SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    } finally Scratch.clearSession() // leave no session dir behind
    // MERGE-ON-WRITE: a subset re-run (dev loop, sf1.0 spot-fix) must
    // not clobber the full catalog's oracle dump — check_oracle_big.py
    // replays this file, so entries for queries not in this run are
    // preserved and only the selected names are (re)written.
    val dumpPath = Paths.get(s"$outDir/oracle_sql.json")
    val existing: Map[String, String] =
      if (only.isDefined && Files.exists(dumpPath)) {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(Files.readString(dumpPath)) match {
          case JObject(fields) =>
            fields.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty
        }
      } else Map.empty
    // Drop merged-in keys no longer in the catalog: check_oracle_big.py
    // replays every dump entry, so a retired/renamed query's stale SQL
    // would keep being certified against its stale parquet forever.
    // ONLY on full-catalog runs (or with GRAFT_VERIFY_DROP_STALE=1): a
    // subset run from a build where a query is temporarily disabled or
    // renamed must not permanently discard its certified oracle SQL —
    // the full sweep is the authority on catalog membership.
    val dropStale = only.isEmpty ||
      sys.env.get("GRAFT_VERIFY_DROP_STALE").contains("1")
    val stale =
      if (dropStale) existing.keySet -- SparkEntry.oracleSql.keySet
      else {
        val gone = existing.keySet -- SparkEntry.oracleSql.keySet
        // A stale key the caller EXPLICITLY NAMED in the subset is
        // dropped even on a subset run: the caller asked about exactly
        // this query, so the catalog's silence on it is authoritative
        // (retired/renamed), not a temporarily-disabled build.
        val named = gone.intersect(only.get)
        val kept = gone -- named
        if (kept.nonEmpty) System.err.println(
          s"[verify] ${kept.size} dump entries are absent from this " +
            "build's catalog but PRESERVED (subset run; set " +
            "GRAFT_VERIFY_DROP_STALE=1 to drop): " +
            kept.toSeq.sorted.mkString(", "))
        named
      }
    if (stale.nonEmpty) System.err.println(
      s"[verify] dropping ${stale.size} stale oracle entries not in the " +
        s"current catalog: ${stale.toSeq.sorted.mkString(", ")}")
    val merged = (existing -- stale) ++
      SparkEntry.oracleSql.filter(q => selected(q._1))
    val json = merged.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${JsonEscape.str(k)}: ${JsonEscape.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(dumpPath, json)
    spark.stop()
  }
}
