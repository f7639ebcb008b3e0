package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Measured-IO observability: execute a frame and read back the
  * physical plan's SQLMetrics — files/bytes/rows actually scanned,
  * bytes actually shuffled, bytes actually spilled. Plan-shape asserts
  * (`PlanShapeSpec`) prove the plan LOOKS right; this proves the run
  * BEHAVED right, which is the number an operator team watches at
  * 100 TB (a pushed filter that stops pruning shows up here first, as
  * a bytes-read regression, long before it shows up in wall-clock).
  *
  * AQE-aware: the walk descends through `AdaptiveSparkPlanExec` into
  * the FINAL executed plan, into materialized query stages, and
  * through reused-exchange back-references (counting a reused exchange
  * once — its metrics live on the original node).
  */
object Metrics {

  /** Aggregated counters plus the per-node raw metric maps
    * (`(nodeName, metricName → value)`) for drill-down. */
  case class Report(
      filesRead: Long, bytesRead: Long, rowsScanned: Long,
      shuffleBytesWritten: Long, shuffleRecordsWritten: Long,
      spillBytes: Long,
      byNode: Seq[(String, Map[String, Long])]) {
    override def toString: String =
      f"Report(files=$filesRead, bytes=$bytesRead, rowsScanned=$rowsScanned, " +
        f"shuffleBytes=$shuffleBytesWritten, shuffleRecords=$shuffleRecordsWritten, " +
        f"spill=$spillBytes, nodes=${byNode.size})"
  }

  /** All physical nodes reachable from `p`, expanding AQE wrappers,
    * query stages AND expression-embedded subquery plans (a scalar/IN
    * subquery or a DPP filter does real IO that must land in the
    * report); reused exchanges/subqueries are NOT expanded (their
    * metrics belong to the original node, which the walk reaches
    * anyway). */
  def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
    case s: QueryStageExec => s +: expand(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r)
    case _ =>
      p +: (p.children ++ p.subqueries).flatMap(expand)
  }

  /** Execute `df` (count-like action — nothing corpus-sized reaches
    * the driver) and return the measured [[Report]]. */
  def run(df: DataFrame): Report = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    qe.executedPlan.execute().count(): Unit
    val nodes = expand(qe.executedPlan)
    val byNode = nodes.map { n =>
      (n.nodeName, n.metrics.map { case (k, m) => k -> m.value }.toMap)
    }
    def total(key: String, onlyScans: Boolean = false): Long =
      nodes.iterator
        .filter(n => !onlyScans || n.nodeName.toLowerCase.contains("scan"))
        .flatMap(_.metrics.get(key).map(_.value).filter(_ > 0)).sum
    Report(
      filesRead = total("numFiles"),
      bytesRead = total("filesSize"),
      rowsScanned = total("numOutputRows", onlyScans = true),
      shuffleBytesWritten = total("shuffleBytesWritten"),
      shuffleRecordsWritten = total("shuffleRecordsWritten"),
      spillBytes = total("spillSize"),
      byNode = byNode)
  }
}
