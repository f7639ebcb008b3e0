package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Shared SparkSession for all suites — one JVM-wide session keeps the
  * test run fast (session startup dominates otherwise). It is a
  * production [[Sessions.local]] session on 4 cores (a small shuffle
  * width for the tiny test inputs) with a temporary warehouse dir.
  */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4,
    Some(java.nio.file.Files.createTempDirectory("graft-wh").toString))
}

trait SparkSpec extends AnyFunSpec with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Collect to a sorted Seq of row-value lists for order-insensitive
    * comparison. */
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** The StoreDoctor invariant: after a lifecycle spec's mutation
    * sequence settles (every crash repaired, every retry committed),
    * the relevant family audit must report zero `error` findings —
    * warn/info states (retained history, tombstone weight, torn
    * leftovers the next commit sweeps) are legitimate mid-lifecycle. */
  def assertCleanAudit(findings: Seq[graft.tools.StoreDoctor.Finding]): Unit = {
    val errs = findings.filter(_.severity == "error")
    withClue(errs.map(f => s"${f.store} [${f.kind}]: ${f.detail}")
        .mkString("audit errors:\n", "\n", "\n")) {
      errs shouldBe empty
    }
  }
}
