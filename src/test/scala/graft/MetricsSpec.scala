package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout
import graft.tools.Metrics

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  describe("Metrics.run") {
    it("measures partition pruning: a partition-column filter reads fewer files and bytes") { Scratch.withTempDir("metrics_spec") { scratch =>
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      Layout.writeHivePartitioned(docs, s"$scratch/by_lang", Seq("lang"))
      val full = Metrics.run(spark.read.parquet(s"$scratch/by_lang"))
      val pruned = Metrics.run(spark.read.parquet(s"$scratch/by_lang")
        .filter($"lang" === "en"))
      full.filesRead should be > 0L
      pruned.filesRead should be < full.filesRead
      pruned.bytesRead should be < full.bytesRead
    }}

    it("measures row-group skipping: a range filter over range-sorted files scans fewer rows") { Scratch.withTempDir("metrics_spec") { scratch =>
      val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
        .select($"l_orderkey", $"l_quantity")
      li.repartitionByRange(8, $"l_orderkey")
        .sortWithinPartitions($"l_orderkey")
        .write.mode("overwrite").parquet(s"$scratch/li_sorted")
      val maxKey = li.agg(max($"l_orderkey")).head().getLong(0)
      val full = Metrics.run(spark.read.parquet(s"$scratch/li_sorted"))
      val skipped = Metrics.run(spark.read.parquet(s"$scratch/li_sorted")
        .filter($"l_orderkey" < maxKey / 8))
      skipped.rowsScanned should be < full.rowsScanned
    }}

    it("measures shuffle: aggregation shuffles, a broadcast join does not") {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      val agg = Metrics.run(li.groupBy($"l_returnflag").agg(sum($"l_quantity")))
      agg.shuffleBytesWritten should be > 0L
      val n = Tables.nation(spark, "/root/testdata/sf0.001")
      val s = Tables.supplier(spark, "/root/testdata/sf0.001")
      val bj = Metrics.run(s.join(broadcast(n),
        $"s_nationkey" === $"n_nationkey"))
      bj.shuffleBytesWritten shouldBe 0L
    }

    it("exposes per-node drill-down maps") {
      val r = Metrics.run(
        Tables.nation(spark, "/root/testdata/sf0.001").groupBy($"n_regionkey").count())
      r.byNode.map(_._1).exists(_.toLowerCase.contains("scan")) shouldBe true
      r.byNode.map(_._1).exists(_.toLowerCase.contains("exchange")) shouldBe true
    }
  }
}
