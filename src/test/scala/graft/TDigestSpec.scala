package graft

import graft.functions.TDigest

/** Error-bound and lifecycle pins for the mergeable t-digest
  * ([[graft.functions.TDigest]]). The q153 gate hashes rank-error flags
  * at a generous ±0.05 margin; this suite pins the much tighter bound
  * the flags rest on, and that the bound SURVIVES arbitrary merge
  * orders and the persist→reload→re-merge lifecycle — the properties
  * that make the flag gate deterministic in practice.
  */
class TDigestSpec extends SparkSpec {
  import spark.implicits._

  /** Empirical rank of `v` in `xs`: fraction ≤ v. */
  private def rankOf(xs: Seq[Double], v: Double): Double =
    xs.count(_ <= v).toDouble / xs.size

  // deterministic pseudo-data: md5-driven uniform + a heavy skew lane
  private def pseudo(n: Int, tag: String): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until n).map { i =>
      val d = md.digest(s"$tag:$i".getBytes("UTF-8"))
      val u = ((d(0) & 0xffL) << 16 | (d(1) & 0xffL) << 8 | (d(2) & 0xffL))
        .toDouble / (1 << 24)
      u
    }
  }

  describe("TDigest core") {
    it("keeps rank error well inside the q153 flag margin on uniform data") {
      val xs = pseudo(20000, "uni")
      val d = TDigest.compress(xs.map(x => TDigest.Cent(x, 1.0)), 200.0)
      for (q <- Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)) {
        val est = TDigest.quantile(d, q)
        math.abs(rankOf(xs, est) - q) should be < 0.012
      }
    }

    it("keeps the bound on heavily skewed data") {
      val xs = pseudo(20000, "skew").map(u => math.pow(10, 6 * u)) // log-uniform 1..1e6
      val d = TDigest.compress(xs.map(x => TDigest.Cent(x, 1.0)), 200.0)
      for (q <- Seq(0.5, 0.95, 0.99)) {
        val est = TDigest.quantile(d, q)
        math.abs(rankOf(xs, est) - q) should be < 0.012
      }
    }

    it("bound survives ANY merge order (split + permuted re-merge)") {
      val xs = pseudo(12000, "merge")
      val parts = xs.grouped(500).toSeq.map(p =>
        TDigest.compress(p.map(x => TDigest.Cent(x, 1.0)), 200.0))
      // re-merge in reversed and interleaved orders; both must hold the bound
      for (order <- Seq(parts.reverse, parts.indices.sortBy(i => i % 7).map(parts))) {
        val merged = order.reduce((a, b) =>
          TDigest.compress(a.centroids ++ b.centroids, 200.0))
        merged.n shouldBe 12000.0 +- 1e-9
        for (q <- Seq(0.5, 0.95, 0.99))
          math.abs(rankOf(xs, TDigest.quantile(merged, q)) - q) should be < 0.02
      }
    }

    it("centroid count is hard-bounded by the k1 range (~δ/2), never corpus-sized") {
      val xs = pseudo(50000, "size")
      val d = TDigest.compress(xs.map(x => TDigest.Cent(x, 1.0)), 200.0)
      d.centroids.length should be < 110
    }

    it("edge cases: empty, single value, constant column") {
      TDigest.quantile(TDigest.empty, 0.5).isNaN shouldBe true
      val one = TDigest.compress(Seq(TDigest.Cent(7.0, 1.0)), 200.0)
      TDigest.quantile(one, 0.99) shouldBe 7.0
      val const = TDigest.compress(Seq.fill(1000)(TDigest.Cent(3.0, 1.0)), 200.0)
      TDigest.quantile(const, 0.5) shouldBe 3.0
    }
  }

  describe("weighted digest") {
    it("answers mass quantiles, not row quantiles") {
      // values 1..100, weight = value: half the MASS sits above ~70.7
      // (Σ1..k ≥ Σ1..100/2 ⇒ k ≈ 71), far from the row median 50
      val cents = (1 to 100).map(i => TDigest.Cent(i.toDouble, i.toDouble))
      val d = TDigest.compress(cents, 200.0)
      val est = TDigest.quantile(d, 0.5)
      est should be > 65.0
      est should be < 76.0
      // and the plain unweighted digest of the same values says ~50
      val u = TDigest.compress((1 to 100).map(i => TDigest.Cent(i.toDouble, 1.0)), 200.0)
      TDigest.quantile(u, 0.5) shouldBe 50.0 +- 2.0
    }

    it("digestAggWeighted matches driver-side weighted compress within bound") {
      val df = (1 to 2000).map(i => (i.toDouble, (i % 13 + 1).toDouble))
        .toDF("x", "w")
      val viaAgg = df.agg(TDigest.digestAggWeighted($"x", $"w").as("d"))
        .select($"d.*").as[TDigest.Digest].head()
      val mass = (1 to 2000).map(i => (i % 13 + 1).toDouble).sum
      viaAgg.n shouldBe mass +- 1e-9
      val est = TDigest.quantile(viaAgg, 0.5)
      // empirical mass rank of the estimate within 2%
      val below = (1 to 2000).filter(_ <= est).map(i => (i % 13 + 1).toDouble).sum
      math.abs(below / mass - 0.5) should be < 0.02
    }
  }

  describe("TDigest as Spark aggregation") {
    it("digestAgg → persist → digestMergeAgg round-trips within bound") {
      val xs = pseudo(8000, "spark")
      val df = xs.zipWithIndex.map { case (x, i) => (i % 4, x) }.toDF("shard", "x")
      val dir = java.nio.file.Files.createTempDirectory("tdigest-spec").toString
      df.groupBy($"shard").agg(TDigest.digestAgg($"x").as("digest"))
        .write.mode("overwrite").parquet(dir)
      val merged = spark.read.parquet(dir)
        .agg(TDigest.digestMergeAgg($"digest").as("d"))
        .select($"d.*").as[TDigest.Digest].head()
      merged.n shouldBe 8000.0 +- 1e-9
      for (q <- Seq(0.5, 0.95, 0.99))
        math.abs(rankOf(xs, TDigest.quantile(merged, q)) - q) should be < 0.02
    }
  }
}
