package graft

import graft.operators.RangeJoin

/** RangeJoin: binned equi-join ≡ naive theta join, including bin
  * boundary and half-open edge cases. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  it("matches the naive theta join exactly, edges included") {
    // points sit on band edges, bin edges, in the gap, and outside
    val points = Seq(0.0, 9.999, 10.0, 25.0, 39.9, 40.0, 55.0, 60.0, 499.9, 500.0)
      .toDF("p")
    val bands = Seq((0.0, 40.0, "a"), (60.0, 500.0, "b"), (10.0, 25.0, "overlap"))
      .toDF("lo", "hi", "band")
    val binned = RangeJoin.binnedRangeJoin(points, "p", bands, "lo", "hi", 25.0)
      .select($"p", $"band")
    val naive = points.join(bands, $"p" >= $"lo" && $"p" < $"hi")
      .select($"p", $"band")
    binned.except(naive).count() shouldBe 0L
    naive.except(binned).count() shouldBe 0L
    binned.count() shouldBe naive.count() // same multiset, no dup pairs
  }

  it("produces each matching pair exactly once even when a band spans many bins") {
    val points = Seq(1.0, 99.0).toDF("p")
    val wide = Seq((0.0, 100.0, "wide")).toDF("lo", "hi", "band")
    RangeJoin.binnedRangeJoin(points, "p", wide, "lo", "hi", 10.0)
      .count() shouldBe 2L
  }
}
