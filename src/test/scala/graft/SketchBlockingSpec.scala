package graft

import graft.operators.{Linkage, Reports}

/** Pins for the persisted-HLL lifecycle and sorted-neighborhood
  * blocking the aggregated q159/q160 gates can't isolate: union ≠ sum
  * on overlapping sets, persist→reload estimate stability, exact
  * neighbor sets at block boundaries, and the w·n candidate bound.
  */
class SketchBlockingSpec extends SparkSpec {
  import spark.implicits._

  describe("Reports.distinctSketches / mergeDistinctSketches") {
    it("union counts overlapping entities once (union ≠ sum)") {
      // groups a and b share users 1..50; union must be 150, not 200
      val df = ((1 to 100).map(("a", _)) ++ (1 to 50).map(("b", _)) ++
        (101 to 150).map(("b", _))).toDF("g", "uid")
      val est = Reports.mergeDistinctSketches(
        Reports.distinctSketches(df, "g", "uid"))
        .as[Long].head()
      est shouldBe 150L // sparse-mode HLL is exact at this cardinality
    }

    it("sketches survive a parquet round-trip") {
      val df = (1 to 200).map(i => (s"g${i % 3}", i)).toDF("g", "uid")
      val dir = java.nio.file.Files.createTempDirectory("hll-spec").toString
      Reports.distinctSketches(df, "g", "uid")
        .write.mode("overwrite").parquet(dir)
      val est = Reports.mergeDistinctSketches(spark.read.parquet(dir))
        .as[Long].head()
      est shouldBe 200L
    }
  }

  describe("Linkage.sortedNeighborhoodPairs") {
    it("pairs each record with exactly its w successors per block") {
      val df = Seq(
        ("x", "anna", 1L), ("x", "anne", 2L), ("x", "anya", 3L), ("x", "bob", 4L),
        ("y", "carl", 5L)
      ).toDF("blk", "name", "id")
      val pairs = Linkage.sortedNeighborhoodPairs(df, "blk", Seq("name"), "id", w = 2)
        .select($"id_a", $"id_b", $"dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      pairs shouldBe Set(
        (1L, 2L, 1), (1L, 3L, 2),
        (2L, 3L, 1), (2L, 4L, 2),
        (3L, 4L, 1)) // block y has one record → no pairs
    }

    it("candidate volume is bounded by w·n") {
      val df = (1L to 400L).map(i => ("b", s"n$i", i)).toDF("blk", "name", "id")
      Linkage.sortedNeighborhoodPairs(df, "blk", Seq("name"), "id", w = 3)
        .count() should be <= 3 * 400L
    }

    it("sort-key ties order by id deterministically") {
      val df = Seq(("b", "same", 7L), ("b", "same", 3L), ("b", "same", 5L))
        .toDF("blk", "name", "id")
      val pairs = Linkage.sortedNeighborhoodPairs(df, "blk", Seq("name"), "id", w = 1)
        .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs shouldBe Set((3L, 5L), (5L, 7L))
    }
  }
}
