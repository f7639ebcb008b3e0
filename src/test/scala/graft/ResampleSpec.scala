package graft

import java.sql.Timestamp
import graft.operators.Resample

class ResampleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  describe("Resample.resampleFill") {
    it("materializes every slot in the key's span and forward-fills gaps") {
      val df = Seq(
        ("a", ts(0), 1.0), ("a", ts(30), 3.0), // slot 0: mean 2.0
        ("a", ts(3 * 60), 5.0), // slot 3 after a 2-slot gap
        ("b", ts(10 * 60), 7.0)) // single-slot key
        .toDF("k", "t", "v")
      val out = Resample.resampleFill(df, "k", "t", "v", slotSeconds = 60L)
        .orderBy($"key", $"slot").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getDouble(3), r.getBoolean(4)))
      out shouldBe Array(
        ("a", 0L, Some(2.0), 2.0, false),
        ("a", 1L, None, 2.0, true),
        ("a", 2L, None, 2.0, true),
        ("a", 3L, Some(5.0), 5.0, false),
        ("b", 10L, Some(7.0), 7.0, false))
    }

    it("rejects a non-positive slot width") {
      val df = Seq(("a", ts(0), 1.0)).toDF("k", "t", "v")
      an[IllegalArgumentException] should be thrownBy
        Resample.resampleFill(df, "k", "t", "v", slotSeconds = 0L)
    }
  }
}
