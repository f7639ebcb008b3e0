package graft

import graft.operators.Validation

/** Pins for the one-pass declarative expectation runner the q164 gate
  * exercises end-to-end: exact per-rule violation counts, the
  * all-rules-in-one-aggregation plan shape, and the rule-name guard
  * (names ride through a stack literal, so they must stay
  * identifier-safe).
  */
class ExpectationSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, 10.0, "O"), (2L, -5.0, "F"), (3L, 0.0, "X"), (4L, 7.0, "O")
  ).toDF("id", "amount", "status")

  describe("Validation.expectationReport") {
    it("counts violations per rule exactly, with rates") {
      val rep = Validation.expectationReport(df, Seq(
        "amount_positive" -> ($"amount" <= 0),
        "status_domain" -> !$"status".isin("O", "F")))
        .orderBy($"rule")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      rep shouldBe Array(
        ("amount_positive", 2L, 4L, 0.5),
        ("status_domain", 1L, 4L, 0.25))
    }

    it("evaluates all rules in ONE aggregation over one scan") {
      val rep = Validation.expectationReport(df, Seq(
        "r1" -> ($"amount" <= 0), "r2" -> $"status".isNull, "r3" -> ($"id" < 0)))
      val plan = rep.queryExecution.executedPlan.toString
      // one scan feeding one aggregate pair — not one aggregate per rule
      plan.split("LocalTableScan").length - 1 shouldBe 1
    }

    it("rejects rule names that can't ride the stack literal") {
      an[IllegalArgumentException] should be thrownBy
        Validation.expectationReport(df, Seq("bad name'" -> ($"id" < 0)))
    }
  }
}
