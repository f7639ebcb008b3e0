package graft

import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._
import graft.plans.BoundLevenshtein

/** [[BoundLevenshtein]]: the optimizer rewrite must fire on natural
  * edit-distance predicates and must not change results — including on
  * the exact-boundary and null rows where the `-1` contract bites. */
class LevenshteinRuleSpec extends SparkSpec {
  import spark.implicits._

  private val pairs = Seq(
    ("abc", "abc"),   // distance 0
    ("abc", "abd"),   // distance 1
    ("abc", "xyz"),   // distance 3
    ("abc", null),    // null propagates
    ("", "a")         // distance 1 from empty
  ).toDF("a", "b")

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BoundLevenshtein
    try f finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == BoundLevenshtein)
  }

  it("rewrites lev(a,b) <= k to the bounded early-exit form") {
    withRule {
      // parquet-backed, NOT a local relation — Catalyst evaluates
      // filters over LocalRelation away entirely, leaving no plan to
      // inspect
      val cust = Tables.customer(spark, "/root/testdata/sf0.001")
        .select($"c_custkey", $"c_name",
          concat(substring($"c_name", 1, 17),
            when($"c_custkey" % 2 === 0, "Z").otherwise("")).as("alt"))
      val df = cust.filter(levenshtein($"c_name", $"alt") <= 1)
      // traverse EVERY plan node's expressions (`.expressions` alone
      // reads only the root Project's, not the Filter's beneath it)
      val boundedLevs = df.queryExecution.optimizedPlan
        .flatMap(_.expressions).flatMap(_.collect {
          case l: Levenshtein if l.threshold.isDefined => l
        })
      boundedLevs should not be empty
      rowsOf(df) shouldBe rowsOf(cust.filter(levenshtein($"c_name", $"alt", 1) >= 0))
      // local-relation semantics check rides along (results, not plans)
      pairs.filter(levenshtein($"a", $"b") <= 1).count() shouldBe 3L
    }
  }

  it("lowers strict < and literal-on-the-left comparisons") {
    withRule {
      pairs.filter(levenshtein($"a", $"b") < 1).count() shouldBe 1L  // only exact
      pairs.filter(lit(1) >= levenshtein($"a", $"b")).count() shouldBe 3L
      pairs.filter(lit(1) > levenshtein($"a", $"b")).count() shouldBe 1L
    }
  }

  it("matches the unbounded results row-for-row (rule off vs on)") {
    // a Sessions session carries the rule already, so the unbounded
    // reference filters the projected distance, which it never rewrites
    val off = rowsOf(pairs.withColumn("d", levenshtein($"a", $"b")))
      .filter(r => r(2) != null && r(2).asInstanceOf[Int] <= 2)
      .map(_.take(2)).sortBy(_.mkString("|"))
    withRule {
      rowsOf(pairs.filter(levenshtein($"a", $"b") <= 2)) shouldBe off
    }
  }

  it("rewrites edit-distance predicates inside JOIN conditions") {
    // the fuzzy-linkage shape that pays for the rewrite (q92): a blocked
    // equi-key plus a non-equi levenshtein residual in the join ON —
    // transformAllExpressions must reach the Join node's condition, not
    // just Filters
    withRule {
      val cust = Tables.customer(spark, "/root/testdata/sf0.001")
      val left = cust.select($"c_custkey".as("lk"), $"c_nationkey".as("lblock"),
        $"c_name".as("lname"))
      val right = cust.select($"c_custkey".as("rk"), $"c_nationkey".as("rblock"),
        concat(substring($"c_name", 1, 17),
          when($"c_custkey" % 2 === 0, "Z").otherwise("")).as("rname"))
      val joined = left.join(right,
        $"lblock" === $"rblock" && levenshtein($"lname", $"rname") <= 1)
      val boundedInJoin = joined.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.toSeq.flatMap(_.collect {
            case l: Levenshtein if l.threshold.isDefined => l
          })
      }.flatten
      boundedInJoin should not be empty
      // and no unbounded form survives anywhere in the plan
      val unbounded = joined.queryExecution.optimizedPlan
        .flatMap(_.expressions).flatMap(_.collect {
          case l: Levenshtein if l.threshold.isEmpty => l
        })
      unbounded shouldBe empty
      // results identical to the explicit bounded join
      val expect = left.join(right,
        $"lblock" === $"rblock" && levenshtein($"lname", $"rname", 1) >= 0)
      rowsOf(joined) shouldBe rowsOf(expect)
    }
  }
}
