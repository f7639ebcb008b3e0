package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Gates for the native [[graft.plans.JaroWinkler]] expression. The
  * expected values are probes of the oracle engine's
  * `jaro_winkler_similarity` (DuckDB 1.0) — the contract is
  * bit-identical doubles, so comparisons are exact, not tolerance-based.
  */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  describe("JaroWinkler expression") {
    it("matches the oracle kernel bit-for-bit on probe pairs") {
      GraftFunctions.register(spark)
      val cases = Seq(
        // textbook pairs
        ("MARTHA", "MARHTA", 0.9611111111111111),
        ("DWAYNE", "DUANE", 0.8400000000000001),
        ("DIXON", "DICKSONX", 0.8133333333333332),
        ("abc", "abc", 1.0),
        // empties: oracle returns 0.0, including both-empty
        ("", "abc", 0.0),
        ("abc", "", 0.0),
        ("", "", 0.0),
        // window floor + 1-char prefix boost
        ("a", "ab", 0.8500000000000001),
        // prefix-2 boost above threshold
        ("abcdef", "abdcef", 0.9555555555555556),
        // jaro below 0.7: NO boost despite the common prefix
        ("aaaaaaaaaax", "aabbbbbbbbb", 0.4545454545454546),
        // odd positional-mismatch count: integer transposition halving
        ("abcdef", "bcadef", 0.9444444444444445),
        // multi-byte char: the kernel works over UTF-8 BYTES like the oracle
        ("héllo", "hello", 0.8400000000000001),
        // the q95 damage shapes on reference-scale names
        ("Customer#000000001", "Customer#000000001x", 0.9894736842105263),
        ("Customer#000000001", "Customer#00000001", 0.9888888888888889))
      val df = cases.toDF("a", "b", "expected")
      val bad = df.filter(call_function("jaro_winkler", $"a", $"b") =!= $"expected")
      bad.count() shouldBe 0
    }

    it("propagates nulls") {
      GraftFunctions.register(spark)
      val df = Seq((Some("x"), None: Option[String]), (None, Some("y")),
        (Some("x"), Some("x"))).toDF("a", "b")
      df.select(call_function("jaro_winkler", $"a", $"b").as("s"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)) shouldBe
        Array(null, null, 1.0)
    }

    it("agrees between codegen and interpreted eval") {
      GraftFunctions.register(spark)
      val names = Tables.customer(spark, "/root/testdata/sf0.001")
        .select($"c_name", reverse($"c_name").as("r"),
          concat($"c_name", lit("x")).as("x"))
      def run(codegen: String): Array[Double] = {
        spark.conf.set("spark.sql.codegen.factoryMode", codegen)
        try names
          .select(call_function("jaro_winkler", $"c_name", $"r").as("s1"),
            call_function("jaro_winkler", $"c_name", $"x").as("s2"))
          .orderBy($"s1", $"s2").collect().flatMap(r => Seq(r.getDouble(0), r.getDouble(1)))
        finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
      run("NO_CODEGEN") shouldBe run("CODEGEN_ONLY")
    }
  }
}
