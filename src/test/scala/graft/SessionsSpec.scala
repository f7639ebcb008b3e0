package graft

import graft.plans.GraftFunctions

/** [[Sessions.local]]: the settings live in the session from the start,
  * so a fresh `newSession()` has the engine functions and library calls
  * leave its conf as they found it. */
class SessionsSpec extends SparkSpec {

  private val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  describe("Sessions.local") {
    it("resolves the engine's SQL functions on a newSession() with no register call") {
      val row = spark.newSession().sql(
        "SELECT round(jaro_winkler('martha', 'marhta'), 4) AS jw, " +
          "cosine_similarity(array(1.0D, 0.0D), array(2.0D, 0.0D)) AS cos").head()
      row.getDouble(0) shouldBe 0.9611
      row.getDouble(1) shouldBe 1.0
    }

    it("leaves a session's conf unchanged through Tables.events and GraftFunctions.register") {
      val s = spark.newSession()
      val before = s.conf.getAll
      Tables.events(s, "/root/testdata/sf0.001").count()
      s.conf.getAll shouldBe before
      GraftFunctions.register(s)
      s.conf.getAll shouldBe before
    }

    it("pins UTC, the fallback threshold, nanosAsLong and a shuffle width of one per core") {
      // a newSession() reads the settings the factory built the context
      // with, whatever another suite did to the shared session's conf
      val conf = spark.newSession().conf
      conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      conf.get(threshold) shouldBe "4194304"
      conf.get(nanosAsLong) shouldBe "true"
      conf.get("spark.sql.shuffle.partitions").toInt shouldBe
        spark.sparkContext.defaultParallelism
    }
  }
}
