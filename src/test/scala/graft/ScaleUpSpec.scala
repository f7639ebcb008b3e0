package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleUp

/** The bench-scale multiplier must preserve the properties the 10×
  * probe's validity rests on: disjoint keys across replicas, intact
  * referential joins, and DECORRELATED content (replicas must not be
  * near-duplicates of each other, or every pair query measures a
  * degenerate corpus instead of plan scaling). */
class ScaleUpSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  it("multiplies row counts with disjoint primary keys") {
    val nation = Tables.nation(spark, sf)
    val scaled = ScaleUp.scaleTable(nation, "nation", 3)
    scaled.count() shouldBe nation.count() * 3
    scaled.select($"n_nationkey").distinct().count() shouldBe nation.count() * 3
  }

  it("shifts foreign keys consistently so per-replica joins keep resolving") {
    val c = ScaleUp.scaleTable(Tables.customer(spark, sf), "customer", 3)
    val n = ScaleUp.scaleTable(Tables.nation(spark, sf), "nation", 3)
    // every customer still finds its nation (FKs shifted with PKs)
    c.join(n, $"c_nationkey" === $"n_nationkey").count() shouldBe c.count()
  }

  it("decorrelates document text across replicas") {
    val docs = Tables.documents(spark, sf).limit(50)
    val scaled = ScaleUp.scaleTable(docs, "documents", 2)
    val texts = scaled.withColumn("replica", ($"doc_id" / 1000000000L).cast("int"))
      .groupBy($"replica").agg(collect_set($"text").as("ts"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toSet).toMap
    // alphabet rotation → replica 1's text set is disjoint from replica 0's
    texts(0).intersect(texts(1)) shouldBe empty
    // …but lengths are preserved (quality metrics keep their shape)
    scaled.groupBy(($"doc_id" % 1000000000L).as("base"))
      .agg(countDistinct(org.apache.spark.sql.functions.length($"text")).as("n"))
      .filter($"n" =!= 1).count() shouldBe 0
  }

  it("decorrelates embeddings while preserving norms") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding")
    val scaled = ScaleUp.scaleTable(e, "embeddings", 2)
    val norms = scaled
      .select(($"vec_id" % 1000000000L).as("base"),
        round(aggregate(transform($"embedding", x => (x * x).cast("double")),
          lit(0.0), (a, x) => a + x), 6).as("n2"))
      .groupBy($"base").agg(countDistinct($"n2").as("k"))
    // sign flips never change the norm → both replicas agree per base id
    norms.filter($"k" =!= 1).count() shouldBe 0
    // and the flip actually changed the vectors (cross-replica cosine ≠ 1)
    val a = scaled.filter($"vec_id" < 1000000000L)
      .select($"vec_id".as("base"), $"embedding".as("va"))
    val b = scaled.filter($"vec_id" >= 1000000000L)
      .select(($"vec_id" - 1000000000L).as("base"), $"embedding".as("vb"))
    val same = a.join(b, "base")
      .filter($"va" === $"vb").count()
    same shouldBe 0
  }

  it("QueryTimer parses SPARK_GRAFT_EXTRA_CONF, refusing malformed segments by name") {
    import graft.tools.QueryTimer.parseExtraConf
    parseExtraConf("a.b=1;c=x=y;") shouldBe Seq("a.b" -> "1", "c" -> "x=y")
    parseExtraConf("") shouldBe Seq.empty
    val noEq = intercept[IllegalArgumentException](parseExtraConf("a=1;oops"))
    noEq.getMessage should (include("'oops'") and include("k=v;k=v"))
    intercept[IllegalArgumentException](parseExtraConf("=1"))
      .getMessage should include("'=1'")
  }
}
