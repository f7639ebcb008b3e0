package graft

import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // 50 stopword-rich tokens → quality 1.0 (stop ratio, length, no punct)
  val good: String =
    Iterator.continually("the cat and the dog is to a in that").take(5)
      .mkString(" ") // 10 tokens × 5
  val nearDup: String = good + " zz qq"
  val tiny: String = "tiny doc"

  describe("Curation.funnel") {
    val corpus = Seq(
      (1L, good), // survives everything
      (2L, good), // exact copy → dropped at s3
      (3L, nearDup), // near-dup of 1 → dropped at s4
      (4L, tiny) // short → dropped at s2
    ).toDF("doc_id", "text")

    it("drops each pollution class at its own stage") {
      val out = Curation.funnel(corpus, "doc_id", "text").collect()
      out.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(
        ("s1_raw", 4L), ("s2_quality", 3L), ("s3_exact", 2L), ("s4_neardup", 1L))
      // token sums: 50+50+52+2 → minus tiny → minus one copy → minus near-dup
      out.map(_.getLong(2)).toSeq shouldBe Seq(154L, 152L, 102L, 50L)
    }

    it("keeps the smallest id as the canonical exact-dup survivor") {
      // survivor set must be ids 1 (not 2) — checked via the final count
      // plus a run without the near-dup to expose the exact stage alone
      val noNear = corpus.filter($"doc_id" =!= 3L)
      val out = Curation.funnel(noNear, "doc_id", "text").collect()
      out.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(
        ("s1_raw", 3L), ("s2_quality", 2L), ("s3_exact", 1L), ("s4_neardup", 1L))
    }

    it("rejects a band width that does not divide k") {
      an[IllegalArgumentException] should be thrownBy
        Curation.funnel(corpus, "doc_id", "text", minhashK = 8, rowsPerBand = 3)
    }

    it("HTML input funnels correctly only after boilerplate stripping") {
      import org.apache.spark.sql.functions.col
      // raw crawl page: nav + comments + script wrap the good prose
      val page =
        s"""<html><head><script>var nav=1;</script></head><body>
           |<div><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></div>
           |<p>$good</p>
           |<div class="footer">&copy; site</div></body></html>""".stripMargin
      val html = Seq((1L, page), (2L, page), (3L, "<p>tiny doc</p>")).toDF("doc_id", "html")
      val stripped = html.select(col("doc_id"),
        graft.functions.TextAnalysis.mainContent(col("html")).as("text"))
      // main content recovered exactly → quality gate sees clean prose,
      // exact dedup collapses the two copies of the page
      stripped.filter(col("doc_id") === 1L).head().getString(1) shouldBe good
      val out = Curation.funnel(stripped, "doc_id", "text").collect()
      out.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe Seq(
        ("s1_raw", 3L), ("s2_quality", 2L), ("s3_exact", 1L), ("s4_neardup", 1L))
      // un-stripped, markup depresses the quality signal (punctuation-
      // dense tags, markup tokens) — the metric measures the page, not
      // the prose; stripping restores the prose's own score
      val qRaw = html.filter(col("doc_id") === 1L)
        .select(graft.functions.TextAnalysis.qualityScore(col("html"))).head().getDouble(0)
      val qStripped = stripped.filter(col("doc_id") === 1L)
        .select(graft.functions.TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
      qRaw should be < qStripped
      // and token counts are inflated by markup: the funnel's n_tokens
      // on raw input would overcount the corpus
      html.select(graft.functions.TextAnalysis.wsTokenCount(col("html"))).head().getInt(0) should be >
        stripped.select(graft.functions.TextAnalysis.wsTokenCount(col("text"))).head().getInt(0)
    }

    it("transitive mode collapses V-shaped similarity that greedy keeps") {
      // docs 1 and 2 are dissimilar to each other but both overlap hub
      // doc 3 (the largest id): greedy only ever drops pair maxima, so it
      // drops just the hub; transitive clustering sees {1,2,3} and keeps
      // only the minimum
      val w = (1 to 90).map(i => s"t$i")
      val vCorpus = Seq(
        (1L, w.slice(0, 50).mkString(" ")),
        (2L, w.slice(40, 90).mkString(" ")),
        (3L, w.slice(20, 70).mkString(" "))
      ).toDF("doc_id", "text")
      def survivors(transitive: Boolean): Long =
        Curation.funnel(vCorpus, "doc_id", "text",
          minQuality = 0.0, minTokens = 1, rowsPerBand = 1,
          transitive = transitive)
          .filter($"stage" === "s4_neardup").head().getLong(1)
      survivors(false) shouldBe 2L // {1, 2} — hub 3 dropped
      survivors(true) shouldBe 1L // {1} — cluster min only
    }
  }

  describe("Curation.domainCap") {
    val docs = ((1L to 9L).map(i => (i, "big.example")) ++
      (20L to 22L).map(i => (i, "small.example")))
      .toDF("doc_id", "domain")

    it("keeps exactly the md5-priority window selection per domain") {
      import org.apache.spark.sql.functions._
      val capped = Curation.domainCap(docs, "domain", "doc_id", maxPerDomain = 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"domain")
        .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      val windowed = docs.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 4).select($"doc_id", $"domain")
      capped.except(windowed).count() shouldBe 0L
      windowed.except(capped).count() shouldBe 0L
      // under-cap domain survives whole; priority column does not leak
      capped.filter($"domain" === "small.example").count() shouldBe 3L
      capped.columns.toSeq shouldBe Seq("doc_id", "domain")
    }

    it("runs through the bounded-heap TopKExec, not a window sort") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = try {
        Curation.domainCap(docs, "domain", "doc_id", maxPerDomain = 4)
          .queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      plan.collect { case e: graft.plans.TopKExec => e.partial }
        .sorted shouldBe Seq(false, true)
      plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      } shouldBe empty
    }
  }
}
