package graft

import graft.functions.TextAnalysis._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  describe("TextAnalysis") {
    it("counts whitespace and BPE-ish tokens") {
      val df = Seq(("a", "Hello, world! 42 times")).toDF("id", "text")
      val row = df.select(
        wsTokenCount($"text").as("ws"),
        bpeTokenCount($"text").as("bpe"),
        punctCount($"text").as("punct")).head()
      row.getInt(0) shouldBe 4 // Hello, | world! | 42 | times
      row.getInt(1) shouldBe 6 // hello , world ! 42 times
      row.getInt(2) shouldBe 2 // , !
    }

    it("normalizes case and whitespace into one fingerprint") {
      val df = Seq(("A", "Hello   World"), ("B", "hello world"),
        ("C", "different text")).toDF("id", "text")
      val fps = df.select(fingerprint($"text").as("fp")).collect().map(_.getString(0))
      fps(0) shouldBe fps(1)
      fps(0) should not be fps(2)
    }

    it("NFKC-folds Unicode spellings into one fingerprint where raw bytes differ") {
      graft.plans.GraftFunctions.register(spark)
      val df = Seq(
        ("nfc", " caf\u00e9 m\u00fcnchen abc"),                  // precomposed + ASCII
        ("nfd", " cafe\u0301 mu\u0308nchen \uff21\uff22\uff23"), // combining marks + full-width
        ("other", " cafe munchen abc")).toDF("id", "text")
      val rows = df.select($"id",
        fingerprintUnicode($"text").as("fu"),
        fingerprint($"text").as("fr")).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      rows("nfc")._1 shouldBe rows("nfd")._1     // folded: identical
      rows("nfc")._2 should not be rows("nfd")._2 // raw bytes: distinct
      rows("nfc")._1 should not be rows("other")._1
      // the expression is engine-native and codegen'd, not a udf
      val plan = df.select(unicodeNormalize($"text"))
        .queryExecution.executedPlan.toString
      plan should include("unicode_normalize")
      plan should not include "ScalaUDF"
      // and callable from SQL text once registered
      df.createOrReplaceTempView("unorm_t")
      spark.sql("SELECT unicode_normalize(text, 'NFKC') AS t FROM unorm_t")
        .count() shouldBe 3
    }

    it("predicts language by stopword argmax with fixed tie-break") {
      val df = Seq(
        ("the cat is on the mat and it is happy", "en"),
        ("el perro y la casa de los vecinos", "es"),
        ("der hund und die katze mit das haus", "de"),
        ("le chien et les chats des voisins dans une maison", "fr"),
        ("xyzzy plugh", "en") // no hits anywhere → tie → en
      ).toDF("text", "expected")
      df.filter(predictLang($"text") =!= $"expected").count() shouldBe 0
    }

    it("builds overlapping word shingles, empty below n tokens") {
      val df = Seq(Tuple1("one two three four")).toDF("text")
      df.select(wordShingles($"text", 3)).head().getSeq[String](0) shouldBe
        Seq("one two three", "two three four")
      df.select(wordShingles($"text", 5)).head().getSeq[String](0) shouldBe Seq.empty
    }

    it("keeps quality score within [0, 1]") {
      val df = Tables.documents(spark, "/root/testdata/sf0.001")
      df.select(qualityScore($"text").as("q"))
        .filter($"q" < 0 || $"q" > 1).count() shouldBe 0
    }

    it("strips markup: invisible blocks, tags, entities in the safe order") {
      val html =
        """<html><head><style>p { color: red }</style>
          |<script type="text/js">if (1 < 2) alert("x");</script></head>
          |<body><!-- note --><p class="main">A &amp;lt; B &nbsp; stays &lt;b&gt; text</p></body></html>""".stripMargin
      val out = Seq(Tuple1(html)).toDF("t")
        .select(stripMarkup($"t")).head().getString(0)
      // &amp;lt; decodes to literal "&lt;" (NOT then to "<"), &lt;b&gt;
      // becomes literal "<b>" because tags are removed before entities
      out shouldBe "A &lt; B stays <b> text"
    }

    it("extracts main content by text density, dropping link-dense blocks") {
      val prose = "this paragraph has plenty of readable prose content in it"
      val html =
        s"""<body><div id="nav"><a href="/">Home</a> <a href="/x">About</a> <a href="/y">More</a></div>
           |<p>$prose</p>
           |<div><a href="/z">one link</a> but this block carries enough real text to survive the density rule</div>
           |<div class="footer">&copy; 2026</div></body>""".stripMargin
      val out = Seq(Tuple1(html)).toDF("t")
        .select(mainContent($"t")).head().getString(0)
      out shouldBe s"$prose one link but this block carries enough real text to survive the density rule"
    }

    it("canonicalizes URLs: case, ports, slashes, tracking params, sorting") {
      def canon(u: String): String = Seq(Tuple1(u)).toDF("u")
        .select(canonicalizeUrl($"u")).head().getString(0)
      // the full mess at once; path case preserved, params sorted
      canon("HTTP://WWW.Ex.COM:80//A//b/?z=2&utm_source=f&id=1#frag") shouldBe
        "http://www.ex.com/A/b?id=1&z=2"
      // non-default port survives; bare tracking param (no '=') drops
      canon("https://ex.org:8080/p?ref&b=1") shouldBe
        "https://ex.org:8080/p?b=1"
      // tracking-only query → no '?'; root path collapses to empty
      canon("https://Ex.org/?utm_campaign=x") shouldBe "https://ex.org"
      // 'refresh=1' is NOT the tracking param 'ref' (boundary anchors)
      canon("https://ex.org/p?refresh=1") shouldBe "https://ex.org/p?refresh=1"
      // scheme-less input passes through untouched, never "://…"
      canon("www.ex.com/p?a=1") shouldBe "www.ex.com/p?a=1"
    }

    it("extracts the registrable domain with PSL semantics") {
      def dom(u: String): String = Seq(Tuple1(u)).toDF("u")
        .select(registrableDomain($"u")).head().getString(0)
      dom("https://a.b.c.Example.COM/x?q=1") shouldBe "example.com"
      dom("http://ex.org:8080/") shouldBe "ex.org"
      // multi-label public suffixes group one level deeper than the
      // naive last-two-label heuristic
      dom("https://news.bbc.co.uk/x") shouldBe "bbc.co.uk"
      dom("https://someuser.github.io/repo") shouldBe "someuser.github.io"
      dom("https://localhost/x") shouldBe null // single label: nothing registrable
    }
  }
}
