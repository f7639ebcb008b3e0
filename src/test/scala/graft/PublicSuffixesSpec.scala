package graft

import graft.functions.PublicSuffixes

/** PSL registrable-domain extraction: the publicsuffix.org algorithm
  * (longest rule wins; wildcards; exceptions override wildcards) in
  * both the expression form and the broadcast-dimension form, pinned
  * equal. */
class PublicSuffixesSpec extends SparkSpec {
  import spark.implicits._

  // host → expected registrable domain (null = host IS a public suffix)
  private val cases: Seq[(String, String)] = Seq(
    // prevailing default: last label is the public suffix
    ("example.com", "example.com"),
    ("a.b.c.example.com", "example.com"),
    ("com", null),
    ("localhost", null),
    // two-label ICANN rules
    ("bbc.co.uk", "bbc.co.uk"),
    ("news.bbc.co.uk", "bbc.co.uk"),
    ("co.uk", null),
    ("abc.net.au", "abc.net.au"),
    // three-label ICANN rule
    ("myschool.act.edu.au", "myschool.act.edu.au"),
    ("www.myschool.act.edu.au", "myschool.act.edu.au"),
    // an unlisted sibling falls back to the two-label rule
    ("foo.wa.edu.au", "wa.edu.au"),
    // wildcard *.ck: every direct child of ck is a public suffix
    ("x.ck", null),
    ("foo.x.ck", "foo.x.ck"),
    ("bar.foo.x.ck", "foo.x.ck"),
    // exception !www.ck overrides the wildcard
    ("www.ck", "www.ck"),
    ("foo.www.ck", "www.ck"),
    // wildcard with a two-label parent + its exception
    ("foo.kawasaki.jp", null),
    ("bar.foo.kawasaki.jp", "bar.foo.kawasaki.jp"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("x.city.kawasaki.jp", "city.kawasaki.jp"),
    // the parent of a wildcard is NOT itself a listed suffix
    ("kawasaki.jp", "kawasaki.jp"),
    // private-registry suffixes
    ("someuser.github.io", "someuser.github.io"),
    ("p.someuser.github.io", "someuser.github.io"),
    ("github.io", null),
    ("myblog.blogspot.com", "myblog.blogspot.com"),
    // case-insensitive
    ("News.BBC.CO.UK", "bbc.co.uk"),
    ("", null))

  describe("registrableDomainOfHost (expression form)") {
    it("implements longest-match, wildcard, and exception semantics") {
      val out = cases.map(_._1).toDF("host")
        .select($"host",
          PublicSuffixes.registrableDomainOfHost($"host").as("dom"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      cases.foreach { case (host, want) =>
        withClue(s"host=$host: ") { out(host) shouldBe want }
      }
    }
  }

  describe("joinRegistrable (broadcast-dimension form)") {
    it("matches the expression form on every case, with no fact shuffle") {
      val hosts = cases.map(_._1).toDF("host")
      val dim = PublicSuffixes.suffixDim(spark)
      val joined = PublicSuffixes.joinRegistrable(hosts, "host", "dom", dim)
      val out = joined.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      cases.foreach { case (host, want) =>
        withClue(s"host=$host: ") { out(host) shouldBe want }
      }
      // scale shape: every join is a broadcast; the fact side never shuffles
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
      (plan should not).include("ShuffledHashJoin")
    }

    it("accepts a caller-supplied rule file with comments") {
      val custom = Seq("// comment", "", "co.uk", "*.zz", "!ok.zz")
      val dim = PublicSuffixes.suffixDim(spark, custom)
      val out = PublicSuffixes.joinRegistrable(
          Seq("a.co.uk", "b.x.zz", "ok.zz").toDF("host"), "host", "dom", dim)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      out("a.co.uk") shouldBe "a.co.uk"
      out("b.x.zz") shouldBe "b.x.zz"
      out("ok.zz") shouldBe "ok.zz"
    }
  }

  describe("hostOf") {
    it("lowercases, strips any port, passes scheme-less as empty") {
      val out = Seq("HTTPS://Ex.COM:8443/p", "http://a.b.c/x", "no-scheme.com")
        .toDF("u").select(PublicSuffixes.hostOf($"u")).collect().map(_.getString(0))
      out shouldBe Array("ex.com", "a.b.c", "")
    }
  }
}
