package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalAgg, Linkage, NgramLm, Normalize, QualityFilters, Redaction, SnapshotDiff, TermScoring, Validation}

/** Corpus-compliance / lifecycle extension catalog: repetition quality
  * filters, PII redaction, snapshot reconciliation, cube grouping sets,
  * and n-gram LM scoring — the governance layer of a training-data
  * pipeline (what runs between ingest and selection).
  *
  * Same determinism contract as [[Queries]]: aliases match the oracle,
  * float aggregates rounded, results totally ordered.
  */
object QueriesCurate {
  import Queries.Q
  import QueriesText.{md5Bits32Sql, normSql}

  // ---------------------------------------------------------------- q73
  /** Gopher-style repetition audit ([[QualityFilters.ngramRepetition]]):
    * per-doc duplicated-2-gram fraction and top-gram share, rolled up per
    * source with a flag count. dup_frac/top_share are exact rationals
    * (ints divided once in double), so the 0.03 threshold compares
    * identically cross-engine. */
  val q73Repetition: Q = (s, dir) => {
    import s.implicits._
    QualityFilters.ngramRepetition(
      Tables.documents(s, dir), Seq("doc_id", "source"), "text", n = 2)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"dup_frac"), 4).as("avg_dup"),
        round(avg($"top_share"), 4).as("avg_top_share"),
        sum(when($"dup_frac" > 0.03, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }
  val q73Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, string_split($normSql, ' ') AS w FROM documents),
       |ng AS (
       |  SELECT doc_id, source, len(w) - 1 AS total,
       |         list_transform(generate_series(1, len(w) - 1),
       |                        i -> w[i] || ' ' || w[i+1]) AS grams
       |  FROM tok WHERE len(w) >= 2),
       |ex AS (SELECT doc_id, source, total, unnest(grams) AS g FROM ng),
       |cnt AS (SELECT doc_id, source, total, g, count(*) AS c
       |        FROM ex GROUP BY 1, 2, 3, 4),
       |per_doc AS (
       |  SELECT doc_id, source,
       |         1.0 - count(*) * 1.0 / total AS dup_frac,
       |         max(c) * 1.0 / total AS top_share
       |  FROM cnt GROUP BY doc_id, source, total)
       |SELECT source, count(*) AS n_docs,
       |       round(avg(dup_frac), 4) AS avg_dup,
       |       round(avg(top_share), 4) AS avg_top_share,
       |       CAST(sum(CASE WHEN dup_frac > 0.03 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_flagged
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q74
  /** PII redaction audit ([[Redaction]]): deterministic synthetic
    * identifiers (email / IPv4 / phone derived from doc_id) are injected,
    * redacted back out, and counted per source. The injection makes the
    * fixture self-contained; the operator itself is the generic
    * three-pattern codegen'd replace chain. */
  val q74PiiRedact: Q = (s, dir) => {
    import s.implicits._
    val injected = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        concat($"text",
          lit(" contact user"), $"doc_id".cast("string"),
          lit("@mail.example.com or +1-555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
          lit("-99 ip 10."), ($"doc_id" % 256).cast("string"),
          lit(".0.1 end")).as("raw"))
    injected
      .select($"doc_id", $"source", $"raw",
        Redaction.redactPii($"raw").as("clean"))
      .groupBy($"source")
      .agg(
        sum(Redaction.tokenCount($"clean", Redaction.emailToken).cast("long"))
          .as("n_email"),
        sum(Redaction.tokenCount($"clean", Redaction.ipToken).cast("long"))
          .as("n_ip"),
        sum(Redaction.tokenCount($"clean", Redaction.phoneToken).cast("long"))
          .as("n_phone"),
        sum(Redaction.charsRemoved($"raw", $"clean").cast("long"))
          .as("chars_removed"))
      .orderBy($"source")
  }
  val q74Sql: String =
    raw"""WITH injected AS (
         |  SELECT doc_id, source,
         |    text || ' contact user' || doc_id || '@mail.example.com or +1-555-' ||
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-99 ip 10.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.0.1 end' AS raw
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, source, raw,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(raw, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
         |                       '[EMAIL]', 'g'),
         |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
         |      '\+?\d[\d-]{6,}\d', '[PHONE]', 'g') AS clean
         |  FROM injected)
         |SELECT source,
         |  CAST(sum(len(regexp_extract_all(clean, '\[EMAIL\]'))) AS BIGINT) AS n_email,
         |  CAST(sum(len(regexp_extract_all(clean, '\[IP\]'))) AS BIGINT) AS n_ip,
         |  CAST(sum(len(regexp_extract_all(clean, '\[PHONE\]'))) AS BIGINT) AS n_phone,
         |  CAST(sum(length(raw) - length(clean)) AS BIGINT) AS chars_removed
         |FROM red GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Snapshot reconciliation ([[SnapshotDiff.diff]]): two deterministic
    * "extract versions" of orders (modular drop-outs simulate deletes and
    * inserts, a 10% price bump on keys ≡ 0 mod 7 simulates updates) are
    * full-outer diffed and the change taxonomy aggregated. */
  val q75SnapshotDiff: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val old = orders.filter($"o_orderkey" % 97 =!= 0)
      .select($"o_orderkey", $"o_totalprice")
    // +1000.0 is exact in double at price magnitudes — a multiplicative
    // bump would need a re-round whose half-even boundary behavior
    // differs between engines' round(double) implementations
    val neu = orders.filter($"o_orderkey" % 89 =!= 0)
      .select($"o_orderkey",
        when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1000.0)
          .otherwise($"o_totalprice").as("o_totalprice"))
    SnapshotDiff.diff(old, neu, Seq("o_orderkey"), Seq("o_totalprice"))
      .groupBy($"change_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"change_type")
  }
  val q75Sql: String =
    """WITH old AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0),
      |new AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 89 <> 0)
      |SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
      |            WHEN new.o_orderkey IS NULL THEN 'removed'
      |            WHEN old.o_totalprice <> new.o_totalprice THEN 'changed'
      |            ELSE 'same' END AS change_type,
      |       count(*) AS n,
      |       round(sum(coalesce(new.o_totalprice, old.o_totalprice)), 2)
      |         AS total_price
      |FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q76
  /** CUBE grouping sets (completing the §2.4 grouping-set family next to
    * q36's ROLLUP): all four aggregation lattices of priority × status in
    * one pass (Spark plans a single Expand + hash-agg, not four scans).
    * Grouping nulls are labeled before ordering (Spark sorts nulls first,
    * DuckDB last) and disambiguated from data by the explicit gid. */
  val q76Cube: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderpriority", $"o_orderstatus")
      // grouping_id() is only resolvable inside the cube's aggregate
      // list; with two cube columns it equals grouping(a)·2+grouping(b)
      // exact integer-cent total: the grand-total float sum flips its
      // 2-decimal rounding at the 10× corpus (see q36)
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("total_c"))
      .select(
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"gid", $"n", $"total_c")
      .orderBy($"gid", $"priority", $"status")
  }
  val q76Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INT)
      |         AS gid,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
      |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY gid, priority, status""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Character-trigram LM quality scoring ([[NgramLm]]): fit trigram
    * frequencies on the corpus, score every document by mean ln P(gram),
    * report per-language mean and worst scores. The model table is
    * vocabulary-bounded → broadcast at scoring time; only the per-doc
    * aggregation shuffles. */
  val q77TrigramLm: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val model = NgramLm.fit(docs, "text", n = 3)
    NgramLm.score(docs, Seq("doc_id", "lang"), "text", model, n = 3)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"avg_logp"), 3).as("mean_logp"),
        round(min($"avg_logp"), 3).as("worst_logp"))
      .orderBy($"lang")
  }
  val q77Sql: String =
    s"""WITH norm AS (
       |  SELECT doc_id, lang, $normSql AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, lang, unnest(list_transform(
       |    generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS g
       |  FROM norm WHERE length(t) >= 3),
       |model AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
       |tot AS (SELECT count(*) AS n FROM tri),
       |doc_tri AS (SELECT doc_id, lang, g, count(*) AS dc FROM tri GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT d.doc_id, d.lang,
       |         sum(d.dc * ln(m.c * 1.0 / tot.n)) / sum(d.dc) AS avg_logp
       |  FROM doc_tri d JOIN model m ON d.g = m.g CROSS JOIN tot
       |  GROUP BY d.doc_id, d.lang)
       |SELECT lang, count(*) AS n_docs,
       |       round(avg(avg_logp), 3) AS mean_logp,
       |       round(min(avg_logp), 3) AS worst_logp
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q182
  /** CROSS-CORPUS LM scoring with Laplace smoothing
    * ([[NgramLm.scoreSmoothed]]): trigram model fit on the ENGLISH
    * documents only, then every document — foreign languages included —
    * scored against it. Unsmoothed scoring silently drops unseen grams
    * at the join, which flatters exactly the out-of-domain documents
    * the filter exists to catch; the smoothed form charges them
    * `ln(1/(total+V))` each, so non-English languages separate cleanly
    * below the English band. Same plan shape as q77 plus one 1-row
    * broadcast (model `(V, total)`); oracle replays the Laplace
    * arithmetic with a LEFT join. */
  val q182LmSmoothed: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val model = NgramLm.fit(docs.filter($"lang" === "en"), "text", n = 3)
    NgramLm.scoreSmoothed(docs, Seq("doc_id", "lang"), "text", model, n = 3)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"avg_logp"), 3).as("mean_logp"),
        round(min($"avg_logp"), 3).as("worst_logp"))
      .orderBy($"lang")
  }
  val q182Sql: String =
    s"""WITH norm AS (
       |  SELECT doc_id, lang, $normSql AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, lang, unnest(list_transform(
       |    generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS g
       |  FROM norm WHERE length(t) >= 3),
       |fit AS (SELECT g, count(*) AS c FROM tri WHERE lang = 'en' GROUP BY g),
       |tot AS (SELECT count(*) AS n FROM tri WHERE lang = 'en'),
       |voc AS (SELECT count(*) AS v FROM fit),
       |doc_tri AS (SELECT doc_id, lang, g, count(*) AS dc FROM tri GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT d.doc_id, d.lang,
       |         sum(d.dc * ln((coalesce(f.c, 0) + 1) * 1.0 / (tot.n + voc.v)))
       |           / sum(d.dc) AS avg_logp
       |  FROM doc_tri d LEFT JOIN fit f ON d.g = f.g
       |  CROSS JOIN tot CROSS JOIN voc
       |  GROUP BY 1, 2)
       |SELECT lang, count(*) AS n_docs,
       |       round(avg(avg_logp), 3) AS mean_logp,
       |       round(min(avg_logp), 3) AS worst_logp
       |FROM scored GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Explicit GROUPING SETS (the general form behind q36's ROLLUP and
    * q76's CUBE): exactly the per-priority, per-status, and grand-total
    * lattices — no (priority, status) cross cell — in one Expand +
    * hash-agg pass. This is the shape reporting pipelines want when the
    * cross cells would be cardinality noise. */
  val q79GroupingSets: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderpriority", $"o_orderstatus")
      // exact integer-cent total (see q36)
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("total_c"))
      .select(
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"gid", $"n", $"total_c")
      .orderBy($"gid", $"priority", $"status")
  }
  val q79Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INT)
      |         AS gid,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, priority, status""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Incremental aggregate maintenance ([[IncrementalAgg]]): fold a
    * "history" state and a "new batch" delta (split on order date) into
    * one state and publish — proven equal to the full recompute, which
    * IS the oracle. The algebraic-merge property is what lets a 100 TB
    * rollup refresh touch only the delta. */
  val q81IncrementalAgg: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val split = to_timestamp(lit("1997-01-01 00:00:00"))
    val state = IncrementalAgg.partial(
      orders.filter($"o_orderdate" < split), Seq("o_orderpriority"), "o_totalprice")
    val delta = IncrementalAgg.partial(
      orders.filter($"o_orderdate" >= split), Seq("o_orderpriority"), "o_totalprice")
    IncrementalAgg.finish(IncrementalAgg.merge(Seq(state, delta), Seq("o_orderpriority")))
      .select($"o_orderpriority".as("priority"), $"n",
        round($"total", 2).as("total"), round($"mean", 4).as("mean"))
      .orderBy($"priority")
  }
  val q81Sql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total,
      |       round(avg(o_totalprice), 4) AS mean
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Probabilistic record linkage ([[Linkage]], Fellegi–Sunter shape):
    * customers linked to a key-perturbed copy of themselves (damaged
    * names on keys ≡ 0 mod 3, drifted balances on ≡ 0 mod 7), blocked on
    * (nation, segment), scored by weighted field agreement. The gate
    * reports the score distribution split by true/false match — the
    * linkage-quality table a real deployment tunes its threshold on. */
  val q82LinkageScore: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val damaged = cust.select(
      $"c_custkey",
      when($"c_custkey" % 3 === 0, concat($"c_name", lit("~")))
        .otherwise($"c_name").as("c_name"),
      $"c_nationkey",
      when($"c_custkey" % 7 === 0, $"c_acctbal" + 500.0)
        .otherwise($"c_acctbal").as("c_acctbal"),
      $"c_mktsegment")
    Linkage.link(cust, damaged,
        blockKeys = Seq("c_nationkey", "c_mktsegment"),
        comparators = Seq(
          (col("a_c_name") === col("b_c_name"), 2.0),
          (abs(col("a_c_acctbal") - col("b_c_acctbal")) <= 1.0, 1.5),
          (floor(col("a_c_acctbal") / 1000.0) === floor(col("b_c_acctbal") / 1000.0), 0.5)),
        threshold = 2.0)
      .groupBy($"link_score",
        when($"a_c_custkey" === $"b_c_custkey", 1).otherwise(0).as("is_true"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"link_score", $"is_true")
  }
  val q82Sql: String =
    """WITH b AS (SELECT c_custkey,
      |        CASE WHEN c_custkey % 3 = 0 THEN c_name || '~' ELSE c_name END AS c_name,
      |        c_nationkey,
      |        CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 500.0 ELSE c_acctbal END
      |          AS c_acctbal,
      |        c_mktsegment FROM customer),
      |p AS (SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |        (CASE WHEN a.c_name = b.c_name THEN 2.0 ELSE 0.0 END) +
      |        (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 1.0 THEN 1.5 ELSE 0.0 END) +
      |        (CASE WHEN floor(a.c_acctbal/1000.0) = floor(b.c_acctbal/1000.0)
      |              THEN 0.5 ELSE 0.0 END) AS link_score
      |      FROM customer a JOIN b ON a.c_nationkey = b.c_nationkey
      |                            AND a.c_mktsegment = b.c_mktsegment)
      |SELECT link_score, CASE WHEN a_key = b_key THEN 1 ELSE 0 END AS is_true,
      |       count(*) AS n
      |FROM p WHERE link_score >= 2.0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Group-mean imputation ([[Normalize.imputeGroupMean]]): n_chars
    * nulled on doc_id ≡ 0 mod 11, refilled from each language's mean of
    * the surviving values — per-language counts and the filled mean
    * gate both the null bookkeeping and the broadcast fill. */
  val q84Impute: Q = (s, dir) => {
    import s.implicits._
    val holed = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        when($"doc_id" % 11 === 0, lit(null)).otherwise($"n_chars").as("v"))
    Normalize.imputeGroupMean(holed, "lang", "v")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(when($"v".isNull, 1L).otherwise(0L)).as("n_imputed"),
        round(avg($"v_filled"), 4).as("filled_mean"))
      .orderBy($"lang")
  }
  val q84Sql: String =
    """WITH d AS (SELECT lang,
      |             CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END AS v
      |           FROM documents),
      |m AS (SELECT lang, avg(v) AS grp_mean FROM d GROUP BY lang)
      |SELECT d.lang, count(*) AS n,
      |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
      |  round(avg(coalesce(v, grp_mean)), 4) AS filled_mean
      |FROM d JOIN m USING (lang) GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Vocabulary coverage ([[TermScoring.topVocabulary]]/[[TermScoring.oovRate]]):
    * fit the top-20 corpus vocabulary (frequency desc, term asc — the
    * deterministic tie-break), score every document's out-of-vocabulary
    * token rate against it, roll up per language. The coverage check run
    * before committing to a tokenizer/vocab at training time. */
  val q90OovRate: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val vocab = TermScoring.topVocabulary(docs, "text", 20)
    TermScoring.oovRate(docs, Seq("doc_id", "lang"), "text", vocab)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_oov".cast("double") / $"n_tok"), 4).as("oov_rate"),
        sum($"n_tok").as("total_tok"))
      .orderBy($"lang")
  }
  val q90Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split($normSql, ' ')) AS w
       |  FROM documents),
       |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       |vocab AS (SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS rk FROM cnt)
       |  WHERE rk <= 20),
       |scored AS (
       |  SELECT t.doc_id, t.lang, count(*) AS n_tok,
       |         sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM tok t LEFT JOIN vocab v ON t.w = v.w
       |  GROUP BY 1, 2)
       |SELECT lang, count(*) AS n_docs,
       |       round(avg(n_oov * 1.0 / n_tok), 4) AS oov_rate,
       |       CAST(sum(n_tok) AS BIGINT) AS total_tok
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q91
  /** CDC apply ([[SnapshotDiff.applyChanges]]): reconstruct the new
    * snapshot as `apply(old, diff(old, new))` — the inverse law, also
    * property-tested — and aggregate it per key bucket. The oracle
    * aggregates the NEW snapshot directly: equality proves the
    * anti-join + upsert MERGE semantics end-to-end. */
  val q91MergeApply: Q = (s, dir) => {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val old = orders.filter($"o_orderkey" % 97 =!= 0)
      .select($"o_orderkey", $"o_totalprice")
    val neu = orders.filter($"o_orderkey" % 89 =!= 0)
      .select($"o_orderkey",
        when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1000.0)
          .otherwise($"o_totalprice").as("o_totalprice"))
    val changes = SnapshotDiff.diff(old, neu, Seq("o_orderkey"), Seq("o_totalprice"))
    SnapshotDiff.applyChanges(old, changes, Seq("o_orderkey"))
      .groupBy(($"o_orderkey" % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"),
        min($"o_orderkey").as("k_min"), max($"o_orderkey").as("k_max"))
      .orderBy($"bucket")
  }
  val q91Sql: String =
    """WITH new AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 89 <> 0)
      |SELECT o_orderkey % 10 AS bucket, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total,
      |       CAST(min(o_orderkey) AS BIGINT) AS k_min,
      |       CAST(max(o_orderkey) AS BIGINT) AS k_max
      |FROM new GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Fuzzy linkage comparator ([[Linkage.candidatePairs]] + edit
    * distance): block as in q82, then classify candidate pairs by
    * Levenshtein distance ≤ 1 against a copy with single-character name
    * damage (append on keys ≡ 0, truncate on ≡ 1 mod 4). The
    * true/false-positive table at each distance is what calibrates a
    * fuzzy comparator's weight before it joins the q82 score. Edit
    * distance is integer-exact in both engines. */
  val q92FuzzyLinkage: Q = (s, dir) => {
    import s.implicits._
    // fan the probe side out: a one-row-group scan is ONE task, and it
    // would otherwise generate + score every blocked pair alone
    val cust = Tables.fanOut(s, Tables.customer(s, dir))
    val damaged = cust.select(
      $"c_custkey",
      when($"c_custkey" % 4 === 0, concat($"c_name", lit("x")))
        .when($"c_custkey" % 4 === 1,
          substring($"c_name", 1, 17)) // names are 18 chars: drop the last
        .otherwise($"c_name").as("c_name"),
      $"c_nationkey", $"c_mktsegment")
    // bounded form: early-exits the DP once distance exceeds 1 (returns
    // −1), so the dominant far-apart pairs cost O(len) not O(len²)
    Linkage.candidatePairs(cust, damaged, Seq("c_nationkey", "c_mktsegment"))
      .withColumn("dist", levenshtein($"a_c_name", $"b_c_name", 1))
      .filter($"dist" >= 0)
      .groupBy($"dist",
        when($"a_c_custkey" === $"b_c_custkey", 1).otherwise(0).as("is_true"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"dist", $"is_true")
  }
  val q92Sql: String =
    """WITH b AS (SELECT c_custkey,
      |        CASE WHEN c_custkey % 4 = 0 THEN c_name || 'x'
      |             WHEN c_custkey % 4 = 1 THEN substr(c_name, 1, 17)
      |             ELSE c_name END AS c_name,
      |        c_nationkey, c_mktsegment FROM customer)
      |SELECT levenshtein(a.c_name, b.c_name) AS dist,
      |       CASE WHEN a.c_custkey = b.c_custkey THEN 1 ELSE 0 END AS is_true,
      |       count(*) AS n
      |FROM customer a JOIN b ON a.c_nationkey = b.c_nationkey
      |                      AND a.c_mktsegment = b.c_mktsegment
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q196
  /** Jaro–Winkler fuzzy-linkage calibration
    * ([[graft.plans.JaroWinkler]], the native codegen'd Catalyst
    * expression) — q92's blocking with the classic Fellegi–Sunter name
    * comparator instead of edit distance, and called BY NAME from SQL
    * text (`jaro_winkler(...)` via the q115 registry surface, so the
    * function-registry binding is on the hash too). Pairs at
    * similarity ≥ 0.94 bucket into a (rounded similarity, is-true)
    * calibration table — the weight-of-evidence table a linkage
    * pipeline reads before scoring; ID-like names with long shared
    * prefixes land many false pairs in the high buckets, which is
    * exactly what the table exposes. The expression's byte-level
    * kernel is bit-identical to DuckDB's `jaro_winkler_similarity`
    * (the `JaroWinklerSpec` contract), so raw thresholds and rounded
    * buckets replay exactly. */
  val q196JwLinkage: Q = (s, dir) => {
    import s.implicits._
    graft.plans.GraftFunctions.register(s)
    val cust = Tables.fanOut(s, Tables.customer(s, dir))
    val damaged = cust.select(
      $"c_custkey",
      when($"c_custkey" % 4 === 0, concat($"c_name", lit("x")))
        .when($"c_custkey" % 4 === 1,
          substring($"c_name", 1, 17)) // names are 18 chars: drop the last
        .otherwise($"c_name").as("c_name"),
      $"c_nationkey", $"c_mktsegment")
    Linkage.candidatePairs(cust, damaged, Seq("c_nationkey", "c_mktsegment"))
      .withColumn("jw", expr("jaro_winkler(a_c_name, b_c_name)"))
      .filter($"jw" >= 0.94)
      .groupBy((round($"jw", 2) + 0.0).as("jw_bucket"),
        when($"a_c_custkey" === $"b_c_custkey", 1).otherwise(0).as("is_true"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"jw_bucket", $"is_true")
  }
  val q196Sql: String =
    """WITH b AS (SELECT c_custkey,
      |        CASE WHEN c_custkey % 4 = 0 THEN c_name || 'x'
      |             WHEN c_custkey % 4 = 1 THEN substr(c_name, 1, 17)
      |             ELSE c_name END AS c_name,
      |        c_nationkey, c_mktsegment FROM customer),
      |pairs AS (
      |  SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |         jaro_winkler_similarity(a.c_name, b.c_name) AS jw
      |  FROM customer a JOIN b ON a.c_nationkey = b.c_nationkey
      |                        AND a.c_mktsegment = b.c_mktsegment)
      |SELECT round(jw, 2) + 0.0 AS jw_bucket,
      |       CASE WHEN a_key = b_key THEN 1 ELSE 0 END AS is_true,
      |       count(*) AS n
      |FROM pairs WHERE jw >= 0.94
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q105
  /** HTML boilerplate stripping ahead of the quality gate
    * ([[graft.functions.TextAnalysis.stripMarkup]] /
    * [[graft.functions.TextAnalysis.mainContent]]): each document is
    * wrapped in a deterministic crawl-page shell — head with style +
    * script, a nav of `doc_id % 5` links, an HTML comment, the text as
    * the main `<p>` block carrying entities, an entity-bearing footer
    * — and the query must recover the main content exactly: nav (link-
    * dense, short), footer (short) and all invisible markup drop;
    * entities decode AFTER tag removal. The oracle replays the entire
    * regex/lambda pipeline in SQL, so every stage (invisible-block
    * removal, block split, density filter, entity decode, collapse) is
    * hash-gated. Both engines run per-row expression chains only —
    * shuffle-free, the shape that scales to raw-crawl input. */
  /** The deterministic crawl-page shell of the q105 fixture (Spark
    * side) — shared with the composed pipeline gate
    * ([[QueriesPipeline]] wraps its planted corpus in the same shell;
    * the q203 one-text discipline, Scala face). Expects `doc_id` and
    * `text` columns on the input row. */
  private[graft] val crawlShell: org.apache.spark.sql.Column =
    concat(
      lit("<html><head><style>p{color:red}</style><script>var x=1;</script></head><body><div id=\"nav\">"),
      expr("""repeat('<a href="/l">link</a> ', CAST(doc_id % 5 AS INT))"""),
      lit("</div><!-- crawl &amp; noise --><p>"),
      col("text"),
      lit(" &amp; tail&nbsp;&lt;mark&gt;</p><div class=\"footer\">&copy; legal</div></body></html>"))

  val q105HtmlStrip: Q = (s, dir) => {
    import s.implicits._
    val html = Tables.documents(s, dir).select($"doc_id",
      crawlShell.as("html"))
    html.select($"doc_id",
        graft.functions.TextAnalysis.mainContent($"html").as("main_text"),
        length(graft.functions.TextAnalysis.stripMarkup($"html")).as("n_all"))
      .withColumn("n_main", length($"main_text"))
      .orderBy($"doc_id")
  }
  // The exact Spark strip chains, restated for DuckDB: entity chain as
  // nested plain replace (same literals), every regexp_replace global.
  private def stripEnt(x: String) =
    s"replace(replace(replace(replace(replace(replace(replace($x, " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
      "'&apos;', ''''), '&nbsp;', ' '), '&amp;', '&')"
  private def stripClean(b: String) =
    s"trim(regexp_replace(${stripEnt(s"regexp_replace($b, '<[^>]+>', ' ', 'g')")}, '\\s+', ' ', 'g'))"
  private val stripInvisible =
    "regexp_replace(regexp_replace(regexp_replace(html, " +
      "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?is)<style[^>]*>.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g')"
  private val stripBoundary =
    "'(?i)</?(p|div|td|th|li|ul|ol|h[1-6]|table|tr|section|article|aside|header|footer|nav|blockquote|br)[^>]*>'"

  /** The q105 strip chain as CTEs over `srcRel` `(doc_id, text)`:
    * shell-wrap → invisible-block removal → block split → density
    * filter — ends at `kept(doc_id, all_text, ks)`; [[stripMainOf]] is
    * the `main_text` projection over `ks`. ONE text for q105 and the
    * composed pipeline gate's strip stage ([[QueriesPipeline]] — the
    * q203 discipline: the two gates' strip semantics cannot drift). */
  private[graft] def htmlStripCtes(srcRel: String): String =
    // NO internal stripMargin: the `||` concatenation lines begin with
    // whitespace + '|' after a first strip, so a consumer's stripMargin
    // would mangle them — this fragment keeps its margin characters and
    // is stripped exactly ONCE by the consuming query text
    s"""h AS (
       |  SELECT doc_id,
       |         '<html><head><style>p{color:red}</style><script>var x=1;</script></head><body><div id="nav">'
       |           || repeat('<a href="/l">link</a> ', CAST(doc_id % 5 AS INT))
       |           || '</div><!-- crawl &amp; noise --><p>' || text
       |           || ' &amp; tail&nbsp;&lt;mark&gt;</p><div class="footer">&copy; legal</div></body></html>' AS html
       |  FROM $srcRel),
       |pre AS (SELECT doc_id, $stripInvisible AS nohide FROM h),
       |blk AS (SELECT doc_id, string_split_regex(nohide, $stripBoundary) AS blocks,
       |               ${stripClean("nohide")} AS all_text
       |        FROM pre),
       |kept AS (
       |  SELECT doc_id, all_text,
       |         list_filter(blocks, b -> len(${stripClean("b")}) >= 30
       |           AND len(regexp_extract_all(b, '(?i)<a[\\s>]')) * 25 <= len(${stripClean("b")})) AS ks
       |  FROM blk)"""

  /** `main_text` as a SQL fragment over `kept`'s `ks`. */
  private[graft] val stripMainOf: String =
    s"array_to_string(list_transform(ks, b -> ${stripClean("b")}), ' ')"

  val q105Sql: String =
    s"""WITH ${htmlStripCtes("documents")}
       |SELECT doc_id,
       |       $stripMainOf AS main_text,
       |       length(all_text) AS n_all,
       |       length($stripMainOf) AS n_main
       |FROM kept ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q108
  /** Per-domain document quota ([[graft.operators.Curation.domainCap]]):
    * keep at most 10 docs per `source`, selected by deterministic md5
    * priority. The Spark side runs the native bounded-heap per-key
    * top-k plan (TopKPerKey — map-side partial heaps, k rows per
    * partition per domain cross the shuffle); the oracle states the
    * row_number window form, which is the same RESULT but the plan
    * that dies on a hot domain — the gate certifies the heap path
    * returns exactly the window's selection. Output keeps n_chars so
    * the gate proves non-key columns ride through the heap intact. */
  val q108DomainCap: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Curation.domainCap(
        Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars"),
        "source", "doc_id", maxPerDomain = 10)
      .orderBy($"source", $"doc_id")
  }
  val q108Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (
      |           PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10
      |ORDER BY source, doc_id""".stripMargin

  // --------------------------------------------------------------- q109
  /** Hashed linear classifier scoring
    * ([[graft.operators.QualityFilters.linearScore]]): a 64-bucket
    * fastText-shape model with deterministic weights
    * `w(b) = ((b·2654435761) mod 997)/997 − 0.5` scores every document
    * in one shuffle-free codegen'd scan — the weight vector is a plan
    * literal, the per-token bucket is md5 arithmetic, and the fold is
    * sequential so the oracle (which recomputes the same weights from
    * the bucket id instead of indexing an array) reproduces the score
    * bit-for-bit before the 4-digit round. Gate covers hashing, the
    * weight formula, the mean-pool + bias + scale sigmoid, and the
    * 0.5 decision boundary. */
  val q109ClassifierScore: Q = (s, dir) => {
    import s.implicits._
    val weights = (0 until 64).map(b => ((b * 2654435761L) % 997L) / 997.0 - 0.5)
    Tables.documents(s, dir)
      .select($"doc_id",
        graft.functions.TextAnalysis.wsTokenCount($"text").as("n_toks"),
        graft.operators.QualityFilters.linearScore($"text", weights,
          bias = -0.01, scale = 4.0).as("raw"))
      .select($"doc_id", $"n_toks", round($"raw", 4).as("score"),
        ($"raw" >= 0.5).as("label"))
      .orderBy($"doc_id")
  }
  val q109Sql: String = {
    val digits = md5Bits32Sql("md5(t)")
    val sig = "1.0 / (1.0 + exp(-(ssum / greatest(n_toks, 1.0) - 0.01) * 4.0))"
    s"""WITH tk AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |sc AS (
       |  SELECT doc_id, len(w) AS n_toks,
       |    list_reduce(list_prepend(0.0, list_transform(w,
       |      t -> ((($digits) % 64) * 2654435761 % 997) / 997.0 - 0.5)),
       |      (a, x) -> a + x) AS ssum
       |  FROM tk)
       |SELECT doc_id, n_toks, round($sig, 4) AS score, $sig >= 0.5 AS label
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q112
  /** URL canonicalization + PSL registrable-domain extraction
    * ([[graft.functions.TextAnalysis.canonicalizeUrl]] /
    * [[graft.functions.PublicSuffixes]]): every document gets a
    * deterministic crawl URL exercising the full canonicalization mess
    * (mixed-case scheme and host, default ports, duplicate path
    * slashes, tracking params, a fragment) AND, by `doc_id % 5`, a host
    * under a different suffix class — plain `.com`, ccTLD registries
    * `.co.uk` / `.com.au` (where the naive last-two-label heuristic
    * groups one level too coarse), the private registry `.github.io`,
    * and a bare public suffix (`co.uk` itself → NULL domain: nothing
    * registrable). The oracle replays the regex/list chain stage by
    * stage and restates the SAME suffix table (generated from
    * [[graft.functions.PublicSuffixes.rules]], full precedence chain:
    * exceptions > longer rules > shorter > default), so a drifted rule
    * list or a wrong precedence branch flips the hash. Both engines run
    * per-row expression chains only — shuffle-free, one scan at crawl
    * scale. */
  val q112UrlCanon: Q = (s, dir) => {
    import s.implicits._
    val host = when($"doc_id" % 5 === 0, concat(lit("WWW.News."), $"source", lit(".COM:80")))
      .when($"doc_id" % 5 === 1, concat(lit("Blog."), $"source", lit(".co.uk:443")))
      .when($"doc_id" % 5 === 2, concat(lit("Shop."), $"source", lit(".com.au")))
      .when($"doc_id" % 5 === 3, concat($"source", lit(".GitHub.io")))
      .otherwise(lit("co.uk"))
    val url = concat(
      when($"doc_id" % 2 === 0, lit("HTTP://")).otherwise(lit("https://")), host,
      lit("/Articles//"), $"doc_id".cast("string"), lit("/?utm_campaign=x&id="),
      ($"doc_id" % 7).cast("string"), lit("&ref=rss&z=1#sec-2"))
    Tables.documents(s, dir)
      .select($"doc_id", url.as("url"))
      .select($"doc_id",
        graft.functions.TextAnalysis.canonicalizeUrl($"url").as("url_canon"),
        graft.functions.TextAnalysis.registrableDomain($"url").as("domain"))
      .orderBy($"doc_id")
  }
  /** `IN (…)` list literal for the oracle's restated suffix table. */
  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")
  val q112Sql: String = {
    import graft.functions.PublicSuffixes._
    s"""WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
      |      || (CASE doc_id % 5
      |          WHEN 0 THEN 'WWW.News.' || source || '.COM:80'
      |          WHEN 1 THEN 'Blog.' || source || '.co.uk:443'
      |          WHEN 2 THEN 'Shop.' || source || '.com.au'
      |          WHEN 3 THEN source || '.GitHub.io'
      |          ELSE 'co.uk' END)
      |      || '/Articles//' || CAST(doc_id AS VARCHAR) || '/?utm_campaign=x&id='
      |      || CAST(doc_id % 7 AS VARCHAR) || '&ref=rss&z=1#sec-2' AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM u),
      |s2 AS (SELECT doc_id,
      |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM s1),
      |s3 AS (SELECT doc_id, scheme,
      |  regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':(80|443)$$', '') AS host,
      |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM s2),
      |s4 AS (SELECT doc_id, scheme, host,
      |  regexp_replace(regexp_replace(
      |    regexp_extract(pathq, '^([^?]*)', 1), '//+', '/', 'g'), '/$$', '') AS path,
      |  regexp_extract(pathq, '^[^?]*\\?(.*)$$', 1) AS q FROM s3),
      |s5 AS (SELECT doc_id, scheme, host, path,
      |  list_sort(list_filter(string_split(q, '&'),
      |    p -> p <> '' AND NOT regexp_matches(p,
      |      '^(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)(=|$$)'))) AS keep
      |  FROM s4),
      |-- PSL longest-suffix match, restating the engine's rule snapshot:
      |-- exceptions first, then longer rules, then the prevailing default
      |psl AS (SELECT doc_id, scheme, host, path, keep,
      |  regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){0}[^.]+)$$', 1) AS suf1,
      |  regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){1}[^.]+)$$', 1) AS suf2,
      |  regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){2}[^.]+)$$', 1) AS suf3
      |  FROM s5),
      |ps AS (SELECT *, CASE
      |    WHEN suf3 IN (${sqlList(excByLen(3))}) THEN 2
      |    WHEN suf2 IN (${sqlList(excByLen(2))}) THEN 1
      |    WHEN suf3 IN (${sqlList(plainByLen(3))})
      |      OR (suf2 IN (${sqlList(wildParentsByLen(2))}) AND suf3 <> '') THEN 3
      |    WHEN suf2 IN (${sqlList(plainByLen(2))})
      |      OR (suf1 IN (${sqlList(wildParentsByLen(1))}) AND suf2 <> '') THEN 2
      |    ELSE 1 END AS ps_len FROM psl)
      |SELECT doc_id,
      |  scheme || '://' || host || path ||
      |    (CASE WHEN len(keep) > 0 THEN '?' || array_to_string(keep, '&')
      |          ELSE '' END) AS url_canon,
      |  CASE ps_len
      |    WHEN 3 THEN nullif(regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){3}[^.]+)$$', 1), '')
      |    WHEN 2 THEN nullif(regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){2}[^.]+)$$', 1), '')
      |    ELSE nullif(regexp_extract(host, '(?:^|\\.)((?:[^.]+\\.){1}[^.]+)$$', 1), '')
      |  END AS domain
      |FROM ps ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q117
  /** Luhn-validated card redaction
    * ([[graft.operators.Redaction.redactCards]]): each document gets a
    * planted candidate by `doc_id % 4` — two industry TEST numbers that
    * pass the Luhn check (one bare, one space-separated) and two
    * same-shape runs that fail it — and only the valid ones may turn
    * into `[CARD]`. This is the practical fix for the naive digit-run
    * rule (which also eats order ids and barcodes): a 16-digit run
    * passes Luhn 1 time in 10, so validation removes ~90% of false
    * redactions while a real card never escapes. Extraction,
    * validation fold, and replacement fold are per-row Catalyst
    * chains; the oracle replays the whole thing — pattern, checksum
    * arithmetic (nested DuckDB lambdas), and the replace fold. */
  val q117CardRedact: Q = (s, dir) => {
    import s.implicits._
    val card = expr("""CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN '4111111111111111'
      WHEN 1 THEN '4111-1111-1111-1112'
      WHEN 2 THEN '5500 0000 0000 0004'
      ELSE '1234567890123456' END""")
    Tables.documents(s, dir)
      .select($"doc_id", concat($"text", lit(" pay "), card).as("raw"))
      .select($"doc_id",
        graft.operators.Redaction.redactCards($"raw").as("redacted"))
      .withColumn("n_cards", graft.operators.Redaction.tokenCount(
        $"redacted", graft.operators.Redaction.cardToken))
      .orderBy($"doc_id")
  }
  val q117Sql: String = {
    val reg = "list_filter(string_split(regexp_replace(c, '[ -]', '', 'g'), ''), d -> d <> '')"
    def dig(i: String) = s"CAST($reg[len($reg)-$i+1] AS BIGINT)"
    val luhn =
      s"""(len($reg) BETWEEN 13 AND 19) AND
         |   (list_reduce(list_prepend(0, list_transform(generate_series(1, len($reg)), i ->
         |      CASE WHEN i % 2 = 0 THEN
         |        CASE WHEN ${dig("i")}*2 > 9 THEN ${dig("i")}*2 - 9 ELSE ${dig("i")}*2 END
         |      ELSE ${dig("i")} END)),
         |     (a, x) -> a + x) % 10 = 0)""".stripMargin
    val valids =
      s"list_filter(regexp_extract_all(raw, '\\b\\d(?:[ -]?\\d){12,18}\\b'), c -> $luhn)"
    s"""WITH r AS (
       |  SELECT doc_id, text || ' pay ' || (CASE CAST(doc_id % 4 AS INT)
       |    WHEN 0 THEN '4111111111111111'
       |    WHEN 1 THEN '4111-1111-1111-1112'
       |    WHEN 2 THEN '5500 0000 0000 0004'
       |    ELSE '1234567890123456' END) AS raw
       |  FROM documents),
       |red AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(raw, $valids),
       |      (acc, c) -> replace(acc, c, '[CARD]')) AS redacted
       |  FROM r)
       |SELECT doc_id, redacted,
       |       len(regexp_extract_all(redacted, '\\[CARD\\]')) AS n_cards
       |FROM red ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q123
  /** IBAN + IPv6 redaction
    * ([[Redaction.redactIbans]]/[[Redaction.redactIpv6]]): per
    * `doc_id % 5` each document plants one case — a valid bare IBAN, a
    * valid grouped-print IBAN (spaces), a checksum-INVALID IBAN of the
    * same shape (one digit tweaked; must survive), a full-form IPv6,
    * and a shape-matching non-IBAN invoice code next to a
    * `::`-compressed IPv6. Only the checksum-valid IBANs may become
    * `[IBAN]` — the ISO 13616 mod-97 check runs as a sequential
    * Catalyst fold (incremental `mod` per character, no big integer),
    * the same no-UDF pattern as the Luhn gate (q117) — and both IPv6
    * surface forms become `[IPV6]`. The oracle restates pattern,
    * rearrangement, the fold (ascii-value list, mod-97 steps), and the
    * replacement loop. Zero shuffles: one codegen'd scan. */
  val q123IbanRedact: Q = (s, dir) => {
    import s.implicits._
    val planted = expr("""CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'GB82WEST12345698765432'
      WHEN 1 THEN 'DE89 3704 0044 0532 0130 00'
      WHEN 2 THEN 'GB82 WEST 1234 5698 7654 31'
      WHEN 3 THEN 'fd00:0db8:85a3:0000:0000:8a2e:0370:7334'
      ELSE 'AB12INVOICENUMBER9876 via fe80::1' END""")
    Tables.documents(s, dir)
      .select($"doc_id", concat($"text", lit(" acct "), planted, lit(" end")).as("raw"))
      .select($"doc_id",
        graft.operators.Redaction.redactIbans(
          graft.operators.Redaction.redactIpv6($"raw")).as("redacted"))
      .withColumn("n_iban", graft.operators.Redaction.tokenCount(
        $"redacted", graft.operators.Redaction.ibanToken))
      .withColumn("n_ipv6", graft.operators.Redaction.tokenCount(
        $"redacted", graft.operators.Redaction.ipv6Token))
      .orderBy($"doc_id")
  }
  val q123Sql: String = {
    // single line: this fragment interpolates into a stripMargin string,
    // where a line-leading "||" would lose a pipe to margin stripping
    val mod97 =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_filter(string_split(" +
        "substr(upper(replace(c, ' ', '')), 5) || " +
        "substr(upper(replace(c, ' ', '')), 1, 4), ''), ch -> ch <> ''), " +
        "ch -> CAST(ascii(ch) AS BIGINT))), " +
        "(a, x) -> CASE WHEN x BETWEEN 48 AND 57 " +
        "THEN (a * 10 + (x - 48)) % 97 " +
        "ELSE (a * 100 + (x - 55)) % 97 END)"
    val ibanOk =
      s"""(length(replace(c, ' ', '')) BETWEEN 15 AND 34) AND ($mod97 = 1)"""
    val ipv6Pat =
      """(?i)\b(?:[0-9a-f]{1,4}:){7}[0-9a-f]{1,4}\b|(?i)(?:[0-9a-f]{1,4}:){1,7}:(?:[0-9a-f]{1,4}(?::[0-9a-f]{1,4}){0,6})?|(?i)::(?:[0-9a-f]{1,4}(?::[0-9a-f]{1,4}){0,7})"""
    s"""WITH r AS (
       |  SELECT doc_id, text || ' acct ' || (CASE CAST(doc_id % 5 AS INT)
       |    WHEN 0 THEN 'GB82WEST12345698765432'
       |    WHEN 1 THEN 'DE89 3704 0044 0532 0130 00'
       |    WHEN 2 THEN 'GB82 WEST 1234 5698 7654 31'
       |    WHEN 3 THEN 'fd00:0db8:85a3:0000:0000:8a2e:0370:7334'
       |    ELSE 'AB12INVOICENUMBER9876 via fe80::1' END) || ' end' AS raw
       |  FROM documents),
       |v6 AS (
       |  SELECT doc_id, regexp_replace(raw, '$ipv6Pat', '[IPV6]', 'g') AS t1
       |  FROM r),
       |red AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(t1,
       |      list_filter(regexp_extract_all(t1,
       |        '\\b[A-Z]{2}\\d{2}(?:[A-Z0-9]{11,30}|(?: [A-Z0-9]{4}){2,7}(?: [A-Z0-9]{1,3})?)\\b'), c -> $ibanOk)),
       |      (acc, c) -> replace(acc, c, '[IBAN]')) AS redacted
       |  FROM v6)
       |SELECT doc_id, redacted,
       |       len(regexp_extract_all(redacted, '\\[IBAN\\]')) AS n_iban,
       |       len(regexp_extract_all(redacted, '\\[IPV6\\]')) AS n_ipv6
       |FROM red ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q119/q120
  /** Shared fixture for the classifier-training gates: label
    * `y = doc_id % 2` with a planted signal token (`qualgood` /
    * `qualbad`, sixteen occurrences — mean pooling divides the bucket
    * weight by doc length, so the planted feature needs mass to
    * dominate within few epochs) — linearly separable through the
    * hashed feature map by construction. */
  private def labeledDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", ($"doc_id" % 2).cast("double").as("y"),
        concat($"text", when($"doc_id" % 2 === 1, lit(" qualgood" * 16))
          .otherwise(lit(" qualbad" * 16))).as("text"))
  }
  private val fitDim = 32
  private val fitEpochs = 12
  private val fitLr = 8.0 // largest power of two stable for this design matrix
  private val fitQ = 1048576L   // 2^20, gradient quantization scale
  private val fitWQ = 1073741824L // 2^30, weight dyadic-grid scale

  /** Memoized per sf-dir as an in-memory [[Scratch.session]] value:
    * q119 and q120 gate the SAME deterministic fit (the oracle replays
    * it independently for each), so refitting per query would only
    * re-run identical arithmetic — the persist()-across-consumers
    * pattern at model granularity. Bench's cold pass clears the
    * session, so q119/q120's cold numbers carry the fit. */
  private def runFit(s: SparkSession, dir: String): (Seq[Double], Double) =
    Scratch.session("logistic_fit", dir)(_ =>
      QualityFilters.logisticFit(labeledDocs(s, dir), "text", "y",
        dim = fitDim, epochs = fitEpochs, lr = fitLr))

  /** The fit replayed in DuckDB, epoch by epoch (unrolled CTE chain —
    * the oracle restates the ALGORITHM, not copied outputs): per epoch,
    * per-doc `p` from the previous weights (the per-doc weight sum is
    * exact because weights are dyadic, so a join-sum equals the
    * engine's sequential fold), long-quantized residuals, exact integer
    * gradient sums, and the driver's update arithmetic. */
  private def fitCtes: String = {
    val digits = md5Bits32Sql("md5(t)")
    val epochs = (1 to fitEpochs).map { e =>
      s"""ds$e AS MATERIALIZED (
         |  SELECT d.doc_id, d.y, d.n,
         |    1.0 / (1.0 + exp(-(COALESCE(sw.s, 0.0) / d.n
         |      + (SELECT bias FROM b${e - 1})))) AS p
         |  FROM docs d LEFT JOIN (
         |    SELECT tb.doc_id, sum(w.w) AS s
         |    FROM tb JOIN w${e - 1} w USING (bkt) GROUP BY tb.doc_id) sw
         |  USING (doc_id)),
         |g$e AS MATERIALIZED (
         |  SELECT tb.bkt,
         |    sum(CAST(round((ds.p - ds.y) / ds.n * $fitQ) AS BIGINT)) AS s
         |  FROM tb JOIN ds$e ds USING (doc_id) GROUP BY tb.bkt),
         |w$e AS MATERIALIZED (
         |  SELECT pw.bkt,
         |    round((pw.w - $fitLr * (COALESCE(g.s, 0)
         |      / ($fitQ.0 * (SELECT n FROM nd)))) * $fitWQ.0) / $fitWQ.0 AS w
         |  FROM w${e - 1} pw LEFT JOIN g$e g USING (bkt)),
         |b$e AS MATERIALIZED (
         |  SELECT round(((SELECT bias FROM b${e - 1})
         |    - $fitLr * (sum(CAST(round((p - y) * $fitQ) AS BIGINT))
         |      / ($fitQ.0 * (SELECT n FROM nd)))) * $fitWQ.0) / $fitWQ.0
         |    AS bias
         |  FROM ds$e)""".stripMargin
    }.mkString(",\n")
    s"""lab AS (
       |  SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y,
       |    text || CASE WHEN doc_id % 2 = 1 THEN repeat(' qualgood', 16)
       |                 ELSE repeat(' qualbad', 16) END AS text
       |  FROM documents),
       |tk AS MATERIALIZED (SELECT doc_id, y, string_split($normSql, ' ') AS w FROM lab),
       |docs AS MATERIALIZED (SELECT doc_id, y, greatest(len(w), 1.0) AS n FROM tk),
       |nd AS MATERIALIZED (SELECT count(*) AS n FROM docs),
       |tb AS MATERIALIZED (
       |  SELECT doc_id, (($digits) % $fitDim) AS bkt
       |  FROM (SELECT doc_id, unnest(w) AS t FROM tk)),
       |w0 AS (
       |  SELECT CAST(unnest(generate_series(0, ${fitDim - 1})) AS BIGINT) AS bkt,
       |         0.0 AS w),
       |b0 AS (SELECT 0.0 AS bias),
       |$epochs""".stripMargin
  }

  /** Distributed logistic-regression fit
    * ([[QualityFilters.logisticFit]]): full-batch GD as iterated
    * aggregation — per epoch one codegen'd scoring scan plus a
    * dim-row gradient shuffle, weights broadcast back as plan
    * literals. The gate dumps the fitted model itself (32 bucket
    * weights + bias as bucket −1), and the oracle REPLAYS all three
    * epochs in SQL: exact replay is possible because per-doc residuals
    * quantize to longs before summing (order-independent integer
    * gradients) and the power-of-two lr keeps weights exactly dyadic
    * (order-independent double sums). A single flipped rounding,
    * drifted hash, or wrong update rule diverges every later epoch. */
  val q119LogisticFit: Q = (s, dir) => {
    import s.implicits._
    val (w, b) = runFit(s, dir)
    (w.zipWithIndex.map { case (wt, i) => (i.toLong, wt) } :+ (-1L, b))
      .toDF("bucket", "weight")
      .select($"bucket", round($"weight", 9).as("weight"))
      .orderBy($"bucket")
  }
  val q119Sql: String =
    s"""WITH $fitCtes
       |SELECT bkt AS bucket, round(w, 9) AS weight FROM w$fitEpochs
       |UNION ALL
       |SELECT -1 AS bucket, round(bias, 9) AS weight FROM b$fitEpochs
       |ORDER BY bucket""".stripMargin

  /** [[QualityFilters.linearScore]] re-gated on FITTED weights — the
    * trained model scoring its own corpus (fit → score, the complete
    * curation-classifier loop): per label, document count, mean score,
    * and the 0.5-threshold confusion counts. Separation (mean score of
    * y=1 well above y=0, near-perfect accuracy) is additionally pinned
    * by spec; the oracle replays fit AND scoring. */
  val q120FitScore: Q = (s, dir) => {
    import s.implicits._
    val (w, b) = runFit(s, dir)
    labeledDocs(s, dir)
      .select($"doc_id", $"y",
        QualityFilters.linearScore($"text", w, bias = b, scale = 1.0).as("raw"))
      .groupBy($"y")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(round($"raw", 4)), 4).as("avg_score"),
        sum(when(($"raw" >= 0.5) === ($"y" === 1.0), 1L).otherwise(0L))
          .as("n_correct"))
      .orderBy($"y")
  }
  val q120Sql: String =
    s"""WITH $fitCtes,
       |fs AS (
       |  SELECT d.doc_id, d.y,
       |    1.0 / (1.0 + exp(-(COALESCE(sw.s, 0.0) / d.n
       |      + (SELECT bias FROM b$fitEpochs)))) AS p
       |  FROM docs d LEFT JOIN (
       |    SELECT tb.doc_id, sum(w.w) AS s
       |    FROM tb JOIN w$fitEpochs w USING (bkt) GROUP BY tb.doc_id) sw
       |  USING (doc_id))
       |SELECT y, count(*) AS n_docs,
       |       round(avg(round(p, 4)), 4) AS avg_score,
       |       CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_correct
       |FROM fs GROUP BY y ORDER BY y""".stripMargin

  // ---------------------------------------------------------------- q160
  /** Blocked sorted-neighborhood candidate generation
    * ([[graft.operators.Linkage.sortedNeighborhoodPairs]]): customers
    * blocked by nation, sorted by (name, key), each paired with its 2
    * successors — the fuzzy-key blocking pass that complements q82's
    * equi-blocking and q92's similarity scoring. The Spark side is one
    * keyed window with `w` leads (one exchange, candidate volume w·n by
    * construction); the oracle replays the relational spelling — a
    * row_number self-join on rank distance ∈ [1, w] — that shuffles
    * twice and joins for the identical pair set. Gate aggregates per
    * nation: pair count, key-sum checksum over both sides, and the
    * distance histogram folded in (sum of dist), so one wrong
    * neighbor anywhere moves a sum. */
  val q160SortedNeighborhood: Q = (s, dir) => {
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select($"c_nationkey", $"c_name", $"c_custkey")
    Linkage.sortedNeighborhoodPairs(cust, "c_nationkey",
      Seq("c_name"), "c_custkey", w = 2)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"id_a" + $"id_b").as("key_sum"),
        sum($"dist".cast("long")).as("dist_sum"))
      .orderBy($"c_nationkey")
  }
  val q160Sql: String =
    """WITH o AS (
      |  SELECT c_nationkey AS nat, c_custkey AS id,
      |         row_number() OVER (PARTITION BY c_nationkey
      |           ORDER BY c_name, c_custkey) AS rn
      |  FROM customer)
      |SELECT a.nat AS c_nationkey, count(*) AS n_pairs,
      |       CAST(sum(a.id + b.id) AS BIGINT) AS key_sum,
      |       CAST(sum(b.rn - a.rn) AS BIGINT) AS dist_sum
      |FROM o a JOIN o b ON a.nat = b.nat AND b.rn - a.rn BETWEEN 1 AND 2
      |GROUP BY a.nat ORDER BY a.nat""".stripMargin

  // ---------------------------------------------------------------- q164
  /** Declarative data-quality contract
    * ([[graft.operators.Validation.expectationReport]]): five
    * expectations over orders — positive totals, non-null dates,
    * status domain, referential integrity to customer (a broadcast
    * left join whose unmatched right side IS the violation predicate),
    * and a priority-format check — evaluated in ONE aggregation pass
    * (N rules, one scan) and unpivoted to the tall
    * (rule, n_violations, n_rows, viol_rate) report a pipeline
    * publishes with every snapshot. The oracle replays each rule as a
    * CASE sum and unpivots by UNION ALL. */
  val q164DqReport: Q = (s, dir) => {
    import s.implicits._
    val custKeys = Tables.customer(s, dir).select($"c_custkey")
    val facts = Tables.orders(s, dir)
      .join(broadcast(custKeys), $"o_custkey" === $"c_custkey", "left")
    Validation.expectationReport(facts, Seq(
      "positive_total" -> ($"o_totalprice" <= 0),
      "date_not_null" -> $"o_orderdate".isNull,
      "status_domain" -> !$"o_orderstatus".isin("O", "F", "P"),
      "custkey_resolves" -> $"c_custkey".isNull,
      "priority_format" -> !$"o_orderpriority".rlike("^[1-5]-")))
      .orderBy($"rule")
  }
  val q164Sql: String = {
    val rules = Seq(
      "positive_total" -> "o_totalprice <= 0",
      "date_not_null" -> "o_orderdate IS NULL",
      "status_domain" -> "o_orderstatus NOT IN ('O', 'F', 'P')",
      "custkey_resolves" -> "c_custkey IS NULL",
      "priority_format" -> "NOT regexp_matches(o_orderpriority, '^[1-5]-')")
    val sums = rules.map { case (n, p) =>
      s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS $n"
    }.mkString(",\n      |    ")
    val arms = rules.map { case (n, _) =>
      s"SELECT '$n' AS rule, $n AS n_violations, n_rows FROM a"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH f AS (
       |  SELECT o.*, c.c_custkey FROM orders o
       |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
       |a AS (
       |  SELECT count(*) AS n_rows,
       |    $sums
       |  FROM f),
       |t AS (
       |  $arms)
       |SELECT rule, n_violations, n_rows,
       |       round(n_violations / n_rows, 6) AS viol_rate
       |FROM t ORDER BY rule""".stripMargin
  }

  /** Registry: name → (spark program, oracle sql). */
  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q73_repetition", q73Repetition, Some(q73Sql)),
    ("q74_pii_redact", q74PiiRedact, Some(q74Sql)),
    ("q75_snapshot_diff", q75SnapshotDiff, Some(q75Sql)),
    ("q76_cube", q76Cube, Some(q76Sql)),
    ("q77_trigram_lm", q77TrigramLm, Some(q77Sql)),
    ("q79_grouping_sets", q79GroupingSets, Some(q79Sql)),
    ("q81_incremental_agg", q81IncrementalAgg, Some(q81Sql)),
    ("q82_linkage_score", q82LinkageScore, Some(q82Sql)),
    ("q84_impute", q84Impute, Some(q84Sql)),
    ("q90_oov_rate", q90OovRate, Some(q90Sql)),
    ("q91_merge_apply", q91MergeApply, Some(q91Sql)),
    ("q92_fuzzy_linkage", q92FuzzyLinkage, Some(q92Sql)),
    ("q196_jw_linkage", q196JwLinkage, Some(q196Sql)),
    ("q105_html_strip", q105HtmlStrip, Some(q105Sql)),
    ("q108_domain_cap", q108DomainCap, Some(q108Sql)),
    ("q109_classifier_score", q109ClassifierScore, Some(q109Sql)),
    ("q112_url_canon", q112UrlCanon, Some(q112Sql)),
    ("q117_card_redact", q117CardRedact, Some(q117Sql)),
    ("q119_logistic_fit", q119LogisticFit, Some(q119Sql)),
    ("q120_fit_score", q120FitScore, Some(q120Sql)),
    ("q123_iban_redact", q123IbanRedact, Some(q123Sql)),
    ("q160_sorted_neighborhood", q160SortedNeighborhood, Some(q160Sql)),
    ("q164_dq_report", q164DqReport, Some(q164Sql)),
    ("q182_lm_smoothed", q182LmSmoothed, Some(q182Sql)),
  )
}
