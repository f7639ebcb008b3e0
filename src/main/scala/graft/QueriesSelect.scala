package graft

import org.apache.spark.sql.functions._
import graft.operators.{BloomJoin, Sampling, TermScoring}

/** Data-selection / relevance extension catalog: term weighting,
  * stratified sampling, per-group normalization, Bloom semi-join
  * reduction, and exact equi-depth histograms — the selection toolkit a
  * curation pipeline applies between dedup and packing.
  */
object QueriesSelect {
  import Queries.Q
  import QueriesText.{md5Bits32Sql, normSql, qualitySql}

  // ---------------------------------------------------------------- q59
  /** TF-IDF top-3 terms per document ([[TermScoring]]): explode → (doc,
    * term) agg → df derived from tf → broadcast corpus-size join →
    * ranked window on the rounded score. */
  val q59Tfidf: Q = (s, dir) => {
    import s.implicits._
    val scored = TermScoring.tfIdf(
      Tables.documents(s, dir).select($"doc_id", $"text"), "doc_id", "text")
    TermScoring.topTermsPerDoc(scored, 3)
      .select($"id".as("doc_id"), $"rank", $"term", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rank")
  }
  val q59Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |         round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                  ORDER BY tfidf DESC, term ASC) AS rk
       |      FROM scored)
       |SELECT doc_id, rk AS "rank", term, tf, df, tfidf
       |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- q101
  /** BM25 retrieval scores ([[TermScoring.bm25]]) for the query bag
    * {scan, join, window} over the documents corpus — k1 = 1.2,
    * b = 0.75, the standard Okapi constants. The oracle restates the
    * full formula (dl/avgdl normalization, Lucene-form idf) in SQL;
    * ordering is by doc_id, so no rank depends on a float compare. */
  val q101Bm25: Q = (s, dir) => {
    import s.implicits._
    TermScoring.bm25(Tables.documents(s, dir).select($"doc_id", $"text"),
        "doc_id", "text", queryTerms = Seq("scan", "join", "window"))
      .select($"id".as("doc_id"), $"n_terms", $"bm25")
      .orderBy($"doc_id")
  }
  val q101Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id AS id, unnest(string_split($normSql, ' ')) AS term FROM documents),
       |dl AS (SELECT id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
       |tf AS (SELECT id, term, count(*) AS tf FROM tok
       |       WHERE term IN ('scan', 'join', 'window') GROUP BY 1, 2),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.id, ln(1 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
       |           * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
       |           AS contrib
       |  FROM tf JOIN dfx USING (term) JOIN dl USING (id) CROSS JOIN stats s)
       |SELECT id AS doc_id, count(*) AS n_terms, round(sum(contrib), 4) AS bm25
       |FROM scored GROUP BY id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Stratified deterministic sampling ([[Sampling.stratifiedSample]]):
    * per-language keep rates decided by the id hash — shuffle-free,
    * rerun-stable, join-consistent. Aggregated per stratum so the gate
    * checks the exact kept-row set (counts + char sums). */
  val q60Stratified: Q = (s, dir) => {
    import s.implicits._
    Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
      Map("en" -> 50, "es" -> 25, "de" -> 25, "fr" -> 10))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
      .orderBy($"lang")
  }
  val q60Sql: String =
    s"""WITH b AS (
       |  SELECT lang, n_chars,
       |         (${md5Bits32Sql("md5(CAST(doc_id AS VARCHAR))")}) % 100 AS bucket,
       |         CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 25
       |                   WHEN 'de' THEN 25 WHEN 'fr' THEN 10 ELSE 0 END AS rate
       |  FROM documents)
       |SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM b WHERE bucket < rate GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Per-group z-score normalization: length normalized within language
    * via window mean/stddev — the feature-scaling shape applied before
    * mixing heterogeneous sources. Integer inputs keep the moment sums
    * exact; the 3-dp round absorbs the engines' different streaming-
    * variance update orders. The `+ 0.0` normalizes IEEE negative zero:
    * a z of −0.0004 rounds to −0.0 in DuckDB but +0.0 in Spark
    * (BigDecimal HALF_UP drops the sign), and the driver compares
    * stringified values. */
  val q61ZScore: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars",
        (round(($"n_chars" - avg($"n_chars").over(w)) / stddev_samp($"n_chars").over(w), 3)
          + 0.0).as("z"))
      .orderBy($"doc_id")
  }
  val q61Sql: String =
    """SELECT doc_id, lang, n_chars,
      |  round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
      |        / stddev_samp(n_chars) OVER (PARTITION BY lang), 3) + 0.0 AS z
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Bloom semi-join reduction ([[BloomJoin]]): sketch the urgent-order
    * keys, pre-filter lineitem BEFORE its shuffle, then exact-join (the
    * join kills the sketch's false positives). The oracle is the PLAIN
    * join — the gate proves the reduction changes row traffic, never the
    * answer. */
  val q62BloomJoin: Q = (s, dir) => {
    import s.implicits._
    val urgent = Tables.orders(s, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderpriority")
    BloomJoin.bloomJoin(
      Tables.lineitem(s, dir).select($"l_orderkey", $"l_quantity"),
      "l_orderkey", urgent, "o_orderkey",
      expectedItems = 1000000L, fpp = 0.01)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(floor($"l_quantity").cast("long")).as("sum_qty"))
      .orderBy($"o_orderpriority")
  }
  val q62Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Exact equi-depth histogram: ntile(8) over the (n_chars, doc_id)
    * total order → per-bucket count/lo/hi. The single-partition global
    * window is the exactness price and is fine at report cardinalities;
    * the 100 TB path computes bucket BOUNDARIES from a quantile sketch
    * ([[graft.operators.Reports.quartilesApprox]]) and assigns buckets
    * with a per-row comparison instead. */
  val q63EquiDepth: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n_chars", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"n_chars", ntile(8).over(w).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"n_chars").as("lo"), max($"n_chars").as("hi"))
      .orderBy($"bucket")
  }
  val q63Sql: String =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |         ntile(8) OVER (ORDER BY n_chars, doc_id) AS bucket
      |  FROM documents)
      |SELECT bucket, count(*) AS n, min(n_chars) AS lo, max(n_chars) AS hi
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q64
  /** The native [[graft.plans.TopKPerKey]] operator (custom logical plan
    * + strategy + two-phase bounded-heap physical exec) on q56's
    * selection task: top-3 quality docs per source. The oracle is the
    * naive ranking window — the gate proves the custom physical operator
    * implements exactly row_number semantics, ties and all. */
  val q64TopkPlan: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextAnalysis
    val scored = Tables.documents(s, dir)
      .select($"source", $"doc_id", TextAnalysis.qualityScore($"text").as("q"))
    graft.plans.TopKPerKey.of(scored,
        keys = Seq("source"), orderBy = Seq(("q", true), ("doc_id", false)), k = 3)
      .select($"source", $"doc_id", round($"q", 4).as("quality"), $"q")
      .orderBy($"source", $"q".desc, $"doc_id")
      .drop($"q")
  }
  val q64Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    $qualitySql
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, q,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY q DESC, doc_id ASC) AS rk
       |  FROM t)
       |SELECT source, doc_id, round(q, 4) AS quality
       |FROM r WHERE rk <= 3 ORDER BY source, q DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Semi-structured columns through Spark 4's native VARIANT type:
    * `parse_json` once, typed `variant_get` extraction — the
    * shredding-friendly path that replaces per-field regex/JSON-string
    * reparsing (q23's lenient form stays for malformed payloads). The
    * oracle extracts the same field with DuckDB's JSON operator. */
  val q65Variant: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select(variant_get(parse_json($"props"), "$.k", "int").as("k"), $"value")
      .groupBy(($"k" % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        sum($"k").cast("long").as("k_sum"),
        round(avg($"value"), 4).as("value_avg"))
      .orderBy($"k_mod")
  }
  val q65Sql: String =
    """SELECT CAST(props->>'k' AS INT) % 10 AS k_mod, count(*) AS n,
      |  CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS k_sum,
      |  round(avg(value), 4) AS value_avg
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Wide → long unpivot (the inverse of the q19 EAV pivot): melt the
    * numeric part attributes into (attr, val) rows with the native
    * `unpivot` operator — one Expand, no self-union scan. The oracle IS
    * the self-union, stating the semantics in portable SQL. */
  val q66Unpivot: Q = (s, dir) => {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", $"p_retailprice",
        $"p_size".cast("double").as("p_size"))
      .unpivot(Array($"p_partkey"), Array($"p_retailprice", $"p_size"),
        "attr", "val")
      .groupBy($"attr")
      .agg(count(lit(1)).as("n"), round(sum($"val"), 2).as("total"),
        round(avg($"val"), 4).as("mean"))
      .orderBy($"attr")
  }
  val q66Sql: String =
    """WITH u AS (
      |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part)
      |SELECT attr, count(*) AS n, round(sum(val), 2) AS total,
      |       round(avg(val), 4) AS mean
      |FROM u GROUP BY attr ORDER BY attr""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Binned range join ([[graft.operators.RangeJoin]]): point-in-interval
    * containment restated as an equi-join on value bins — the scale path
    * that replaces the broadcast-nested-loop a bare `BETWEEN` join
    * plans. Irregular band widths + a coverage gap prove the bin
    * expansion and the exact re-check; the oracle IS the theta join. */
  val q67RangeJoin: Q = (s, dir) => {
    import s.implicits._
    val bands = Seq(
      (0.0, 40.0, "b1_tiny"), (60.0, 90.0, "b2_low"), (90.0, 200.0, "b3_mid"),
      (200.0, 350.0, "b4_high"), (350.0, 500.0, "b5_top"))
      .toDF("lo", "hi", "band")
    graft.operators.RangeJoin.binnedRangeJoin(
      Tables.events(s, dir).select($"value"), "value",
      bands, "lo", "hi", binWidth = 25.0)
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), round(avg($"value"), 4).as("value_avg"))
      .orderBy($"band")
  }
  val q67Sql: String =
    """WITH bands(lo, hi, band) AS (VALUES
      |  (0.0, 40.0, 'b1_tiny'), (60.0, 90.0, 'b2_low'), (90.0, 200.0, 'b3_mid'),
      |  (200.0, 350.0, 'b4_high'), (350.0, 500.0, 'b5_top'))
      |SELECT band, count(*) AS n, round(avg(value), 4) AS value_avg
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY band ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Winsorized per-group stats ([[graft.operators.Normalize]]): clip
    * n_chars to each language's exact [p10, p90] band, report clipped
    * counts and the winsorized mean — outlier-robust normalization
    * before cross-source mixing. Exact percentile ≡ quantile_cont
    * (q16's rule); the bounds join back via broadcast. */
  val q70Winsorize: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Normalize
      .winsorize(Tables.documents(s, dir), "lang", "n_chars", 0.10, 0.90)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(when($"n_chars" < $"p_lo" || $"n_chars" > $"p_hi", 1L)
          .otherwise(0L)).as("n_clipped"),
        round(avg($"n_chars_wins"), 4).as("wins_mean"))
      .orderBy($"lang")
  }
  val q70Sql: String =
    """WITH b AS (
      |  SELECT lang, quantile_cont(n_chars, 0.10) AS p10,
      |         quantile_cont(n_chars, 0.90) AS p90
      |  FROM documents GROUP BY lang)
      |SELECT d.lang, count(*) AS n,
      |  CAST(sum(CASE WHEN n_chars < p10 OR n_chars > p90 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped,
      |  round(avg(least(greatest(n_chars, p10), p90)), 4) AS wins_mean
      |FROM documents d JOIN b ON d.lang = b.lang
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Sliding window FRAME aggregation (§2.5 depth beyond rank/lag): a
    * 3-event moving average of view values per user in event-time
    * order. Frame order is a total order (user, ms), so the ≤3-value
    * float sums are bit-identical across engines pre-round. */
  val q71MovingAvg: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms").rowsBetween(-2, 0)
    Tables.events(s, dir)
      .filter($"event_type" === "view")
      .select($"user_id", unix_millis($"ts").as("ms"), $"value")
      .select($"user_id", $"ms", round($"value", 2).as("value"),
        round(avg($"value").over(w), 4).as("mv3"),
        count(lit(1)).over(w).as("w"))
      .orderBy($"user_id", $"ms")
  }
  val q71Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value
      |           FROM events WHERE event_type = 'view')
      |SELECT user_id, ms, round(value, 2) AS value,
      |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mv3,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS w
      |FROM e ORDER BY user_id, ms""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Deterministic per-group uniform sample
    * ([[graft.operators.Sampling.bottomKByHash]]): for every language,
    * the 8 documents with the smallest 48-bit md5-prefix of their id —
    * the order-independent replacement for reservoir sampling (a
    * reservoir's pick depends on encounter/merge order; bottom-k-by-hash
    * is a pure function of the id set, so reruns, repartitions, and the
    * oracle all agree). The Spark side selects via the map-side-trimming
    * [[graft.functions.TopKAgg]] — each partition ships at most k rows
    * into the exchange — while the oracle replays the same pick with the
    * window spelling (`row_number() ≤ k` over hash-prefix, id order)
    * that an engine without mergeable top-k would use. */
  val q152BottomkSample: Q = (s, dir) => {
    import s.implicits._
    Sampling.bottomKByHash(Tables.documents(s, dir), "lang", "doc_id", k = 8)
      .orderBy($"lang", $"rank")
  }
  val q152Sql: String =
    """WITH h AS (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id) AS rank
      |  FROM documents)
      |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id
      |FROM h WHERE rank <= 8 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- q155
  /** Robust (median/MAD) outlier scoring
    * ([[graft.operators.Normalize.robustZOutliers]]): per event_type,
    * the resistant score `0.6745·(x−med)/MAD` and the |rz| > 3.5 flag —
    * the outlier detector whose location/scale estimates don't move
    * with the outliers they're hunting (50% breakdown, vs 0% for the
    * q61 mean/stddev z-score). Gate aggregates per group: count, the
    * two robust statistics (exact interpolated percentiles ≡ DuckDB
    * `quantile_cont`), outlier count, and the max |rz| — identical
    * float expression trees both sides, rounded. Zero-MAD groups score
    * null/false rather than ±∞ in both replays. */
  val q155MadOutliers: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Normalize.robustZOutliers(
      Tables.events(s, dir).select($"event_type", $"value"),
      "event_type", "value")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(first($"med"), 4).as("med"),
        round(first($"mad"), 4).as("mad"),
        sum($"is_outlier".cast("long")).as("n_outliers"),
        round(max(abs($"rz")), 4).as("max_rz"))
      .orderBy($"event_type")
  }
  val q155Sql: String =
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |           FROM events GROUP BY 1),
      |d AS (SELECT e.event_type, e.value, m.med
      |      FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      |       FROM d GROUP BY 1),
      |sc AS (SELECT d.event_type, d.value, d.med, md.mad,
      |         CASE WHEN md.mad > 0 THEN 0.6745 * (d.value - d.med) / md.mad END AS rz
      |       FROM d JOIN md USING (event_type))
      |SELECT event_type, count(*) AS n, round(any_value(med), 4) AS med,
      |       round(any_value(mad), 4) AS mad,
      |       CAST(sum(CASE WHEN abs(rz) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       round(max(abs(rz)), 4) AS max_rz
      |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q174
  /** Window-top-k auto-rewrite ([[graft.plans.WindowTopKRewrite]]): the
    * query is written in the NAIVE textbook spelling — `row_number()
    * OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id)` filtered
    * to ≤ 5 with the rank dropped — and the optimizer rule rewrites it
    * to the bounded-heap [[graft.plans.TopKPerKey]] plan (map-side
    * trim, O(keys·k) exchange, no sort). The oracle replays the same
    * naive spelling in SQL, so the gate proves the rewrite is
    * SEMANTICS-PRESERVING on real data; `PlanShapeSpec` separately
    * pins that the rewritten plan actually contains the heap operator
    * and no Window node. */
  val q174WindowTopkRewrite: Q = (s, dir) => {
    import s.implicits._
    graft.plans.TopKPerKey.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", $"n_chars")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 5)
      .drop("rn") // pruned rank — the rewrite precondition
      .orderBy($"lang", $"n_chars".desc, $"doc_id")
  }
  val q174Sql: String =
    """WITH r AS (
      |  SELECT lang, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 5
      |ORDER BY lang, n_chars DESC, doc_id""".stripMargin

  // ---------------------------------------------------------------- q176
  /** WITH-TIES top-k via the `rank()` auto-rewrite: documents ranked
    * per language by a COARSE length bucket (n_chars div 100,
    * descending — coarse on purpose, so boundary ties are real and
    * plentiful), filtered to rank ≤ 3 with the rank column dropped.
    * [[graft.plans.WindowTopKRewrite]] rewrites this spelling to the
    * tie-aware bounded heap (`TopKPerKey(withTies = true)`): every row
    * sharing the 3rd row's bucket survives, reproducing rank's
    * variable row count without a window, a sort, or an unbounded
    * shuffle. The output SET is deterministic even though the bucket
    * ordering alone is non-total — rank ≤ 3 membership depends only on
    * each row's bucket vs the per-language cutoff bucket. Oracle
    * replays the naive rank() spelling. */
  val q176RankTies: Q = (s, dir) => {
    import s.implicits._
    graft.plans.TopKPerKey.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"bucket".desc)
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", expr("n_chars div 100").as("bucket"))
      .withColumn("rk", rank().over(w))
      .where($"rk" <= 3)
      .drop("rk")
      .orderBy($"lang", $"bucket".desc, $"doc_id")
  }
  val q176Sql: String =
    """WITH b AS (
      |  SELECT lang, doc_id, n_chars // 100 AS bucket FROM documents),
      |r AS (
      |  SELECT lang, doc_id, bucket,
      |         rank() OVER (PARTITION BY lang ORDER BY bucket DESC) AS rk
      |  FROM b)
      |SELECT lang, doc_id, bucket FROM r WHERE rk <= 3
      |ORDER BY lang, bucket DESC, doc_id""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q59_tfidf", q59Tfidf, Some(q59Sql)),
    ("q101_bm25", q101Bm25, Some(q101Sql)),
    ("q60_stratified", q60Stratified, Some(q60Sql)),
    ("q61_zscore", q61ZScore, Some(q61Sql)),
    ("q62_bloom_join", q62BloomJoin, Some(q62Sql)),
    ("q63_equidepth", q63EquiDepth, Some(q63Sql)),
    ("q64_topk_plan", q64TopkPlan, Some(q64Sql)),
    ("q65_variant", q65Variant, Some(q65Sql)),
    ("q66_unpivot", q66Unpivot, Some(q66Sql)),
    ("q67_range_join", q67RangeJoin, Some(q67Sql)),
    ("q70_winsorize", q70Winsorize, Some(q70Sql)),
    ("q71_moving_avg", q71MovingAvg, Some(q71Sql)),
    ("q152_bottomk_sample", q152BottomkSample, Some(q152Sql)),
    ("q155_mad_outliers", q155MadOutliers, Some(q155Sql)),
    ("q174_window_topk_rewrite", q174WindowTopkRewrite, Some(q174Sql)),
    ("q176_rank_ties", q176RankTies, Some(q176Sql)),
  )
}
