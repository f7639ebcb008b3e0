package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.Derivations

/** Analytic / windowed / reshaping query catalog (SURVEY.md §2 rows not
  * covered by [[Queries]]): set ops (U1), rate-over-total and ranking
  * windows (§2.5, A4), exact percentiles + both stddev flavors (A8/A9),
  * histogram binning (A12), top-k (O1/O2), EAV→wide pivot (S4), temporal
  * derivations (F1-F10), LIKE (F12), per-group distinct-count
  * completeness (A6), lenient casts + JSON extraction (P12).
  *
  * Same determinism contract as [[Queries]]: aliases match the oracle,
  * float aggregates rounded, results totally ordered. Timestamps are
  * never emitted raw (parquet ns vs Spark µs precision would flip the
  * driver's hash) — they surface as epoch seconds via `unix_timestamp`.
  */
object QueriesAnalytic {
  import Queries.Q

  // ---------------------------------------------------------------- q13
  /** U1 UNION ALL: two filtered projections re-combined by name, then
    * aggregated. At scale both branches scan the same parquet once each
    * with their filters pushed down; the union is a no-shuffle narrow op. */
  val q13Union: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val interactions = ev.filter($"event_type".isin("click", "view"))
      .select($"event_id", $"event_type", $"value")
    val conversions = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"event_type", $"value")
    interactions.unionByName(conversions)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("value_sum"))
      .orderBy($"event_type")
  }
  val q13Sql: String =
    """WITH u AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_type IN ('click','view')
      |  UNION ALL
      |  SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase')
      |SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q14
  /** A4 rate-over-total: frequency table with percentage via an
    * unpartitioned window — safe because it runs over the already
    * aggregated (group-count-sized) result, never the fact table. */
  val q14FreqRate: Q = (s, dir) => {
    import s.implicits._
    Reports.freqTable(Tables.orders(s, dir), "o_orderpriority")
      .orderBy($"o_orderpriority")
  }
  val q14Sql: String =
    """WITH counts AS (
      |  SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, cnt,
      |       round(100.0 * cnt / sum(cnt) OVER (), 4) AS pct
      |FROM counts ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q15
  /** §2.5 ranking window: top-2 orders per priority class by price.
    * row_number (not rank) + unique tie-break key ⇒ deterministic. */
  val q15WindowRank: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"o_orderpriority", $"rn", $"o_orderkey",
        round($"o_totalprice", 2).as("price"))
      .orderBy($"o_orderpriority", $"rn")
  }
  val q15Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice, 2) AS price
      |FROM r WHERE rn <= 2 ORDER BY o_orderpriority, rn""".stripMargin

  // ---------------------------------------------------------------- q16
  /** A8/A9 grouped stats: both stddev flavors (sample vs population —
    * the reference uses both, SURVEY §2.4) plus numpy-style exact
    * linear-interpolation percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). Exact percentile sorts per group — at 100 TB swap
    * `percentile_approx`, same call shape. */
  val q16GroupStats: Q = (s, dir) => {
    import s.implicits._
    // ONE array-percentile call, not three scalar ones: each scalar
    // percentile(col, p) builds and sorts its own per-group buffer of
    // the whole column — the array form sorts once (measured ~3×).
    // No fanOut here: repartitioning 600k rows costs more than the
    // single-task scan it parallelizes (measured 2.3s vs 2.9s) — the
    // holistic buffer merge moves the same rows either way
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(avg($"l_extendedprice"), 4).as("mean_price"),
        round(stddev_samp($"l_extendedprice"), 4).as("sd_samp"),
        round(stddev_pop($"l_extendedprice"), 4).as("sd_pop"),
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("p_arr"))
      .select($"l_returnflag", $"n", $"mean_price", $"sd_samp", $"sd_pop",
        round($"p_arr"(0), 4).as("p25"),
        round($"p_arr"(1), 4).as("p50"),
        round($"p_arr"(2), 4).as("p75"))
      .orderBy($"l_returnflag")
  }
  val q16Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(avg(l_extendedprice), 4) AS mean_price,
      |  round(stddev_samp(l_extendedprice), 4) AS sd_samp,
      |  round(stddev_pop(l_extendedprice), 4) AS sd_pop,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q17
  /** A12 fixed-width histogram: arithmetic bucketing (codegen'd, partial
    * agg map-side; shuffle carries ≤ #buckets rows). */
  val q17Histogram: Q = (s, dir) => {
    import s.implicits._
    Reports.histogram(Tables.orders(s, dir), $"o_totalprice", 0.0, 25000.0)
      .orderBy($"bucket")
  }
  val q17Sql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS bucket, count(*) AS cnt
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q18
  /** O1/O2 deterministic top-k: agg → TakeOrderedAndProject (each
    * partition retains k rows; no global sort). */
  val q18TopK: Q = (s, dir) => {
    import s.implicits._
    val rev = Tables.orders(s, dir).groupBy($"o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    Reports.topK(rev, 10, $"revenue", $"o_custkey")
  }
  val q18Sql: String =
    """SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      |FROM orders GROUP BY o_custkey
      |ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q19
  /** S4 EAV→wide pivot with an explicit value list (one pass — no
    * value-discovery scan, the same trick the engine uses for the
    * reference's 205-column CMP pivot). Missing cells coalesced to 0. */
  val q19Pivot: Q = (s, dir) => {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(wide)((df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy($"user_id")
  }
  val q19Sql: String =
    """SELECT user_id,
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS "click",
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS "error",
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS "purchase",
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS "signup",
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q20
  /** F2/F5/F6/F10 temporal derivations + a lag window (event-time deltas
    * per user). Timestamps surface as epoch seconds (never raw — see
    * object doc); deltas are therefore exact integers cross-engine. */
  val q20Temporal: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("es", unix_timestamp($"ts"))
      .withColumn("prev_es",
        lag($"es", 1).over(Window.partitionBy($"user_id").orderBy($"es", $"event_id")))
    ev.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        min($"es").as("first_es"),
        max($"es").as("last_es"),
        round(avg(Derivations.hourOfDay($"ts")), 4).as("avg_hour"),
        round(avg(Derivations.minutesToDays(($"es" - $"prev_es") / 60.0)), 4)
          .as("avg_gap_days"))
      .orderBy($"event_type")
  }
  val q20Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |         hour(ts) + minute(ts)/60.0 AS hod,
      |         lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |           PARTITION BY user_id
      |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_es
      |  FROM events)
      |SELECT event_type, count(*) AS n, min(es) AS first_es, max(es) AS last_es,
      |       round(avg(hod), 4) AS avg_hour,
      |       round(avg((es - prev_es) / 86400.0), 4) AS avg_gap_days
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q21
  /** F12 LIKE predicate pushed into the scan + P1-style filtering over
    * the documents table. */
  val q21Like: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".like("%spark%"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"lang")
  }
  val q21Sql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE text LIKE '%spark%'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q22
  /** A6 per-group distinct-entity completeness vs global distinct count
    * (reference cell 57). Exact countDistinct here; HLL at 100 TB. */
  val q22Completeness: Q = (s, dir) => {
    import s.implicits._
    Reports.completeness(Tables.events(s, dir), "event_type", "user_id")
      .orderBy($"event_type")
  }
  val q22Sql: String =
    """WITH tot AS (SELECT count(DISTINCT user_id) AS total FROM events)
      |SELECT event_type, count(DISTINCT user_id) AS n_entities,
      |       round(count(DISTINCT user_id) / (SELECT total FROM tot), 4) AS completeness
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q23
  /** P12 lenient cast + JSON-ish extraction: pull `k` out of the props
    * payload with a shared-regex extract (portable across engines), then
    * try_cast junk → null (pandas `to_numeric(errors='coerce')` intent). */
  val q23JsonLenient: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("k", regexp_extract($"props", "\"k\": ([0-9]+)", 1).cast("int"))
      .withColumn("k_str",
        when($"k" > 75, lit("not-a-number")).otherwise($"k".cast("string")))
      .withColumn("k_lenient", Derivations.lenientDouble($"k_str"))
    ev.groupBy(($"k" % 10).as("k_mod"))
      .agg(
        count(lit(1)).as("n"),
        count($"k_lenient").as("n_parsed"),
        round(sum(coalesce($"k_lenient", lit(0.0))), 2).as("k_sum"),
        round(avg($"value"), 4).as("value_avg"))
      .orderBy($"k_mod")
  }
  val q23Sql: String =
    """WITH ev AS (
      |  SELECT value, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k
      |  FROM events),
      |lenient AS (
      |  SELECT value, k,
      |         TRY_CAST(CASE WHEN k > 75 THEN 'not-a-number'
      |                       ELSE CAST(k AS VARCHAR) END AS DOUBLE) AS k_lenient
      |  FROM ev)
      |SELECT k % 10 AS k_mod, count(*) AS n, count(k_lenient) AS n_parsed,
      |       round(sum(coalesce(k_lenient, 0.0)), 2) AS k_sum,
      |       round(avg(value), 4) AS value_avg
      |FROM lenient GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q36
  /** ROLLUP grouping sets (hierarchy totals in one pass — Spark expands
    * to a single Expand + hash agg, no second scan). Rollup nulls are
    * labeled 'ALL' on both sides so cross-engine null-ordering rules
    * can't touch the sort. Revenue is an EXACT integer-cent sum
    * (prices are 2-decimal money, so `round(p·100)` is the exact cent
    * count and the long sum is order-independent) — the grand-total
    * float sum needs ~13 stable significant digits at the 10× corpus
    * and summation-order noise flips its 2-decimal rounding there
    * (the q147 lesson, caught by the r10 sf1.0 certification). */
  val q36Rollup: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round($"o_totalprice" * 100).cast("long")).as("revenue_c"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"revenue_c")
      .orderBy($"status", $"priority")
  }
  val q36Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q37
  /** EXCEPT set difference (§2.7 notes the reference's list-exclusion
    * idiom): high-value order customers outside the BUILDING segment. */
  val q37Except: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir).filter($"o_totalprice" > 150000.0)
      .select($"o_custkey".as("custkey"))
      .except(Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".as("custkey")))
      .orderBy($"custkey")
  }
  val q37Sql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000.0
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** INTERSECT: nations present on both sides. */
  val q38Intersect: Q = (s, dir) => {
    import s.implicits._
    Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
      .intersect(Tables.supplier(s, dir).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }
  val q38Sql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q48
  /** As-of join (temporal latest-observation join): every purchase paired
    * with the most recent click at-or-before it for the same user —
    * the batch analogue of the reference's chart/lab temporal alignment.
    * Runs through [[AsOfJoin.asOf]]'s union + running-window plan (one
    * shuffle on user_id, no range-join pair explosion); the oracle states
    * the naive semantics directly as a LATERAL arg-max, so the gate
    * proves the linear-state plan equals the quadratic definition.
    * Times compare at millisecond precision on both sides (q47 rule);
    * unmatched purchases surface the -1 sentinel to keep null handling
    * out of the cross-engine hash. */
  val q48AsOf: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id", $"value")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
      tieBreak = "event_id", rightPrefix = "click_")
      .select(
        $"user_id",
        $"event_id".as("purchase_id"),
        unix_millis($"ts").as("purchase_ms"),
        round($"value", 2).as("purchase_value"),
        coalesce($"click_event_id", lit(-1L)).as("click_id"),
        coalesce(unix_millis($"click_ts"), lit(-1L)).as("click_ms"),
        coalesce(round($"click_value", 2), lit(-1.0)).as("click_value"))
      .orderBy($"user_id", $"purchase_ms", $"purchase_id")
  }
  val q48Sql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_id, p.ms AS purchase_ms,
      |       round(p.value, 2) AS purchase_value,
      |       coalesce(l.click_id, -1) AS click_id,
      |       coalesce(l.click_ms, -1) AS click_ms,
      |       coalesce(l.click_value, -1.0) AS click_value
      |FROM p LEFT JOIN LATERAL (
      |  SELECT c.event_id AS click_id, c.ms AS click_ms,
      |         round(c.value, 2) AS click_value
      |  FROM c WHERE c.user_id = p.user_id AND c.ms <= p.ms
      |  ORDER BY c.ms DESC, c.event_id DESC LIMIT 1
      |) l ON TRUE
      |ORDER BY p.user_id, purchase_ms, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Forward as-of join: each purchase paired with the EARLIEST click
    * at-or-after it (the re-engagement / next-observation variant of
    * q48). Same single-shuffle union + running-window plan scanning time
    * descending; same LATERAL arg-min oracle proving it equals the
    * naive definition. */
  val q55AsOfForward: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id", $"value")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
      tieBreak = "event_id", rightPrefix = "click_", direction = "forward")
      .select(
        $"user_id",
        $"event_id".as("purchase_id"),
        unix_millis($"ts").as("purchase_ms"),
        coalesce($"click_event_id", lit(-1L)).as("click_id"),
        coalesce(unix_millis($"click_ts"), lit(-1L)).as("click_ms"))
      .orderBy($"user_id", $"purchase_ms", $"purchase_id")
  }
  val q55Sql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_id, p.ms AS purchase_ms,
      |       coalesce(l.click_id, -1) AS click_id,
      |       coalesce(l.click_ms, -1) AS click_ms
      |FROM p LEFT JOIN LATERAL (
      |  SELECT c.event_id AS click_id, c.ms AS click_ms
      |  FROM c WHERE c.user_id = p.user_id AND c.ms >= p.ms
      |  ORDER BY c.ms ASC, c.event_id DESC LIMIT 1
      |) l ON TRUE
      |ORDER BY p.user_id, purchase_ms, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** The remaining §2.5 window family in one pass: `lead`, `ntile`,
    * `percent_rank`, `cume_dist` over a per-priority total order
    * (price, then key — ties broken, so every function is
    * deterministic), folded to per-quartile bounds. percent_rank and
    * cume_dist are exact integer ratios — identical doubles in any
    * engine — rounded only as belt-and-braces. */
  val q86WindowFuncs: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_orderpriority".as("priority"), $"o_orderkey",
        lead($"o_orderkey", 1).over(w).as("next_key"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .groupBy($"priority", $"quartile")
      .agg(count(lit(1)).as("n"), min($"pr").as("pr_lo"), max($"cd").as("cd_hi"),
        sum(when($"next_key".isNull, 1L).otherwise(0L)).as("n_last"))
      .orderBy($"priority", $"quartile")
  }
  val q86Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority AS priority, o_orderkey,
      |    lead(o_orderkey) OVER w AS next_key,
      |    ntile(4) OVER w AS quartile,
      |    round(percent_rank() OVER w, 6) AS pr,
      |    round(cume_dist() OVER w, 6) AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice, o_orderkey))
      |SELECT priority, quartile, count(*) AS n,
      |  min(pr) AS pr_lo, max(cd) AS cd_hi,
      |  CAST(sum(CASE WHEN next_key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_last
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Bivariate aggregate family (extending A8/A9's univariate moments):
    * Pearson correlation, both covariance flavors, and the regression
    * slope of value on user id per event type. Co-moment accumulation
    * order differs per engine — rounded like every float aggregate;
    * the covariances round at 2 decimals (not 4): their ~1e2 magnitude
    * over millions of rows leaves ~1e-4 of summation-order noise, and
    * the sf1.0 certification caught a 4th-decimal boundary flip. */
  val q87CorrCovar: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", $"value", $"user_id".cast("double").as("u"))
      .groupBy($"event_type")
      // + 0.0 normalizes IEEE −0.0 (a tiny negative moment rounds to
      // −0.0 in DuckDB, +0.0 in Spark — the q61 lesson)
      .agg(count(lit(1)).as("n"),
        (round(corr($"value", $"u"), 4) + 0.0).as("corr_vu"),
        (round(covar_samp($"value", $"u"), 2) + 0.0).as("cov_s"),
        (round(covar_pop($"value", $"u"), 2) + 0.0).as("cov_p"),
        (round(regr_slope($"value", $"u"), 6) + 0.0).as("slope"))
      .orderBy($"event_type")
  }
  val q87Sql: String =
    """SELECT event_type, count(*) AS n,
      |  round(corr(value, CAST(user_id AS DOUBLE)), 4) + 0.0 AS corr_vu,
      |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 2) + 0.0 AS cov_s,
      |  round(covar_pop(value, CAST(user_id AS DOUBLE)), 2) + 0.0 AS cov_p,
      |  round(regr_slope(value, CAST(user_id AS DOUBLE)), 6) + 0.0 AS slope
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Cohort retention (the classic product-analytics triangle): users
    * cohorted by first-activity week (any event), activity measured as
    * purchase weeks, offsets in whole weeks. `date_trunc('week')` is
    * Monday-anchored UTC in both engines; week starts surface as epoch
    * seconds, offsets as exact day-multiples of 7. Two hash aggregations
    * plus one equi-join — the first-event window is a groupBy `min`, not
    * a per-row window sort. */
  val q88Retention: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"user_id", $"event_type", date_trunc("week", $"ts").as("wk"))
    val firstWk = e.groupBy($"user_id").agg(min($"wk").as("first_wk"))
    val active = e.filter($"event_type" === "purchase")
      .select($"user_id", $"wk").distinct()
    active.join(firstWk, Seq("user_id"))
      .select(unix_timestamp($"first_wk").as("cohort_ws"),
        (datediff($"wk", $"first_wk") / 7).cast("int").as("offset_wk"))
      .groupBy($"cohort_ws", $"offset_wk")
      .agg(count(lit(1)).as("n_active"))
      .orderBy($"cohort_ws", $"offset_wk")
  }
  val q88Sql: String =
    """WITH e AS (SELECT user_id, event_type, date_trunc('week', ts) AS wk
      |           FROM events),
      |f AS (SELECT user_id, min(wk) AS first_wk FROM e GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, wk FROM e WHERE event_type = 'purchase'),
      |r AS (SELECT act.user_id, f.first_wk,
      |        CAST(date_diff('day', f.first_wk, act.wk) / 7 AS INT) AS offset_wk
      |      FROM act JOIN f USING (user_id))
      |SELECT CAST(floor(epoch(first_wk)) AS BIGINT) AS cohort_ws, offset_wk,
      |       count(*) AS n_active
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Multi-aggregate pivot (S4 breadth beyond q19's single-agg EAV
    * pivot): per status, count AND price total pivoted over two explicit
    * priority values — one Expand + hash-agg, columns renamed to the
    * oracle's FILTER-clause aliases. */
  val q89PivotMulti: Q = (s, dir) => {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus")
      .pivot("o_orderpriority", Seq("1-URGENT", "5-LOW"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .select($"o_orderstatus",
        col("1-URGENT_n").as("urgent_n"), col("1-URGENT_total").as("urgent_total"),
        col("5-LOW_n").as("low_n"), col("5-LOW_total").as("low_total"))
      .orderBy($"o_orderstatus")
  }
  val q89Sql: String =
    """SELECT o_orderstatus,
      |  count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent_n,
      |  round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2)
      |    AS urgent_total,
      |  count(*) FILTER (o_orderpriority = '5-LOW') AS low_n,
      |  round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS low_total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Ordered event-funnel analysis (view → click → purchase, each step
    * within 24 h of the one before): the sequential-pattern query
    * product analytics runs constantly, expressed as cascaded
    * first-occurrence aggregations — each step is one groupBy `min`
    * over events later than the previous step's time, so the chain is
    * k hash-aggs + k broadcast-sized joins, never a per-user sort or
    * cross join. Step times are exact epoch millis. */
  val q93EventFunnel: Q = (s, dir) => {
    import s.implicits._
    val winMs = 86400000L
    val e = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ms").as("v_ms"))
    val c = e.filter($"event_type" === "click").join(v, Seq("user_id"))
      .filter($"ms" > $"v_ms" && $"ms" <= $"v_ms" + winMs)
      .groupBy($"user_id").agg(min($"ms").as("c_ms"))
    val p = e.filter($"event_type" === "purchase").join(c, Seq("user_id"))
      .filter($"ms" > $"c_ms" && $"ms" <= $"c_ms" + winMs)
      .groupBy($"user_id").agg(min($"ms").as("p_ms"))
    v.agg(count(lit(1)).as("n_users")).select(lit("step1_view").as("step"), $"n_users")
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("step2_click").as("step"), $"n_users"))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("step3_purchase").as("step"), $"n_users"))
      .orderBy($"step")
  }
  val q93Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, min(ms) AS v_ms FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(ms) AS c_ms FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ms > v_ms
      |        AND ms <= v_ms + 86400000 GROUP BY 1),
      |p AS (SELECT e.user_id, min(ms) AS p_ms FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ms > c_ms
      |        AND ms <= c_ms + 86400000 GROUP BY 1)
      |SELECT 'step1_view' AS step, count(*) AS n_users FROM v
      |UNION ALL SELECT 'step2_click', count(*) FROM c
      |UNION ALL SELECT 'step3_purchase', count(*) FROM p
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Time-based RANGE frames (completing the frame family next to q71's
    * ROWS): per user, each click's trailing-1 h event count, value sum,
    * and window-start via `first_value` — a VALUE-bounded frame over
    * event-time millis, so burst detection follows the clock, not row
    * positions. Folded per user (max burst, exact integer span sum). */
  val q94RangeFrame: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms")
      .rangeBetween(-3600000L, 0L)
    Tables.events(s, dir)
      .filter($"event_type" === "click")
      .select($"user_id", unix_millis($"ts").as("ms"), $"value")
      .select($"user_id", $"ms",
        count(lit(1)).over(w).as("n_1h"),
        round(sum($"value").over(w), 2).as("sum_1h"),
        first_value($"ms").over(w).as("window_start_ms"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), max($"n_1h").as("max_burst"),
        round(sum($"sum_1h"), 2).as("sum_of_sums"),
        sum($"ms" - $"window_start_ms").as("span_total"))
      .orderBy($"user_id")
  }
  val q94Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
      |           WHERE event_type = 'click'),
      |r AS (SELECT user_id, ms,
      |        count(*) OVER w AS n_1h,
      |        round(sum(value) OVER w, 2) AS sum_1h,
      |        first_value(ms) OVER w AS window_start_ms
      |      FROM e
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ms
      |                   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW))
      |SELECT user_id, count(*) AS n_events, max(n_1h) AS max_burst,
      |       round(sum(sum_1h), 2) AS sum_of_sums,
      |       CAST(sum(ms - window_start_ms) AS BIGINT) AS span_total
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Per-user event-sequence assembly
    * ([[graft.operators.Packing.assembleSequences]]): each user's
    * events render as `type:ms:value` strings, order by (ms, render) —
    * deterministic under any partitioning, ties included — and digest
    * as one md5 per user, the "training example from an event log"
    * shape (conversation turns, session traces). The oracle's
    * `string_agg(... ORDER BY ms, r)` restates the struct sort, so a
    * single out-of-order or dropped event anywhere flips the digest —
    * a per-group ORDER-SENSITIVE gate, which the set-style hash
    * compare alone cannot give. */
  val q116AssembleSeq: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_type",
        round($"value", 2).cast("string").as("vr"))
    graft.operators.Packing.assembleSequences(
        ev, "user_id", "ms",
        concat($"event_type", lit(":"), $"ms".cast("string"), lit(":"), $"vr"))
      .withColumnRenamed("first_ord", "first_ms")
      .withColumnRenamed("last_ord", "last_ms")
      .orderBy($"user_id")
  }
  val q116Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |         event_type || ':' || CAST(epoch_ms(ts) AS VARCHAR) || ':'
      |           || CAST(round(value, 2) AS VARCHAR) AS r
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       min(ms) AS first_ms, max(ms) AS last_ms,
      |       md5(string_agg(r, '|' ORDER BY ms, r)) AS digest
      |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  // ---------------------------------------------------------------- q147
  /** Time-grid gap-fill ([[graft.operators.Resample.resampleFill]]):
    * per-user hourly resampling of the events value series — every
    * hour between a user's first and last observation materialized,
    * gaps forward-filled with the last observed hourly mean. The gate
    * aggregates the grid per user (slot/observed/filled counts + the
    * rounded sum of the filled series) so a wrong grid extent, a
    * missed gap, or a broken fill moves the hash; the oracle replays
    * slotting (pure epoch arithmetic — no timezone semantics),
    * per-slot means, `generate_series` grids and the
    * IGNORE-NULLS-window fill. */
  val q147GapFill: Q = (s, dir) => {
    import s.implicits._
    val grid = graft.operators.Resample.resampleFill(
      Tables.events(s, dir), "user_id", "ts", "value", slotSeconds = 3600L)
    // the fill series is 4-decimal by construction, so the checksum
    // sums EXACT integers (×10⁴) — a float sum of ~700 such values
    // lands on half-cent rounding boundaries often enough that
    // cross-engine low-bit order differences would flip the hash
    grid.groupBy($"key".as("user_id"))
      .agg(count(lit(1)).as("n_slots"),
        count($"v_obs").as("n_obs"),
        sum($"filled".cast("long")).as("n_filled"),
        sum(round($"v_fill" * 10000).cast("long")).as("v_sum_e4"))
      .orderBy($"user_id")
  }
  val q147Sql: String =
    """WITH sl AS (
      |  SELECT user_id AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS slot, value AS v
      |  FROM events),
      |obs AS (SELECT key, slot, round(avg(v), 4) AS v_obs FROM sl GROUP BY key, slot),
      |bounds AS (SELECT key, min(slot) AS lo, max(slot) AS hi FROM sl GROUP BY key),
      |grid AS (SELECT key, unnest(generate_series(lo, hi)) AS slot FROM bounds),
      |j AS (
      |  SELECT g.key, g.slot, o.v_obs,
      |         last_value(o.v_obs IGNORE NULLS) OVER (
      |           PARTITION BY g.key ORDER BY g.slot
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
      |  FROM grid g LEFT JOIN obs o USING (key, slot))
      |SELECT key AS user_id, count(*) AS n_slots, count(v_obs) AS n_obs,
      |       count(*) - count(v_obs) AS n_filled,
      |       CAST(sum(CAST(round(v_fill * 10000) AS BIGINT)) AS BIGINT) AS v_sum_e4
      |FROM j GROUP BY key ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Fixed-point PageRank
    * ([[graft.operators.PageRank.pageRankFixedPoint]]) over the
    * customer↔supplier trade graph (distinct pairs via
    * lineitem⋈orders, symmetric edges so no node dangles): 3
    * iterations, 0.85 damping, ranks as EXACT 10⁻⁹-scaled integers —
    * float PageRank sums contributions in partition order and flips
    * near-tied ranks across engines; the fixed-point form replays in
    * SQL verbatim. Gate: top-20 nodes by rank (integer ties broken by
    * node id). */
  val q148PageRank: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
    val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("c"), $"o_custkey").as("cust"),
        concat(lit("s"), $"l_suppkey").as("supp"))
      .distinct()
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
      .unionByName(pairs.select($"supp".as("src"), $"cust".as("dst")))
    // edgesDistinct: pairs is distinct() and the two directions are
    // disjoint (c/s key prefixes) - skip the operator's defensive dedup
    graft.operators.PageRank.pageRankFixedPoint(edges, iterations = 3,
        edgesDistinct = true)
      .orderBy($"rank".desc, $"node").limit(20)
  }
  /** One oracle iteration of the q148 fixed-point update — shared by
    * q148 (3 fixed iterations) and q195 (unrolled convergence cap) so
    * the replayed arithmetic cannot drift between the two gates. */
  private def prIterSql(prev: String, cN: String, rN: String): String =
    s"""$cN AS (
       |  SELECT e.dst, sum(r.rank // d.outdeg) AS in_mass
       |  FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON r.node = e.src
       |  GROUP BY e.dst),
       |$rN AS MATERIALIZED (
       |  SELECT n.node,
       |         CAST(150000000 + (85 * coalesce(c.in_mass, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN $cN c ON c.dst = n.node)""".stripMargin

  /** The trade-graph CTEs (pairs/edges/nodes/deg/r0) shared by the two
    * PageRank oracles. */
  private val prGraphSql: String =
    s"""pairs AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL
       |  SELECT supp AS src, cust AS dst FROM pairs),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes)""".stripMargin

  val q148Sql: String =
    s"""WITH $prGraphSql,
       |${prIterSql("r0", "c1", "r1")},
       |${prIterSql("r1", "c2", "r2")},
       |${prIterSql("r2", "c3", "r3")}
       |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q195
  /** CONVERGENCE-DRIVEN PageRank
    * ([[graft.operators.PageRank.pageRankConverged]]) — the
    * fixed-iteration q148 replaced by a measured stop: iterate until
    * the exact-integer L1 movement `Σ|rankᵢ − rankᵢ₋₁|` falls to a
    * per-node tolerance (840·10⁶ scaled units — the trade graph's
    * movement decays by exactly the 0.85 damping factor per iteration
    * and is per-node scale-invariant, so this stops at iteration 5
    * at every SF with ~8% margin to both neighbors), capped at 8.
    * The movement total is integer arithmetic over integer ranks —
    * partition-order-proof — so the oracle unrolls the cap, computes
    * every movement, and picks the SAME first-below-ε iteration; the
    * gate emits the top-20 ranks at the stop plus the stop iteration
    * itself. Spark runs exactly `stop` iterations (5, not the cap) —
    * the point of the measured rule: q148's 3 hard-coded iterations
    * under-mix, a safe fixed cap over-pays. */
  val q195PagerankConverged: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
    val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val pairs = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("c"), $"o_custkey").as("cust"),
        concat(lit("s"), $"l_suppkey").as("supp"))
      .distinct()
    val edges = pairs.select($"cust".as("src"), $"supp".as("dst"))
      .unionByName(pairs.select($"supp".as("src"), $"cust".as("dst")))
    // edgesDistinct: same provably-duplicate-free trade graph as q148
    val (ranks, iters) = graft.operators.PageRank.pageRankConverged(edges,
      epsPerNode = 840000000L, maxIterations = 8, edgesDistinct = true)
    ranks.orderBy($"rank".desc, $"node").limit(20)
      .withColumn("iters", lit(iters).cast("int"))
  }
  val q195Sql: String = {
    val cap = 8
    val iters = (1 to cap)
      .map(i => prIterSql(s"r${i - 1}", s"c$i", s"r$i")).mkString(",\n")
    val dts = (1 to cap).map(i =>
      s"SELECT $i AS i, (SELECT sum(abs(a.rank - b.rank)) FROM r$i a JOIN r${i - 1} b ON a.node = b.node) AS d")
      .mkString("\n  UNION ALL ")
    val sel = (1 to cap).map(i =>
      s"SELECT node, rank FROM r$i WHERE (SELECT stop FROM pick) = $i")
      .mkString("\n  UNION ALL ")
    s"""WITH $prGraphSql,
       |$iters,
       |dts AS (
       |  $dts),
       |pick AS (
       |  SELECT CAST(coalesce(min(i), $cap) AS INT) AS stop FROM dts
       |  WHERE d <= 840000000 * (SELECT count(*) FROM nodes)),
       |sel AS (
       |  $sel)
       |SELECT node, rank, (SELECT stop FROM pick) AS iters
       |FROM sel ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q151
  /** SCD type-2 dimension history ([[graft.operators.Scd2.buildHistory]]):
    * the per-user event_type stream collapsed into versioned validity
    * ranges — one row per run of consecutive equal values, half-open
    * `[valid_from, valid_to)`, open-ended current version, ties on ts
    * broken by event_id. The gate aggregates per user (version count,
    * open-version count, first/last version starts as epoch-µs, and an
    * md5 of the attribute sequence in version order) so a missed run
    * boundary, a wrong version number, or an unclosed range anywhere
    * flips the hash. The oracle replays the gaps-and-islands build:
    * lag run-start marks → filtered row_number versioning → lead range
    * close, all in one window partitioning.
    *
    * Scale shape (see the operator doc): ONE exchange on user_id shared
    * by all three window functions, then the gate's hash aggregation
    * reuses the same partitioning — a two-exchange plan end to end. */
  val q151Scd2: Q = (s, dir) => {
    import s.implicits._
    val hist = Scd2.buildHistory(
      Tables.events(s, dir), "user_id", "event_type", "ts", "event_id")
    scd2Gate(hist, "event_type", unix_micros($"valid_from"), $"valid_to".isNull)
  }

  /** Shared per-user digest of an SCD2 history — the ONE gate shape all
    * three SCD2 builds (q151 batch window, q157 incremental apply, q154
    * streaming state) aggregate through, so their shared-oracle
    * contract (all registered against q151Sql) is enforced by
    * construction rather than by keeping three copy-pasted blocks in
    * sync. `fromUs`/`openPred` abstract the physical shape: the batch
    * builds carry timestamps, the streaming build carries epoch-µs. */
  private[graft] def scd2Gate(hist: org.apache.spark.sql.DataFrame,
                              attrCol: String,
                              fromUs: org.apache.spark.sql.Column,
                              openPred: org.apache.spark.sql.Column): DataFrame =
    hist.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(openPred, 1L).otherwise(0L)).as("n_open"),
        min(fromUs).as("first_from_us"),
        max(fromUs).as("last_from_us"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("version"), col(attrCol)))),
            x => x.getField(attrCol)), "|")).as("hist_md5"))
      .orderBy(col("user_id"))
  val q151Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type AS attr, epoch_us(ts) AS tus, event_id
      |  FROM events),
      |m AS (
      |  SELECT *, lag(attr) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |chg AS (SELECT user_id, attr, tus, event_id FROM m
      |        WHERE prev IS NULL OR prev <> attr),
      |v AS (
      |  SELECT user_id, attr, tus AS vf,
      |         lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS vt,
      |         row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS version
      |  FROM chg)
      |SELECT user_id, count(*) AS n_versions,
      |       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |       min(vf) AS first_from_us, max(vf) AS last_from_us,
      |       md5(string_agg(attr, '|' ORDER BY version)) AS hist_md5
      |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q156
  /** Interval union / coverage ([[graft.operators.Intervals.coverage]]):
    * each event spans `[ts, ts + value·1000 ms)`; per user the spans
    * merge into maximal disjoint islands (running-max island scan —
    * one exchange, one sort, windows + island aggregation sharing the
    * partitioning) and the gate reports island count, total covered
    * milliseconds, and the longest island — all exact integer
    * arithmetic, so the hash has no float surface. The oracle replays
    * the same scan: preceding-rows running max → new-island flag →
    * running-sum island id → per-island extent. The span is clamped to
    * `≥ 0` (`greatest(0, round(value·1000))`) — a negative `value`
    * would otherwise build an inverted interval, which [[Intervals
    * .mergeIntervals]] now rejects with raise_error rather than
    * corrupting the scan; a non-positive reading means a zero-length
    * span here, not time travel. */
  val q156IntervalCoverage: Q = (s, dir) => {
    import s.implicits._
    val iv = Tables.events(s, dir)
      .select($"user_id", unix_millis($"ts").as("start"),
        (unix_millis($"ts") +
          greatest(lit(0L), round($"value" * 1000).cast("long"))).as("end"))
    Intervals.coverage(iv, "user_id", "start", "end")
      .orderBy($"user_id")
  }
  val q156Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_ms(ts) AS s,
      |         epoch_ms(ts) + greatest(0, CAST(round(value * 1000) AS BIGINT)) AS e
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv),
      |f AS (SELECT user_id, s, e,
      |        CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf
      |      FROM m),
      |isl AS (
      |  SELECT user_id, s, e,
      |         sum(nf) OVER (PARTITION BY user_id ORDER BY s, e
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM f),
      |g AS (SELECT user_id, island, min(s) AS st, max(e) AS en
      |      FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |       CAST(sum(en - st) AS BIGINT) AS covered,
      |       max(en - st) AS longest
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Incremental SCD2 maintenance ([[graft.operators.Scd2.applyDelta]]):
    * history built from the first half-month of events, then the second
    * half folded in as a CDC delta — closed versions pass through
    * untouched, only each key's open version re-enters the run fold and
    * version numbers shift by the already-assigned count. The gate is
    * the q146-append invariant applied to dimensions:
    * `applyDelta(build(base), delta) ≡ build(base ∪ delta)` EXACTLY, so
    * the oracle is q151's full-range replay, unchanged — a wrong
    * carry-in, a re-numbered closed version, or a missed new-key path
    * flips the hash. The split point is an epoch-µs literal (no
    * timezone surface). Scale: a day's increment costs O(live keys +
    * delta), never O(history). */
  val q157Scd2Apply: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
    // 2024-01-16T00:00:00Z
    val cut = timestamp_micros(lit(1705363200000000L))
    val base = Scd2.buildHistory(ev.filter($"ts" < cut),
      "user_id", "event_type", "ts", "event_id")
    val hist = Scd2.applyDelta(base, ev.filter($"ts" >= cut),
      "user_id", "event_type", "ts", "event_id")
    scd2Gate(hist, "event_type", unix_micros($"valid_from"), $"valid_to".isNull)
  }

  // ---------------------------------------------------------------- q158
  /** Point-in-time dimensional enrichment: every event joined to the
    * SCD2 version valid AT its event time — the feature-store
    * correctness join (no future leakage, half-open boundaries: an
    * event at a change instant sees the NEW version). The Spark side
    * composes the two custom operators: [[graft.operators.Scd2]]
    * history → [[graft.operators.AsOfJoin.asOf]] backward join
    * (union + running-window carry — one exchange, NO candidate-pair
    * explosion), with `version` as the tie-break so simultaneous
    * zero-length versions resolve to the covering one. The oracle
    * replays the lookup as the naive inequality join + per-event
    * `max(version)` — O(L·R) per key, exactly the plan the as-of
    * operator exists to avoid; the gate aggregates per user (event
    * count, version sum, max version) so one wrong boundary pick
    * anywhere moves the sum. */
  val q158PitEnrich: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id")
    val hist = Scd2.buildHistory(
      Tables.events(s, dir).select($"user_id", $"event_type", $"ts", $"event_id"),
      "user_id", "event_type", "ts", "event_id")
      .select($"user_id", $"valid_from", $"version")
    AsOfJoin.asOf(ev, hist, on = Seq("user_id"),
      leftTime = "ts", rightTime = "valid_from", tieBreak = "version")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"right_version".cast("long")).as("version_sum"),
        max($"right_version").as("max_version"))
      .orderBy($"user_id")
  }
  val q158Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type AS attr, epoch_us(ts) AS tus, event_id
      |  FROM events),
      |m AS (
      |  SELECT *, lag(attr) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |chg AS (SELECT user_id, attr, tus, event_id FROM m
      |        WHERE prev IS NULL OR prev <> attr),
      |v AS (
      |  SELECT user_id, tus AS vf,
      |         row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS version
      |  FROM chg),
      |pit AS (
      |  SELECT e.user_id, e.tus, e.event_id, max(v.version) AS version
      |  FROM e JOIN v ON v.user_id = e.user_id AND v.vf <= e.tus
      |  GROUP BY e.user_id, e.tus, e.event_id)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(sum(version) AS BIGINT) AS version_sum,
      |       CAST(max(version) AS INTEGER) AS max_version
      |FROM pit GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q161
  /** First-order Markov transition matrix over per-user event
    * sequences: `lead` pairs each event with its successor (ts order,
    * event_id tie-break — the q151 determinism contract), pairs count
    * into a 5×5 matrix, and row-normalized probabilities come from a
    * broadcast join of the per-source totals. The sequence-analytics
    * primitive behind next-action prediction and session modeling.
    * Scale: ONE keyed window exchange for the pairing; the count
    * aggregation is matrix-sized (|types|²) and its totals broadcast —
    * nothing user-cardinality-sized moves after the window. Counts are
    * exact integers; probabilities are exact-integer ratios rounded. */
  val q161Transitions: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
    val counts = tr
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy($"from_type").agg(sum($"n").as("tot"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select($"from_type", $"to_type", $"n", round($"n" / $"tot", 4).as("p"))
      .orderBy($"from_type", $"to_type")
  }
  val q161Sql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, round(c.n / t.tot, 4) AS p
      |FROM c JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Seasonal-baseline anomaly screen: per (event_type, hour-of-day)
    * means form the seasonal profile (dimension-sized → broadcast
    * back), residuals score against a per-type 3σ_pop band, and the
    * gate reports per type the anomaly count plus rounded residual
    * statistics — the monitoring query that separates "3 am is always
    * quiet" from "this 3 am is wrong". Two broadcast-back aggregations
    * + narrow scoring, the q155 shape with a seasonal key. Float
    * boundary (|resid| vs 3σ) follows the q61/q87 precedent: both
    * engines build the identical expression tree over the same doubles.
    * At 100 TB the profile table is |types|·24 rows whatever the fact
    * size. */
  val q162SeasonalAnomaly: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", hour($"ts").as("hod"), $"value")
    val prof = e.groupBy($"event_type", $"hod").agg(avg($"value").as("mu"))
    val j = e.join(broadcast(prof), Seq("event_type", "hod"))
      .withColumn("resid", $"value" - $"mu")
    val sig = j.groupBy($"event_type").agg(stddev_pop($"resid").as("sig"))
    j.join(broadcast(sig), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(abs($"resid") > lit(3.0) * $"sig", 1L).otherwise(0L)).as("n_anom"),
        round(avg(abs($"resid")), 4).as("mean_abs_resid"),
        round(first($"sig"), 4).as("sig"))
      .orderBy($"event_type")
  }
  val q162Sql: String =
    """WITH e AS (SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hod, value
      |           FROM events),
      |p AS (SELECT event_type, hod, avg(value) AS mu FROM e GROUP BY 1, 2),
      |j AS (SELECT e.event_type, e.value - p.mu AS resid
      |      FROM e JOIN p USING (event_type, hod)),
      |s AS (SELECT event_type, stddev_pop(resid) AS sig FROM j GROUP BY 1)
      |SELECT j.event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN abs(resid) > 3.0 * sig THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
      |       round(avg(abs(resid)), 4) AS mean_abs_resid,
      |       round(any_value(sig), 4) AS sig
      |FROM j JOIN s USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q163
  /** CUSUM changepoint scan per event type: the running sum of
    * mean-centred values S_i = Σ(x_j − x̄) swings furthest at a level
    * shift; the gate reports each type's max |S| (rounded) and the
    * epoch-µs WHERE it peaks (earliest on rounded-value ties — an
    * exact integer tie-break, so the position is hash-stable even
    * where the float curve is flat). One window pass over (type; ts,
    * event_id) for the running sum + a max_by aggregation; the
    * centring mean broadcasts back. The sequential-control-chart
    * primitive behind drift monitors. */
  val q163Cusum: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", $"ts", $"event_id", $"value")
    val mu = e.groupBy($"event_type").agg(avg($"value").as("mu"))
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = e.join(broadcast(mu), Seq("event_type"))
      .withColumn("s_i", sum($"value" - $"mu").over(w))
      .select($"event_type", unix_micros($"ts").as("tus"),
        round(abs($"s_i"), 4).as("dev"))
    // ONE aggregation pass: lexicographic max over (dev, −tus) is the
    // argmax with earliest-tus tie-break — no self-join, and crucially
    // no float-equality filter between two recomputations of the same
    // nondeterministically-partial-merged mean (the original two-pass
    // form could round the peak differently per branch and drop a
    // group from the output entirely)
    cum.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max(struct($"dev", (-$"tus").as("ntus"))).as("m"))
      .select($"event_type", $"n", $"m.dev".as("max_dev"),
        (-$"m.ntus").as("peak_tus"))
      .orderBy($"event_type")
  }
  val q163Sql: String =
    """WITH m AS (SELECT event_type, avg(value) AS mu FROM events GROUP BY 1),
      |c AS (
      |  SELECT e.event_type, epoch_us(ts) AS tus,
      |         round(abs(sum(e.value - m.mu) OVER (
      |           PARTITION BY e.event_type ORDER BY epoch_us(ts), event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS dev
      |  FROM events e JOIN m USING (event_type)),
      |g AS (SELECT event_type, count(*) AS n,
      |        max(struct_pack(d := dev, nt := -tus)) AS m
      |      FROM c GROUP BY 1)
      |SELECT event_type, n, m.d AS max_dev, -m.nt AS peak_tus
      |FROM g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q169
  /** Scalable CUSUM ([[graft.operators.Cusum.peakByKey]]): q163's
    * change-detection statistic decomposed into a two-level prefix
    * scan over (type, HOUR) partitions — the naive per-type window
    * collapses to |types| sequential tasks (measured ×17 at the ×100
    * probe), this form parallelizes as types×hours. Exact fixed-point
    * arithmetic (cents; S′ = n-scaled mean-centred prefix in
    * decimal(38,0)) makes the decomposition gateable: two-level ≡
    * single-level bit-for-bit, and the oracle replays the SINGLE-level
    * integer form — a wrong carry, a bucket seam, or a tie mis-pick
    * anywhere breaks the hash. */
  val q169CusumScalable: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", unix_micros($"ts").as("tus"), $"event_id",
        round($"value" * 100).cast("long").as("cents"))
    Cusum.peakByKey(e, "event_type", "tus", "event_id", "cents",
      bucketUs = 3600L * 1000000L)
      .orderBy($"event_type")
  }
  val q169Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |t AS (SELECT event_type, CAST(sum(cents) AS HUGEINT) AS total,
      |        CAST(count(*) AS HUGEINT) AS n FROM e GROUP BY 1),
      |c AS (
      |  SELECT e.event_type, tus,
      |         CAST(sum(cents) OVER w AS HUGEINT) AS pre,
      |         CAST(row_number() OVER w2 AS HUGEINT) AS i, t.n, t.total
      |  FROM e JOIN t USING (event_type)
      |  WINDOW w AS (PARTITION BY e.event_type ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w2 AS (PARTITION BY e.event_type ORDER BY tus, event_id)),
      |s AS (SELECT event_type, tus, abs(n * pre - i * total) AS dev, n
      |      FROM c),
      |g AS (SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
      |        max(struct_pack(d := dev, nt := -tus)) AS m
      |      FROM s GROUP BY 1)
      |SELECT event_type, n, CAST(m.d AS BIGINT) AS peak_dev,
      |       CAST(-m.nt AS BIGINT) AS peak_tus
      |FROM g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q170
  /** Exact distributed median by range bracketing
    * ([[graft.operators.ExactQuantile.atQuantile]]): the k-th order
    * statistic of the cent-scaled value per event type found in
    * O(log_B(range)) COUNT passes — no sort, no per-group value
    * buffer, (keys×B) state per pass — where exact `percentile`
    * buffers whole groups and the t-digest (q153) trades exactness
    * away. The oracle replays selection literally: the row_number =
    * ceil(q·n) row per type. Exact integers end to end, so the gate
    * needs no flags or rounding. */
  val q170ExactMedian: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", round($"value" * 100).cast("long").as("cents"))
    graft.operators.ExactQuantile
      .atQuantile(s, e, "event_type", "cents", q = 0.5)
      .orderBy($"event_type")
  }
  val q170Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e)
      |SELECT event_type, n, CAST(ceil(0.5 * n) AS BIGINT) AS kth,
      |       cents AS value
      |FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q171
  /** Grouped mode with deterministic ties: the most frequent rounded
    * value per event type, ties resolved to the SMALLEST value via one
    * lexicographic struct-max over the (count, −value) pairs — two
    * hash aggregations, no window, no sort. The argmax-by-count
    * primitive behind "most common category" profiling. */
  val q171Mode: Q = (s, dir) => {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", round($"value").cast("long").as("v"))
      .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(max(struct($"c", (-$"v").as("nv"))).as("m"),
        sum($"c").as("n"))
      .select($"event_type", $"n", $"m.c".as("mode_count"),
        (-$"m.nv").as("mode_value"))
      .orderBy($"event_type")
  }
  val q171Sql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) AS v, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
      |         max(struct_pack(c := c, nv := -v)) AS m
      |  FROM c GROUP BY 1)
      |SELECT event_type, n, m.c AS mode_count, -m.nv AS mode_value
      |FROM g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q178
  /** CUSUM drift alarms ([[graft.operators.Cusum.upwardAlarms]]): the
    * decision layer over q163/q169's statistic — upward drift as
    * "distance above the running minimum" (the identity that converts
    * the textbook non-associative `max(0, S⁺+x−μ)` recursion into two
    * window functions), alarmed against an exact cross-multiplied
    * integer threshold (2‰ of n·|total| in the same scaled units; no σ
    * estimate, no division, no float anywhere). Gate: per type the
    * exceedance count and earliest alarm instant; oracle replays the
    * identity with the same integer arithmetic. Scale: the naive
    * per-type windows here sequentialize like q163 — the q169
    * two-level decomposition applies verbatim to BOTH the running sum
    * and the running min when it matters. */
  val q178CusumAlarms: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", unix_micros($"ts").as("tus"), $"event_id",
        round($"value" * 100).cast("long").as("cents"))
    Cusum.upwardAlarms(e, "event_type", "tus", "event_id", "cents",
      hPermille = 2)
      .orderBy($"event_type")
  }
  val q178Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |t AS (SELECT event_type, CAST(sum(cents) AS HUGEINT) AS total,
      |        CAST(count(*) AS HUGEINT) AS n FROM e GROUP BY 1),
      |c AS (
      |  SELECT e.event_type, tus, event_id, t.n, t.total,
      |         t.n * CAST(sum(cents) OVER w AS HUGEINT)
      |           - CAST(row_number() OVER w2 AS HUGEINT) * t.total AS r
      |  FROM e JOIN t USING (event_type)
      |  WINDOW w AS (PARTITION BY e.event_type ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w2 AS (PARTITION BY e.event_type ORDER BY tus, event_id)),
      |sp AS (
      |  SELECT event_type, tus, n, total,
      |         r - least(min(r) OVER (PARTITION BY event_type
      |           ORDER BY tus, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |           CAST(0 AS HUGEINT)) AS splus
      |  FROM c)
      |SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN 1000 * splus > n * abs(total) * 2
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
      |       min(CASE WHEN 1000 * splus > n * abs(total) * 2
      |         THEN tus END) AS first_alarm_tus
      |FROM sp GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q179
  /** Scalable CUSUM alarms
    * ([[graft.operators.Cusum.upwardAlarmsScalable]]): q178's two
    * stacked per-type windows decomposed over (type, hour) — carry-in
    * prefixes for the running sum AND a bucket-min rollup for the
    * running minimum, one fact exchange, keys×buckets parallelism
    * (q178 measured 26.5 s at the ×100 probe on its 5 sequential
    * tasks). Exact integers make the decomposition bit-identical, so
    * the gate replays q178's oracle unchanged: one relational truth,
    * naive and decomposed engines. */
  val q179CusumAlarmsScalable: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", unix_micros($"ts").as("tus"), $"event_id",
        round($"value" * 100).cast("long").as("cents"))
    Cusum.upwardAlarmsScalable(e, "event_type", "tus", "event_id", "cents",
      hPermille = 2, bucketUs = 3600L * 1000000L)
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q180
  /** As-of join WITH TOLERANCE ([[graft.operators.AsOfJoin.asOf]]'s
    * third contract surface, previously spec-only): every click joined
    * to the user's most recent prior purchase, but matches older than
    * one hour NULL OUT — the "recent context only" enrichment
    * (stale features are worse than none). Same-instant purchase ties
    * resolve to the greatest value (the operator's tie-break), which
    * the oracle replays as max(value) at the argmax instant.
    * Timestamps ms-truncated first so the tolerance boundary is
    * engine-exact (the q47 lesson). Gate aggregates per user: clicks,
    * attributed clicks, attributed value sum. */
  val q180AsofTolerance: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("pts"), $"value")
    AsOfJoin.asOf(clicks, purchases, on = Seq("user_id"),
      leftTime = "ts", rightTime = "pts", tieBreak = "value",
      tolerance = Some("INTERVAL 1 HOUR"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_clicks"),
        count($"right_value").as("n_attr"),
        (round(sum($"right_value"), 2) + 0.0).as("attr_value"))
      .orderBy($"user_id")
  }
  val q180Sql: String =
    """WITH c AS (SELECT user_id, epoch_ms(ts) AS cms, event_id
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_ms(ts) AS pms, value
      |      FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT c.user_id, c.cms, c.event_id, max(p.pms) AS best_pms
      |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pms <= c.cms
      |  GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT m.user_id,
      |         CASE WHEN m.best_pms IS NOT NULL
      |                AND m.best_pms >= m.cms - 3600000
      |              THEN (SELECT max(p2.value) FROM p p2
      |                    WHERE p2.user_id = m.user_id
      |                      AND p2.pms = m.best_pms) END AS pv
      |  FROM m)
      |SELECT user_id, count(*) AS n_clicks, count(pv) AS n_attr,
      |       round(sum(pv), 2) + 0.0 AS attr_value
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q181
  /** PageRank over a graph WITH SINKS
    * ([[graft.operators.PageRank.pageRankFixedPoint]]'s dangling-mass
    * correction, previously a documented precondition): the trade graph
    * kept DIRECTED — customers point at the suppliers they bought from,
    * suppliers have no out-edges, so every supplier is a dangling node.
    * Each iteration the sink mass folds back in as a one-row broadcast
    * (`sinkMass div N` added to every node's incoming mass before
    * damping, exact integers), so supplier rank reflects customer
    * in-links instead of draining to the teleport floor. The oracle
    * replays the recursion verbatim, sink CTE included. Gate: top-20
    * nodes (integer ties broken by node id). */
  val q181PagerankDangling: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
    val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val edges = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select(concat(lit("c"), $"o_custkey").as("src"),
        concat(lit("s"), $"l_suppkey").as("dst"))
      .distinct()
    // edgesDistinct: edges is itself a distinct() projection
    graft.operators.PageRank.pageRankFixedPoint(edges, iterations = 3,
        edgesDistinct = true)
      .orderBy($"rank".desc, $"node").limit(20)
  }
  val q181Sql: String = {
    // MATERIALIZED throughout: each round's rank table is referenced
    // by BOTH the contribution and the sink CTE of the next round (and
    // edges/nodes/deg by every round) — DuckDB's per-reference CTE
    // inlining makes the recursion re-execute exponentially otherwise
    // (the q134 sf1.0 lesson; here it spilled >79 GB before failing)
    def iter(prev: String, i: Int): String =
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS in_mass
         |  FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON r.node = e.src
         |  GROUP BY e.dst),
         |s$i AS MATERIALIZED (
         |  SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS sm
         |  FROM $prev r WHERE r.node NOT IN (SELECT src FROM deg)),
         |r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(150000000 + (85 * (coalesce(c.in_mass, 0) + s.sm // x.n)) // 100
         |              AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c ON c.dst = n.node
         |  CROSS JOIN s$i s CROSS JOIN nc x)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |nc AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
       |${iter("r0", 1)},
       |${iter("r1", 2)},
       |${iter("r2", 3)}
       |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q13_union_all", q13Union, Some(q13Sql)),
    ("q14_freq_rate", q14FreqRate, Some(q14Sql)),
    ("q15_window_rank", q15WindowRank, Some(q15Sql)),
    ("q16_group_stats", q16GroupStats, Some(q16Sql)),
    ("q17_histogram", q17Histogram, Some(q17Sql)),
    ("q18_topk", q18TopK, Some(q18Sql)),
    ("q19_pivot", q19Pivot, Some(q19Sql)),
    ("q20_temporal", q20Temporal, Some(q20Sql)),
    ("q21_like_filter", q21Like, Some(q21Sql)),
    ("q22_completeness", q22Completeness, Some(q22Sql)),
    ("q23_json_lenient", q23JsonLenient, Some(q23Sql)),
    ("q36_rollup", q36Rollup, Some(q36Sql)),
    ("q37_except", q37Except, Some(q37Sql)),
    ("q38_intersect", q38Intersect, Some(q38Sql)),
    ("q48_asof_join", q48AsOf, Some(q48Sql)),
    ("q55_asof_forward", q55AsOfForward, Some(q55Sql)),
    ("q86_window_funcs", q86WindowFuncs, Some(q86Sql)),
    ("q87_corr_covar", q87CorrCovar, Some(q87Sql)),
    ("q88_retention", q88Retention, Some(q88Sql)),
    ("q89_pivot_multi", q89PivotMulti, Some(q89Sql)),
    ("q93_event_funnel", q93EventFunnel, Some(q93Sql)),
    ("q94_range_frame", q94RangeFrame, Some(q94Sql)),
    ("q116_assemble_seq", q116AssembleSeq, Some(q116Sql)),
    ("q147_gap_fill", q147GapFill, Some(q147Sql)),
    ("q148_pagerank", q148PageRank, Some(q148Sql)),
    ("q151_scd2", q151Scd2, Some(q151Sql)),
    ("q156_interval_coverage", q156IntervalCoverage, Some(q156Sql)),
    // incremental apply must reproduce the full build: same oracle as q151
    ("q157_scd2_apply", q157Scd2Apply, Some(q151Sql)),
    ("q158_pit_enrich", q158PitEnrich, Some(q158Sql)),
    ("q161_transitions", q161Transitions, Some(q161Sql)),
    ("q162_seasonal_anomaly", q162SeasonalAnomaly, Some(q162Sql)),
    ("q163_cusum", q163Cusum, Some(q163Sql)),
    ("q169_cusum_scalable", q169CusumScalable, Some(q169Sql)),
    ("q170_exact_median", q170ExactMedian, Some(q170Sql)),
    ("q171_mode", q171Mode, Some(q171Sql)),
    ("q178_cusum_alarms", q178CusumAlarms, Some(q178Sql)),
    // two-level decomposition must alarm identically: same oracle
    ("q179_cusum_alarms_scalable", q179CusumAlarmsScalable, Some(q178Sql)),
    ("q180_asof_tolerance", q180AsofTolerance, Some(q180Sql)),
    ("q181_pagerank_dangling", q181PagerankDangling, Some(q181Sql)),
    ("q195_pagerank_converged", q195PagerankConverged, Some(q195Sql)),
  )
}
