package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Packing, Reports, Sampling, SkewJoin}

/** Scale-operator gate queries: shapes whose *point* is cluster-scale
  * behavior — skew mitigation, shuffle-free deterministic sampling, the
  * two-pass distributed prefix scan — gated by proving they return
  * exactly the naive plain-shape answer on real data.
  */
object QueriesScale {
  import Queries.Q
  import QueriesText.{md5Bits32Sql, normSql}

  // ---------------------------------------------------------------- q44
  /** Two-phase salted aggregation over lineitem supplier keys: phase 1
    * aggregates on (key, salt) so one hot key's partial state spreads
    * over 8 tasks, phase 2 merges partials. The oracle is the plain
    * GROUP BY — salting must never change the answer. Quantities sum
    * as integers (exact under any phase split); max/count are
    * order-free, so the result is bit-stable cross-engine. */
  val q44SaltedAgg: Q = (s, dir) => {
    import s.implicits._
    SkewJoin.saltedAggregate(
      Tables.lineitem(s, dir).select($"l_suppkey", $"l_quantity", $"l_extendedprice"),
      keys = Seq("l_suppkey"), saltFactor = 8,
      partials = Seq(
        sum(floor($"l_quantity").cast("long")).as("p_qty"),
        count(lit(1)).as("p_n"),
        max($"l_extendedprice").as("p_maxp")),
      finals = Seq(
        sum($"p_qty").as("sum_qty"),
        sum($"p_n").as("n"),
        round(max($"p_maxp"), 2).as("max_price")))
      .orderBy($"l_suppkey")
  }
  val q44Sql: String =
    """SELECT l_suppkey,
      |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  count(*) AS n, round(max(l_extendedprice), 2) AS max_price
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Deterministic hash train/val/test split ([[Sampling.hashSplit]]):
    * split = f(md5(id)) — a pure per-row expression, no shuffle, stable
    * across reruns and engines (the property `rand()`-based splits lack).
    * The oracle recomputes the md5 bucket with
    * [[QueriesText.md5Bits32Sql]] (DuckDB has no conv()), so the 32-bit
    * hash → bucket → label path is checked bit-for-bit. */
  val q50HashSplit: Q = (s, dir) => {
    import s.implicits._
    Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .orderBy($"split")
  }
  val q50Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, (${md5Bits32Sql("h")}) % 100 AS bucket
       |  FROM (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
       |        FROM documents))
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Sequence packing ([[Packing.packChunks]]): concatenate documents in
    * doc_id order, split every 4096 chars, count docs per chunk. The
    * Spark side runs the two-pass distributed prefix sum (bucketSize=100
    * forces multiple buckets + a real offset join even at sf0.01); the
    * oracle is the naive single-scan global window — the gate proves the
    * distributed scan equals it. Integer sums throughout: exact. */
  val q51Packing: Q = (s, dir) => {
    import s.implicits._
    Packing.packChunks(
      Tables.documents(s, dir).select($"doc_id", $"n_chars"),
      orderCol = "doc_id", sizeCol = "n_chars",
      budget = 4096L, bucketSize = 100L)
      .groupBy($"chunk")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chunk_chars"))
      .orderBy($"chunk")
  }
  val q51Sql: String =
    """WITH p AS (
      |  SELECT doc_id, n_chars,
      |    coalesce(sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM documents)
      |SELECT CAST(cum_before // 4096 AS BIGINT) AS chunk, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS chunk_chars
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Sliding-window passage chunking ([[Packing.chunkText]]): 200-char
    * windows advancing by 150 (50-char overlap) — the embedding-side
    * chunker. Gated at CHUNK granularity: every chunk's md5 must match
    * the oracle's substring arithmetic, so a one-character boundary slip
    * anywhere in any document fails the gate. Narrow plan: sequence +
    * explode + substring, no shuffle before the output sort. */
  val q102ChunkText: Q = (s, dir) => {
    import s.implicits._
    Packing.chunkText(Tables.documents(s, dir), "doc_id", "text",
        size = 200, overlap = 50)
      .select($"id".as("doc_id"), $"chunk_idx", $"chunk_len",
        md5($"chunk_text").as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }
  val q102Sql: String =
    """WITH c AS (
      |  SELECT doc_id, i AS chunk_idx,
      |         substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(0,
      |            CAST(greatest(ceil((length(text) - 50) / 150.0), 1) AS BIGINT) - 1)) AS i
      |        FROM documents))
      |SELECT doc_id, chunk_idx, length(chunk_text) AS chunk_len,
      |       md5(chunk_text) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Per-source mixture weights for q52 — drives BOTH sides: the Spark
    * `when` chain and the oracle CASE are generated from this one map,
    * so they cannot drift. Keys are source-index mod 4; values are
    * exact binary fractions (0.5/0.25 steps) so `frac × 1000` rounds
    * identically in both engines. */
  private val mixWeights: Seq[(Int, Double)] =
    Seq(0 -> 2.5, 1 -> 1.25, 2 -> 1.0, 3 -> 0.25)

  // ---------------------------------------------------------------- q52
  /** Weighted source mixing ([[Sampling.weightedMix]]): epoch-style
    * up/down-sampling of sources (2.5× / 1.25× / 1× / 0.25× by source
    * index mod 4). The Spark side MATERIALIZES the replicated rows
    * (sequence+explode, no shuffle) and aggregates them; the oracle
    * never replicates — it sums the closed-form per-row copy count —
    * so the gate proves the explode path realizes exactly the declared
    * mixture. */
  val q52WeightedMix: Q = (s, dir) => {
    import s.implicits._
    val widx = (substring($"source", 4, 10).cast("int") % 4).as("widx")
    val weight = mixWeights.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (i, wt)) => acc.when($"widx" === i, wt)
    }
    Sampling.weightedMix(
      Tables.documents(s, dir).withColumn("widx", widx).withColumn("wt", weight),
      "doc_id", $"wt")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("mix_chars"))
      .orderBy($"source")
  }
  val q52Sql: String = {
    val digits = md5Bits32Sql("h")
    val cases = mixWeights.map { case (i, wt) => s"WHEN $i THEN $wt" }.mkString(" ")
    s"""WITH w AS (
       |  SELECT doc_id, source, n_chars,
       |    CASE CAST(substr(source, 4) AS INT) % 4 $cases END AS wt,
       |    ($digits) % 1000 AS bucket
       |  FROM (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)),
       |n AS (
       |  SELECT source, n_chars,
       |    CAST(floor(wt) AS BIGINT)
       |      + CASE WHEN bucket < round((wt - floor(wt)) * 1000) THEN 1 ELSE 0 END AS n
       |  FROM w)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
       |       CAST(sum(n * n_chars) AS BIGINT) AS mix_chars
       |FROM n GROUP BY source HAVING sum(n) > 0 ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q111
  /** Source-mix planning ([[Sampling.mixPlan]]): the step BEFORE q52's
    * mixing executes — per-source token supply (Σ n_chars as the token
    * proxy) meets non-uniform target weights (1 + source-index mod 3)
    * and a budget of 70% of total supply, chosen so the rate cap
    * genuinely engages: over-weighted sources want more than they have
    * and cap at rate 1, under-weighted ones get a fractional keep rate.
    * The corpus-total scalar is a driver-side read of the 20-row stats
    * table (dimension-sized by definition); the Σw normalizer joins
    * back as a broadcast scalar. Gate covers the share/want/rate/
    * planned arithmetic and both sides of the cap. */
  val q111MixPlan: Q = (s, dir) => {
    import s.implicits._
    val stats = Tables.documents(s, dir)
      .groupBy($"source")
      .agg(sum($"n_chars").as("n_tokens"))
      .withColumn("w", lit(1.0) + (substring($"source", 4, 10).cast("int") % 3))
    val total = stats.agg(sum($"n_tokens")).head().getLong(0)
    Sampling.mixPlan(stats, "w", "n_tokens", budget = (0.7 * total).floor.toLong)
      .select($"source", $"n_tokens", $"w",
        round($"share", 6).as("share"), round($"rate", 6).as("rate"),
        round($"planned", 2).as("planned"))
      .orderBy($"source")
  }
  val q111Sql: String =
    """WITH st AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens,
      |         1.0 + (CAST(substr(source, 4) AS INT) % 3) AS w
      |  FROM documents GROUP BY source),
      |t AS (SELECT sum(w) AS wsum,
      |             CAST(floor(0.7 * sum(n_tokens)) AS BIGINT) AS budget
      |      FROM st)
      |SELECT source, n_tokens, w,
      |  round(w / wsum, 6) AS share,
      |  round(least(1.0, (w / wsum) * budget / n_tokens), 6) AS rate,
      |  round(least((w / wsum) * budget, CAST(n_tokens AS DOUBLE)), 2) AS planned
      |FROM st, t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Salted JOIN under deliberate key skew ([[SkewJoin.saltedJoin]]):
    * lineitem rows get a synthesized nation key where ~80% of rows land
    * on key 0 (the hot-key pathology AQE's partition-level splitting may
    * be too coarse for: ONE key, not one partition, is hot), then join
    * the 25-row nation dim on (key, salt) with the dim exploded ×8. The
    * oracle is the plain join + GROUP BY — salting changes where rows
    * meet, never which rows meet. Counts and floor-sums are integer
    * aggregates: exact under any salt split. Complements q44, which
    * gates only the salted AGGREGATE. */
  val q95SaltedJoin: Q = (s, dir) => {
    import s.implicits._
    val facts = Tables.lineitem(s, dir).select(
      when($"l_orderkey" % 5 === 0, ($"l_orderkey" % 25).cast("long"))
        .otherwise(0L).as("nk"),
      $"l_quantity")
    val dim = Tables.nation(s, dir)
      .select($"n_nationkey".cast("long").as("nk"), $"n_name")
    SkewJoin.saltedJoin(facts, dim, Seq("nk"), saltFactor = 8)
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        sum(floor($"l_quantity").cast("long")).as("sum_qty"))
      .orderBy($"n_name")
  }
  val q95Sql: String =
    """WITH f AS (
      |  SELECT CASE WHEN l_orderkey % 5 = 0 THEN l_orderkey % 25 ELSE 0 END AS nk,
      |         l_quantity
      |  FROM lineitem)
      |SELECT n_name, count(*) AS n,
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM f JOIN nation ON f.nk = nation.n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------- q121
  /** Token-budget FFD bin packing ([[Packing.ffdPack]]): every document
    * (ws-token length) packs into ≤256-token bins, first-fit-decreasing
    * within deterministic md5 hash buckets. The gate is the FULL
    * per-doc assignment table — a single doc taking a different bin
    * anywhere (wrong sort order, wrong first-fit scan, wrong new-bin
    * rule) flips the hash — and the oracle restates the identical fold
    * symbol-for-symbol as a DuckDB `list_reduce` (sorted struct list,
    * first-bin-with-room via filtered index scan, else open a new bin).
    *
    * Scale shape: one shuffle to bucket, then each bucket packs in its
    * own task as a pure Catalyst `aggregate` fold. The bucket COUNT
    * scales with the corpus — `⌈n/64⌉`, restated by the oracle as a
    * scalar subquery — which is what keeps the fold's total O(n·m²) cost bounded (m = docs per bucket) and work LINEAR in n (a fixed
    * bucket count measured 20 s at sf0.1 and would go quadratic from
    * there; bounded buckets run the same catalog in ~1 s). Per-bin
    * utilization lands ~96% (spec-pinned ≥90% average). */
  val q121FfdPack: Q = (s, dir) => {
    import s.implicits._
    // tokenize ONCE: the eager localCheckpoint materializes the (id, len)
    // table so the bucket-sizing count and the packing job both read it
    // instead of re-running wsTokenCount over the corpus
    val docs = Tables.documents(s, dir)
      .select($"doc_id",
        graft.functions.TextAnalysis.wsTokenCount($"text").as("len"))
      .localCheckpoint()
    val eligible = docs.filter($"len" > 0 && $"len" <= 256)
    val buckets = math.max(1L, math.ceil(eligible.count() / 64.0).toLong).toInt
    Packing.ffdPack(docs, "doc_id", "len", capacity = 256L, buckets = buckets)
      .select($"bucket", $"id".as("doc_id"), $"len".as("n_toks"), $"bin")
      .orderBy($"bucket", $"doc_id")
  }
  /** The [[Packing.ffdPack]] fold as CTEs over `f(doc_id, len,
    * bucket)`: per-bucket descending sort (id tiebreak) → first-fit
    * scan fold → `p(bucket, packed)`, with the per-doc unnest as the
    * canonical projection. ONE text for q121 and the composed pipeline
    * gate's pack stage (the q203 discipline). */
  private[graft] def ffdFoldCtes(capacity: Long): String =
    ffdFoldCtesPrefixed("", capacity)

  /** [[ffdFoldCtes]] with every CTE name prefixed (reads `<pre>f`,
    * emits `<pre>g`/`<pre>p`) so several instantiations — one per
    * micro-batch slice in the q209 streaming-pipeline oracle — coexist
    * in one WITH chain; `pre = ""` is byte-identical to q121's text. */
  private[graft] def ffdFoldCtesPrefixed(pre: String, capacity: Long): String =
    s"""${pre}g AS (
       |  SELECT bucket,
       |    list_sort(list({'nl': -len, 'id': doc_id, 'len': len})) AS ds
       |  FROM ${pre}f GROUP BY bucket),
       |${pre}p AS (
       |  SELECT bucket,
       |    list_reduce(
       |      list_transform(ds,
       |        d -> [{'id': d.id, 'len': d.len, 'bin': CAST(1 AS BIGINT)}]),
       |      (a, x) -> list_append(a, {'id': x[1].id, 'len': x[1].len,
       |        'bin': COALESCE(
       |          list_filter(
       |            generate_series(1,
       |              COALESCE(list_max(list_transform(a, s -> s.bin)), 0)),
       |            i -> list_sum(list_transform(
       |                   list_filter(a, s -> s.bin = i), s -> s.len))
       |                 + x[1].len <= $capacity)[1],
       |          COALESCE(list_max(list_transform(a, s -> s.bin)), 0) + 1)}))
       |      AS packed
       |  FROM ${pre}g)""".stripMargin

  /** Per-doc assignment rows off `p` — `(bucket, doc_id, n_toks, bin)`. */
  private[graft] val ffdUnnested: String = ffdUnnestedPrefixed("")

  private[graft] def ffdUnnestedPrefixed(pre: String): String =
    s"""SELECT bucket, a.id AS doc_id, a.len AS n_toks, a.bin AS bin
       |FROM (SELECT bucket, unnest(packed) AS a FROM ${pre}p)""".stripMargin

  val q121Sql: String = {
    val docIdBits = md5Bits32Sql("md5(CAST(doc_id AS VARCHAR))")
    s"""WITH tk AS (
       |  SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS len
       |  FROM documents),
       |f0 AS (SELECT doc_id, len FROM tk WHERE len > 0 AND len <= 256),
       |nb AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / 64.0)) AS BIGINT) AS b FROM f0),
       |f AS (
       |  SELECT doc_id, len, (($docIdBits) % (SELECT b FROM nb)) AS bucket
       |  FROM f0),
       |${ffdFoldCtes(capacity = 256)}
       |$ffdUnnested
       |ORDER BY bucket, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q153
  /** Persisted-and-merged t-digest quantiles
    * ([[graft.functions.TDigest]]): per-source digests of the document
    * length distribution are built (map-side ≤ ~δ/2 centroids per
    * partition into the exchange — the k₁ bound), PERSISTED as parquet
    * rows, reloaded,
    * and re-merged — per source and across sources to a global `*`
    * digest — exercising the full sketch lifecycle that
    * `percentile_approx` cannot express (its sketch never surfaces).
    * Estimates are read off the reloaded digests driver-side
    * (dimension-sized collect: one digest per source).
    *
    * Gate = the bounded-error pattern (HLL precedent): a digest's exact
    * centroid set depends on Spark's nondeterministic partial-merge
    * order, so the gate hashes rank-error FLAGS — empirical rank of
    * each estimate within ±0.05 of its target quantile, ~10× the
    * structural q(1-q)/δ bound at δ=200 — alongside two fully exact
    * columns (group count, interpolated exact median ≡ DuckDB
    * `quantile_cont`). At 100 TB the exact-median column is the
    * test-scale verifier the digest replaces; the digest path itself
    * never sorts and never moves raw rows. `TDigestSpec` pins the
    * error bound across merge orderings. */
  val q153Tdigest: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TDigest
    val docs = Tables.documents(s, dir)
      .select($"source", $"n_chars".cast("double").as("x"))
    Scratch.withTempDir("graft_tdigest") { shardDir =>
      docs.groupBy($"source").agg(TDigest.digestAgg($"x").as("digest"))
        .write.parquet(shardDir)
      digestFlagReport(s, docs, s.read.parquet(shardDir))
    }
  }
  /** Shared verification tail of q153 (batch-built digests) and q166
    * (stream-built digests): merge the (source, digest) shard rows —
    * per source and globally to `*` — read the quantile estimates off
    * the merged digests (dimension-sized collect), and emit the
    * bounded-rank-error flag report beside the exact columns computed
    * from `docs` (source, x). Margin in ELEMENTS: 5% of the group with
    * a 2-element floor — at tiny n (sf0.001: 25 docs/source) a rank
    * quantum is 1/n and value ties snap the empirical rank in
    * whole-element jumps, so a pure fractional margin is brittle
    * exactly where the sketch is actually near-exact. */
  private[graft] def digestFlagReport(s: SparkSession, docs: DataFrame,
                                      shards: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.TDigest
    val perSrc = shards.groupBy($"source")
      .agg(TDigest.digestMergeAgg($"digest").as("digest"))
    val global = shards
      .agg(TDigest.digestMergeAgg($"digest").as("digest"))
      .select(lit("*").as("source"), $"digest")
    val ests = perSrc.unionByName(global)
      .as[(String, TDigest.Digest)].collect().toSeq
      .map { case (src, d) =>
        (src, TDigest.quantile(d, 0.5), TDigest.quantile(d, 0.95),
          TDigest.quantile(d, 0.99))
      }
    val estDf = broadcast(ests.toDF("source", "e50", "e95", "e99"))
    val expanded = docs.unionByName(docs.withColumn("source", lit("*")))
    def okFlag(est: org.apache.spark.sql.Column,
               q: Double): org.apache.spark.sql.Column =
      abs(sum(when($"x" <= est, 1L).otherwise(0L)).cast("double") -
        count(lit(1)) * q) <= greatest(count(lit(1)) * 0.05, lit(2.0))
    expanded.join(estDf, Seq("source"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(x, 0.5D)"), 1).as("p50_exact"),
        okFlag($"e50", 0.5).as("ok_p50"),
        okFlag($"e95", 0.95).as("ok_p95"),
        okFlag($"e99", 0.99).as("ok_p99"))
      .orderBy($"source")
      .localCheckpoint() // dimension-sized; materialize before cleanup
  }

  val q153Sql: String =
    """WITH u AS (
      |  SELECT source, n_chars FROM documents
      |  UNION ALL
      |  SELECT '*' AS source, n_chars FROM documents)
      |SELECT source, count(*) AS n,
      |       round(quantile_cont(n_chars, 0.5), 1) AS p50_exact,
      |       true AS ok_p50, true AS ok_p95, true AS ok_p99
      |FROM u GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q159
  /** Persisted-and-unioned HLL distinct sketches
    * ([[graft.operators.Reports.distinctSketches]], DataSketches HLL):
    * per-event-type sketches of the distinct user set are built,
    * PERSISTED as parquet binary rows, reloaded, and set-UNIONED to a
    * global `*` sketch — the property that matters is that union ≠
    * sum: users active in several event types count once, which only a
    * mergeable sketch VALUE (not `approx_count_distinct`'s sealed
    * state) can deliver incrementally. Completes the persisted-sketch
    * trilogy: Misra-Gries frequencies (q143), t-digest quantiles
    * (q153), HLL cardinalities (this). Gate = bounded-error flags
    * (±5%, ~3× the lgK=12 RSE) beside the exact distinct counts the
    * oracle replays; at gate scale the sketch is in sparse mode and
    * near-exact, the margin covers dense-mode scale-ups. */
  val q159HllRollup: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"user_id")
    Scratch.withTempDir("graft_hll") { skDir =>
      Reports.distinctSketches(ev, "event_type", "user_id")
        .write.parquet(skDir)
      val re = s.read.parquet(skDir)
      val global = re.agg(hll_union_agg($"sk").as("sk"))
        .select(lit("*").as("event_type"), $"sk")
      val est = re.unionByName(global)
        .select($"event_type", hll_sketch_estimate($"sk").as("est"))
      val exact = ev.unionByName(ev.withColumn("event_type", lit("*")))
        .groupBy($"event_type").agg(countDistinct($"user_id").as("n_exact"))
      exact.join(broadcast(est), Seq("event_type"))
        .select($"event_type", $"n_exact",
          (abs($"est" - $"n_exact") <= $"n_exact" * 0.05).as("ok_est"))
        .orderBy($"event_type")
        .localCheckpoint() // group-cardinality-sized; materialize pre-cleanup
    }
  }
  val q159Sql: String =
    """WITH u AS (
      |  SELECT event_type, user_id FROM events
      |  UNION ALL
      |  SELECT '*' AS event_type, user_id FROM events)
      |SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS ok_est
      |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q165
  /** EXACT mergeable distinct-count state via Spark's bitmap aggregate
    * family: user ids map to (bucket, bit position), per-(type, bucket)
    * bitmaps build with `bitmap_construct_agg`, PERSIST as parquet
    * binary rows, reload, and roll up two ways — per type by summing
    * bucket bit-counts, and across types by OR-ing bitmaps per bucket
    * first (set union: a user active in several types counts ONCE).
    * The exact sibling of the q159 HLL rollup: same
    * persist→merge→count lifecycle, zero error — so the gate needs no
    * flags, the oracle is plain `count(DISTINCT)`. State is
    * O(id-range/8) bytes sharded by bucket — the dense-id regime where
    * bitmaps beat sketches; arbitrary ids hash into the q159 HLL path
    * instead. Bucket partitioning keeps every OR local to its bucket:
    * the rollup shuffles bitmap rows, never raw ids. */
  val q165BitmapDistinct: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"user_id")
    Scratch.withTempDir("graft_bitmap") { bmDir =>
      ev.select($"event_type",
        expr("bitmap_bucket_number(user_id)").as("bkt"),
        expr("bitmap_bit_position(user_id)").as("pos"))
        .groupBy($"event_type", $"bkt")
        .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        .write.parquet(bmDir)
      bitmapDistinctReport(s, s.read.parquet(bmDir))
    }
  }
  /** Shared rollup tail of q165 (batch-built bitmaps) and q172
    * (stream-built, multiple rows per (type, bucket) across batches):
    * OR-merge to per-(type, bucket) bitmaps, then per-type bit-count
    * sums and the cross-type `*` union. OR is idempotent, so replayed
    * or split shard rows merge to the identical exact answer. */
  private[graft] def bitmapDistinctReport(s: SparkSession,
                                          shards: DataFrame): DataFrame = {
    import s.implicits._
    val merged = shards.groupBy($"event_type", $"bkt")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
    val perType = merged.groupBy($"event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    val global = merged.groupBy($"bkt")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .select(lit("*").as("event_type"), $"n_users")
    perType.unionByName(global)
      .orderBy($"event_type")
      .localCheckpoint() // type-cardinality-sized; materialize pre-cleanup
  }

  val q165Sql: String =
    """WITH u AS (
      |  SELECT event_type, user_id FROM events
      |  UNION ALL
      |  SELECT '*' AS event_type, user_id FROM events)
      |SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q175
  /** WEIGHTED t-digest quantiles
    * ([[graft.functions.TDigest.digestAggWeighted]]): every document
    * weighs its char count, so the median answers "the length below
    * which half the CORPUS MASS sits" — the question a token-budgeted
    * training pipeline actually asks — not "half the documents". The
    * exact column is the integer-arithmetic weighted median (running
    * char-mass, `2·cum ≥ tot` — no float boundary cross-engine), and
    * the flag checks the digest estimate's mass-rank within
    * max(5% of mass, 2 max-doc-weights) — the element-floor lesson of
    * q153 restated in mass units (one document's mass is the snap
    * quantum). Global `*` row via digest merge, q153-style. */
  val q175WeightedDigest: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TDigest
    val docs = Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars".cast("double").as("x"),
        $"n_chars".cast("long").as("w"))
    val expanded = docs.unionByName(docs.withColumn("source", lit("*")))
    val perSrc = docs.groupBy($"source")
      .agg(TDigest.digestAggWeighted($"x", $"x").as("digest"))
    val global = perSrc.agg(TDigest.digestMergeAgg($"digest").as("digest"))
      .select(lit("*").as("source"), $"digest")
    val ests = perSrc.unionByName(global)
      .as[(String, TDigest.Digest)].collect().toSeq
      .map { case (src, d) => (src, TDigest.quantile(d, 0.5)) }
    val estDf = broadcast(ests.toDF("source", "e50"))
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"x", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val exact = expanded
      .withColumn("cum", sum($"w").over(wWin))
      .withColumn("tot", sum($"w").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .where(lit(2) * $"cum" >= $"tot")
      .groupBy($"source")
      .agg(first($"tot").as("total_w"), min($"x").cast("long").as("wmed_exact"))
    val flags = expanded.join(estDf, Seq("source"))
      .groupBy($"source")
      .agg((abs(lit(2) * sum(when($"x" <= $"e50", $"w").otherwise(0L)) -
        sum($"w")) <= greatest(sum($"w") * 0.1, max($"w") * 4)).as("ok_p50"))
    exact.join(flags, Seq("source"))
      .select($"source", $"total_w", $"wmed_exact", $"ok_p50")
      .orderBy($"source")
  }
  val q175Sql: String =
    """WITH u AS (
      |  SELECT source, doc_id, n_chars AS x, n_chars AS w FROM documents
      |  UNION ALL
      |  SELECT '*' AS source, doc_id, n_chars AS x, n_chars AS w FROM documents),
      |c AS (
      |  SELECT source, x, w,
      |         sum(w) OVER (PARTITION BY source ORDER BY x, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(w) OVER (PARTITION BY source) AS tot
      |  FROM u)
      |SELECT source, CAST(any_value(tot) AS BIGINT) AS total_w,
      |       CAST(min(x) AS BIGINT) AS wmed_exact, true AS ok_p50
      |FROM c WHERE 2 * cum >= tot GROUP BY source ORDER BY source""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q44_salted_agg", q44SaltedAgg, Some(q44Sql)),
    ("q95_salted_join", q95SaltedJoin, Some(q95Sql)),
    ("q50_hash_split", q50HashSplit, Some(q50Sql)),
    ("q51_seq_packing", q51Packing, Some(q51Sql)),
    ("q102_chunk_text", q102ChunkText, Some(q102Sql)),
    ("q52_weighted_mix", q52WeightedMix, Some(q52Sql)),
    ("q111_mix_plan", q111MixPlan, Some(q111Sql)),
    ("q121_ffd_pack", q121FfdPack, Some(q121Sql)),
    ("q153_tdigest", q153Tdigest, Some(q153Sql)),
    ("q159_hll_rollup", q159HllRollup, Some(q159Sql)),
    ("q165_bitmap_distinct", q165BitmapDistinct, Some(q165Sql)),
    ("q175_weighted_digest", q175WeightedDigest, Some(q175Sql)),
  )
}
