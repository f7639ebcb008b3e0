package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextAnalysis
import graft.operators.{IvfIndex, NswIndex, Packing, TextDedup}
import graft.operators.Sampling.hashBucket
import graft.sources.StoreFs

/** The composed END-TO-END pipeline gate (r14 verdict #7): every stage
  * of the production training-data pipeline is oracle-gated separately
  * by the catalog (q105 strip, q24 quality, q28/q30 dedup, q121 pack),
  * but no single gate priced the FULL composition — the plan
  * interactions (one strip feeding four consumers, dedup survivors
  * flowing into packing, the shard sink round-trip) are exactly what a
  * real corpus build runs as ONE job. q208 runs
  *
  *   raw crawl (planted dup corpus) → HTML strip → quality filter →
  *   exact dedup → MinHash-LSH near-dup removal → token count →
  *   FFD pack → shard sink (partitioned parquet) → read-back
  *
  * and hashes a 7-row stage-metrics funnel (rows + integer weight per
  * stage) the DuckDB oracle replays stage-for-stage from the SAME
  * factored CTE texts the individual gates use
  * ([[QueriesCurate.htmlStripCtes]], [[QueriesText.minhashCtesOver]],
  * [[QueriesScale.ffdFoldCtes]] — the q203 one-text discipline, so the
  * composed gate cannot drift from the per-stage gates).
  *
  * Fixture: documents ∪ EXACT re-crawl copies (`doc_id + 100000`) ∪
  * PERTURBED copies (`doc_id + 200000`, two appended tokens) — the
  * exact-dedup stage must remove the first planting, the near-dup
  * stage the second (the crawl shell's `doc_id % 5` nav is invariant
  * mod 100000, so a copy strips to the identical main text).
  *
  * Scale shape: strip/quality/fingerprint are per-row expression
  * chains (shuffle-free); exact dedup shuffles once on the
  * fingerprint; near-dup is the banded LSH join (shuffle keys =
  * band hashes, hot buckets capped — never all-pairs); packing is one
  * bucket shuffle + per-bucket fold. The stage funnel itself is
  * metadata-sized.
  *
  * Session-cache contract (q142/q199 shape): the pipeline runs ONCE
  * per session, persisting the shard store AND the upstream funnel
  * rows beside it; steady passes re-derive the `06_shard` row from the
  * REAL shard files (the serve operation a training job runs) and read
  * the persisted funnel — cold passes re-run the whole pipeline. */
object QueriesPipeline {
  import Queries.Q
  import QueriesSimilarity.{dotSql, lloydIdxSql, norm2Sql}
  import QueriesText.{docBucketsSql, md5Bits32Sql, normSql, plantedArrivals,
    plantedDeltaSql, plantedVecDeltaSql, scaled101, storeCorpusSql,
    storeDeltaSigCtes, storeNearCtes, vecBucketsSql, zzQq}

  // ------------------------- shared oracle parts of q209–q211/q216/q219
  // Built from QueriesText's shared text-dedup gate parts; the vals sit
  // above every gate because an object's vals initialise in source
  // order.

  /** Batch `k`'s funnel rows `(bk, stage, n_rows, w)`: for each
    * `stage -> relation`, its row count and Σ `id`; the first row
    * carries the column aliases. */
  private def funnelRowsSql(k: Int, id: String, stages: (String, String)*): String =
    stages.zipWithIndex.map {
      case ((stage, rel), 0) =>
        s"""  SELECT CAST($k AS BIGINT) AS bk, '$stage' AS stage,
           |         CAST(count(*) AS BIGINT) AS n_rows,
           |         COALESCE(CAST(sum($id) AS BIGINT), 0) AS w FROM $rel""".stripMargin
      case ((stage, rel), _) =>
        s"""  SELECT CAST($k AS BIGINT), '$stage', CAST(count(*) AS BIGINT),
           |         COALESCE(CAST(sum($id) AS BIGINT), 0) FROM $rel""".stripMargin
    }.mkString("\n  UNION ALL\n")

  /** The corpus builds' planted `delta` body: [[plantedDeltaSql]] plus
    * perturbed copies of fresh arrivals (`+500000`), which only the
    * intra-batch near-dup stage can catch. */
  private val corpusBuildDeltaSql: String =
    s"""$plantedDeltaSql
       |  UNION ALL SELECT doc_id + 500000 AS doc_id, text || ' zz qq' AS text
       |    FROM bkt WHERE bk >= 8 AND doc_id % 17 = 0""".stripMargin

  /** Batch `k` of a corpus build: its arrivals `arr<k>` (`doc_id % 4 =
    * k` of `delta`) and their intra-batch exact dedup `ex<k>`. */
  private def docBatchSql(k: Int): String =
    s"""arr$k AS (SELECT doc_id, text FROM delta WHERE doc_id % 4 = $k),
       |ex$k AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5($normSql)) AS keep
       |    FROM arr$k)
       |  WHERE doc_id = keep)""".stripMargin

  /** Batch `k`'s store survivors `st<k>` (the `ex<k>` rows whose id is
    * in `ok`) and their intra-batch MinHash-LSH near-dup removal
    * `nr<k>`. */
  private def docNearSql(k: Int, ok: String): String = {
    val p = s"b${k}_"
    s"""st$k AS MATERIALIZED (
       |  SELECT e.doc_id, e.text FROM ex$k e JOIN $ok o ON o.id = e.doc_id),
       |${QueriesText.minhashCtesPrefixed(p, s"SELECT doc_id, text FROM st$k")},
       |bdrop$k AS (
       |  SELECT DISTINCT b_id FROM ${p}inter
       |  WHERE i * 1.0 / (na + nb - i) >= 0.3),
       |nr$k AS MATERIALIZED (
       |  SELECT doc_id, text FROM st$k
       |  WHERE doc_id NOT IN (SELECT b_id FROM bdrop$k))""".stripMargin
  }

  /** Batch `k`'s token count and FFD pack of `nr<k>` into `pk<k>`. */
  private def docPackSql(k: Int): String = {
    val p = s"b${k}_"
    s"""${p}f0 AS (
       |  SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS len
       |  FROM nr$k
       |  WHERE len(string_split($normSql, ' ')) BETWEEN 1 AND 256),
       |${p}nb AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / 64.0)) AS BIGINT) AS b FROM ${p}f0),
       |${p}f AS (
       |  SELECT doc_id, len,
       |         ((${md5Bits32Sql("md5(CAST(doc_id AS VARCHAR))")}) % (SELECT b FROM ${p}nb)) AS bucket
       |  FROM ${p}f0),
       |${QueriesScale.ffdFoldCtesPrefixed(p, capacity = 256)},
       |pk$k AS MATERIALIZED (
       |  ${QueriesScale.ffdUnnestedPrefixed(p)})""".stripMargin
  }

  /** The closing rows of q209/q210: the `f_shard` read-back over the
    * four packs, then every batch's five funnel rows, ordered. */
  private val docFunnelTailSql: String = {
    val funnelRows = (0 until 4).map { k =>
      funnelRowsSql(k, "doc_id", "a_arrived" -> s"arr$k", "b_exact" -> s"ex$k",
        "c_store" -> s"st$k", "d_near" -> s"nr$k") +
        s"""
           |  UNION ALL
           |  SELECT CAST($k AS BIGINT), 'e_packed', CAST(count(*) AS BIGINT),
           |         (SELECT COALESCE(CAST(sum(mx) AS BIGINT), 0) FROM
           |            (SELECT max(bin) AS mx FROM pk$k GROUP BY bucket)) FROM pk$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""  SELECT CAST(-1 AS BIGINT) AS bk, 'f_shard' AS stage,
       |         CAST(count(*) AS BIGINT) AS n_rows,
       |         COALESCE(CAST(sum(n_toks) AS BIGINT), 0) AS w
       |  FROM (SELECT * FROM pk0 UNION ALL SELECT * FROM pk1
       |        UNION ALL SELECT * FROM pk2 UNION ALL SELECT * FROM pk3)
       |  UNION ALL
       |$funnelRows)
       |ORDER BY bk, stage""".stripMargin
  }

  /** The semantic builds' opening CTEs: `eb` over `vec_id < cap`, the
    * base corpus `src` (buckets 0–7) and its k=8 Lloyd fit, the
    * planted `delta` ([[plantedVecDeltaSql]] plus the cross-batch
    * copies of batch-0 fresh arrivals) and the fitted base store
    * `st0`. */
  private def semanticPrefixSql(cap: String): String =
    s"""eb AS (
       |  ${vecBucketsSql(cap)}),
       |src AS MATERIALIZED (SELECT vec_id AS id, v FROM eb WHERE bk < 8),
       |${lloydIdxSql("src", "8")},
       |delta AS MATERIALIZED (
       |$plantedVecDeltaSql
       |  UNION ALL SELECT vec_id + 2000002 AS id, v FROM eb
       |    WHERE bk >= 8 AND vec_id % 4 = 0
       |  UNION ALL SELECT vec_id + 3000002 AS id,
       |    list_transform(v, x -> x * 1.01) AS v FROM eb
       |    WHERE bk >= 8 AND vec_id % 4 = 0 AND vec_id % 3 = 0),
       |st0 AS MATERIALIZED (SELECT id, v, cluster FROM idx)""".stripMargin

  /** Batch `k` of a semantic build: its arrivals `arr<k>` (`id % 4 = k`
    * of `delta`) and their intra-batch exact dedup `ex<k>`. */
  private def vecBatchSql(k: Int): String =
    s"""arr$k AS (SELECT id, v FROM delta WHERE id % 4 = $k),
       |ex$k AS MATERIALIZED (
       |  SELECT id, v FROM (
       |    SELECT *, min(id) OVER (PARTITION BY v) AS keep FROM arr$k)
       |  WHERE id = keep)""".stripMargin

  /** Batch `k`'s screen survivors `sv<k>`: `ex<k>` without `dup<k>`. */
  private def vecSurvivorsSql(k: Int): String =
    s"""sv$k AS MATERIALIZED (
       |  SELECT id, v FROM ex$k WHERE id NOT IN (SELECT id FROM dup$k))""".stripMargin

  /** Batch `k`'s three semantic funnel rows. */
  private def vecFunnelRowsSql(k: Int): String =
    funnelRowsSql(k, "id", "a_arrived" -> s"arr$k", "b_exact" -> s"ex$k",
      "c_store" -> s"sv$k")

  private def flatCosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${norm2Sql(a)} * ${norm2Sql(b)})"

  /** Top-`n` centroid probe of relation `src(id, v)` against the
    * centroids `c`: the engine's probeCells tie-break (cos DESC,
    * cluster ASC), q122's replay. */
  private def flatProbeSql(name: String, src: String, c: String, n: Int): String =
    s"""$name AS (
       |  SELECT id, v, cluster FROM (
       |    SELECT e.id, e.v, c.cluster,
       |           row_number() OVER (PARTITION BY e.id
       |             ORDER BY ${flatCosSql("e.v", "c.centroid")} DESC, c.cluster ASC) AS rn
       |    FROM $src e CROSS JOIN $c c)
       |  WHERE rn <= $n)""".stripMargin

  /** Batch `k` of q211/q219's flat screen against the store `store`
    * and its centroids `cent`: probe (nProbe 2), dup iff a probed
    * store row has cos ≥ 0.8, the survivors assigned to their top
    * cell and appended as `st<k+1>`. */
  private def flatScreenSql(k: Int, cent: String, store: String): String =
    s"""${vecBatchSql(k)},
       |${flatProbeSql(s"pr$k", s"ex$k", cent, 2)},
       |dup$k AS (
       |  SELECT DISTINCT p.id FROM pr$k p JOIN $store i USING (cluster)
       |  WHERE round(${flatCosSql("p.v", "i.v")}, 4) >= 0.8),
       |${vecSurvivorsSql(k)},
       |${flatProbeSql(s"svidx$k", s"sv$k", cent, 1)},
       |st${k + 1} AS MATERIALIZED (
       |  SELECT * FROM $store UNION ALL SELECT id, v, cluster FROM svidx$k)""".stripMargin

  /** The `g_index` read-back row over the final store `st4`. */
  private val gIndexRowSql: String =
    """  SELECT CAST(-2 AS BIGINT), 'g_index', CAST(count(*) AS BIGINT),
      |         COALESCE(CAST(sum(id) AS BIGINT), 0) FROM st4""".stripMargin

  /** q211/q219's serve: the top-3 search of the queries `vec_id < 5`
    * over `st4` probed against `cent`, opening the result with the
    * `f_serve` and `g_index` rows. */
  private def flatServeSql(cent: String): String =
    s"""qs AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings WHERE vec_id < 5),
       |${flatProbeSql("qpr", "qs", cent, 2)},
       |qrank AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT p.id AS q_id, i.id AS n_id,
       |           row_number() OVER (PARTITION BY p.id
       |             ORDER BY ${flatCosSql("p.v", "i.v")} DESC, i.id ASC) AS rank
       |    FROM qpr p JOIN st4 i USING (cluster))
       |  WHERE rank <= 3)
       |SELECT bk, stage, n_rows, w FROM (
       |  SELECT CAST(-1 AS BIGINT) AS bk, 'f_serve' AS stage,
       |         CAST(count(*) AS BIGINT) AS n_rows,
       |         COALESCE(CAST(sum(rank * n_id) AS BIGINT), 0) AS w FROM qrank
       |  UNION ALL
       |$gIndexRowSql""".stripMargin

  // ---------------------------------------------------------------- q208
  val q208PipelineSoak: Q = (s, dir) => {
    import s.implicits._
    val base = Scratch.session("graft_q208", dir) { b =>
      val d = Tables.documents(s, dir).select($"doc_id", $"text")
      val plant = d
        .unionByName(d.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
        .unionByName(d.select(($"doc_id" + 200000L).as("doc_id"),
          concat($"text", lit(" zz qq")).as("text")))
      // 01: strip the crawl shell back to the main content — one
      // corpus-sized expression chain, materialized once for the four
      // downstream consumers
      val stripped = plant
        .select($"doc_id", QueriesCurate.crawlShell.as("html"))
        .select($"doc_id", TextAnalysis.mainContent($"html").as("text"))
        .localCheckpoint()
      // 02: quality — token-length window + distinct-token ratio
      // (integer arithmetic: nd/len >= 0.3 without a float compare)
      val qual = stripped
        .withColumn("w", TextAnalysis.wsTokens($"text"))
        .withColumn("len", size($"w").cast("long"))
        .withColumn("nd", size(array_distinct($"w")).cast("long"))
        .filter($"len" >= 10 && $"len" <= 256 && $"nd" * 10 >= $"len" * 3)
        .select($"doc_id", $"text", $"len")
        .localCheckpoint()
      // 03: exact dedup — min doc_id per content fingerprint
      val ex = minIdPer(qual, "doc_id", TextAnalysis.fingerprint($"text"))
      // 04: near-dup removal — banded MinHash-LSH pairs (the q30
      // parameters), drop the LARGER id of every verified pair
      val nr = dropNearDups(ex)
      // 05: FFD pack at 256-token capacity, q121's bucket sizing
      val buckets = math.max(1L, math.ceil(nr.count() / 64.0).toLong).toInt
      val packed = Packing.ffdPack(nr.select($"doc_id", $"len"),
          "doc_id", "len", capacity = 256L, buckets = buckets)
        .select($"bucket", $"id".as("doc_id"), $"len".as("n_toks"), $"bin")
        .localCheckpoint()
      // 06: shard sink — the packed assignment partitioned by bucket,
      // the layout a training job's readers consume shard-by-shard
      packed.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$b/shards")
      // persist the upstream funnel beside the shards (the q199
      // audit-trail shape: steady serves from the store, not the run)
      def m(stage: String, df: DataFrame, weight: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).cast("long").as("n_rows"),
            coalesce(weight, lit(0L)).cast("long").as("weight"))
          .select(lit(stage).as("stage"), $"n_rows", $"weight")
      val binsTotal = packed.groupBy($"bucket").agg(max($"bin").as("mx"))
        .agg(coalesce(sum($"mx"), lit(0L)).cast("long").as("s"))
        .select($"s")
      m("00_plant", plant, sum(length($"text")))
        .unionByName(m("01_strip", stripped, sum(length($"text"))))
        .unionByName(m("02_quality", qual, sum($"len")))
        .unionByName(m("03_exact", ex, sum($"len")))
        .unionByName(m("04_near", nr, sum($"len")))
        .unionByName(m("05_pack", packed,
          lit(binsTotal.head().getLong(0))))
        .coalesce(1).write.mode("overwrite").parquet(s"$b/funnel")
      b
    }
    // SERVE: the funnel from the store + the 06_shard row re-derived
    // from the REAL shard files on every pass — a lossless sink means
    // read-back rows and token mass equal the pack stage's
    val back = s.read.parquet(s"$base/shards")
    val shardRow = back
      .agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum($"n_toks"), lit(0L)).cast("long").as("weight"))
      .select(lit("06_shard").as("stage"), $"n_rows", $"weight")
    s.read.parquet(s"$base/funnel").unionByName(shardRow)
      .orderBy($"stage")
  }

  val q208Sql: String =
    s"""WITH plant AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id, text || ' zz qq' AS text FROM documents),
       |${QueriesCurate.htmlStripCtes("plant")},
       |stext AS MATERIALIZED (
       |  SELECT doc_id, ${QueriesCurate.stripMainOf} AS text FROM kept),
       |qw AS (
       |  SELECT doc_id, text, string_split($normSql, ' ') AS w FROM stext),
       |qual AS MATERIALIZED (
       |  SELECT doc_id, text, len FROM (
       |    SELECT doc_id, text, CAST(len(w) AS BIGINT) AS len,
       |           CAST(len(list_distinct(w)) AS BIGINT) AS nd
       |    FROM qw)
       |  WHERE len >= 10 AND len <= 256 AND nd * 10 >= len * 3),
       |ex AS MATERIALIZED (
       |  SELECT doc_id, text, len FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5($normSql)) AS keep
       |    FROM qual)
       |  WHERE doc_id = keep),
       |${QueriesText.minhashCtesOver("SELECT doc_id, text FROM ex")},
       |neardrop AS (
       |  SELECT DISTINCT b_id FROM inter
       |  WHERE i * 1.0 / (na + nb - i) >= 0.3),
       |nr AS MATERIALIZED (
       |  SELECT doc_id, text, len FROM ex
       |  WHERE doc_id NOT IN (SELECT b_id FROM neardrop)),
       |f0 AS (SELECT doc_id, len FROM nr),
       |nb AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / 64.0)) AS BIGINT) AS b FROM f0),
       |f AS (
       |  SELECT doc_id, len,
       |         ((${md5Bits32Sql("md5(CAST(doc_id AS VARCHAR))")}) % (SELECT b FROM nb)) AS bucket
       |  FROM f0),
       |${QueriesScale.ffdFoldCtes(capacity = 256)},
       |packed AS MATERIALIZED (
       |  ${QueriesScale.ffdUnnested})
       |SELECT stage, n_rows, weight FROM (
       |  SELECT '00_plant' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
       |         COALESCE(CAST(sum(length(text)) AS BIGINT), 0) AS weight FROM plant
       |  UNION ALL
       |  SELECT '01_strip', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(length(text)) AS BIGINT), 0) FROM stext
       |  UNION ALL
       |  SELECT '02_quality', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(len) AS BIGINT), 0) FROM qual
       |  UNION ALL
       |  SELECT '03_exact', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(len) AS BIGINT), 0) FROM ex
       |  UNION ALL
       |  SELECT '04_near', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(len) AS BIGINT), 0) FROM nr
       |  UNION ALL
       |  SELECT '05_pack', CAST(count(*) AS BIGINT),
       |         (SELECT COALESCE(CAST(sum(mx) AS BIGINT), 0) FROM
       |            (SELECT max(bin) AS mx FROM packed GROUP BY bucket)) FROM packed
       |  UNION ALL
       |  SELECT '06_shard', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(n_toks) AS BIGINT), 0) FROM packed)
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q209
  /** STREAMING incremental corpus build — the streaming face of q208
    * (round-16 queue item pulled forward): a base dedup store is
    * persisted once, then new crawl shards arrive over FOUR
    * deterministic micro-batches
    * ([[QueriesStreaming.keyedMultiBatchStream]]: batch k ≡ the
    * `doc_id % 4 = k` slice — the batch SPLIT is part of the
    * semantics here, exactly the q207 lesson, because each batch
    * packs and appends its own shard files). Each batch runs
    *
    *   intra-batch exact dedup (min-id per fingerprint) →
    *   classification vs the PERSISTED store
    *   ([[graft.operators.TextDedup.ingestFlagsBucketed]] — drop
    *   `dup_exact`/`dup_near`) → intra-batch MinHash-LSH near-dup
    *   removal → token count → per-batch FFD pack → shard APPEND
    *   (partitioned by batch) + funnel append,
    *
    * guarded by the q207 replay marker. The gate hashes the per-batch
    * funnel (5 rows × 4 batches) plus one read-back row over the
    * appended shard store; the oracle replays every batch's chain from
    * the prefixed factored CTEs ([[QueriesText.minhashCtesPrefixed]],
    * [[QueriesScale.ffdFoldCtesPrefixed]],
    * [[QueriesText.ingestSigCtes]] — one text with the q128/q132/
    * q189/q198 classification and the q30/q121 stages).
    *
    * CONTRACT (documented, deliberate): the store is FIXED during the
    * stream — cross-batch arrivals dedup only within their own batch
    * and against the base store, not against earlier batches'
    * survivors (the cumulative-store extension needs an append verb on
    * the dedup store — future work). The planted copies arrive in the
    * SAME batch as their originals (`+200000/+300000/+400000 ≡ 0 mod
    * 4`), so both dedup faces fire every batch: store copies via the
    * classification, fresh-doc copies via the intra-batch stages. */
  val q209StreamPipeline: Q = (s, dir) =>
    corpusStreamBuild(s, dir, "q209")(_ => Nil, (_, _, _) => (), _ => Nil)

  val q209Sql: String = {
    val perBatch = (0 until 4).map { k =>
      s"""${docBatchSql(k)},
         |${docNearSql(k, "okstore")},
         |${docPackSql(k)}""".stripMargin
    }.mkString(",\n")
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |corpus AS ($storeCorpusSql),
       |delta AS MATERIALIZED (
       |$corpusBuildDeltaSql),
       |${storeDeltaSigCtes("corpus")},
       |${storeNearCtes("scand", "snear")},
       |okstore AS MATERIALIZED (
       |  SELECT f.id FROM (SELECT doc_id AS id, md5($normSql) AS fp FROM delta) f
       |  LEFT JOIN sfp sf ON f.fp = sf.fp
       |  LEFT JOIN snear nr ON f.id = nr.id
       |  WHERE sf.fp IS NULL AND nr.id IS NULL),
       |$perBatch
       |SELECT bk, stage, n_rows, w FROM (
       |$docFunnelTailSql""".stripMargin
  }

  // ---------------------------------------------------------------- q210
  /** The CUMULATIVE streaming corpus build — q209 with the one
    * production semantics it documented as missing: each batch's
    * survivors are APPENDED to the dedup store
    * ([[graft.operators.TextDedup.appendToDedupStoreBucketed]] — one
    * O(batch) segment per batch, under the writer lease), so batch k
    * classifies against the base corpus PLUS batches 0..k-1's
    * survivors. The fixture plants copies of BATCH-0 fresh survivors
    * into BATCH 2 (`+2000002` exact, `+3000002` perturbed — both
    * ≡ 2 mod 4 while their originals are ≡ 0), which q209's fixed
    * store would wave through and this gate must kill at the store
    * classification (`c_store` shrinks in batch 2 relative to the
    * q209 contract). The q209 same-batch plantings are kept, so all
    * THREE dedup faces fire: store copies at classification,
    * fresh-doc copies at the intra-batch stage, CROSS-BATCH copies at
    * the classification against an appended segment.
    *
    * The oracle replays the growing store per batch: for batch k the
    * store relations are the base corpus's signature CTEs plus one
    * prefixed [[QueriesText.ingestSigCtes]] set per earlier
    * batch's survivor relation. The per-SEGMENT join structure is
    * mirrored exactly (candidate pairs verify against the SEGMENT
    * whose band produced them, as the engine's per-segment
    * [[graft.operators.TextDedup.ingestFlagsBucketed]] joins do —
    * store ids can collide across segments at sf1.0, where unioned
    * store relations would diverge).
    *
    * Read-backs: `f_shard` (lossless shard append, q209) plus
    * `g_store` — the final store's per-document fp rows across ALL
    * segments must equal corpus + every batch's survivors, the direct
    * gate on the append verb's on-disk result. */
  val q210CumulativeBuild: Q = (s, dir) => {
    import s.implicits._
    corpusStreamBuild(s, dir, "q210")(
      // CROSS-BATCH plantings: copies of batch-0 fresh docs
      // (≡ 0 mod 4) landing in batch 2 (+2000002 ≡ +3000002 ≡ 2
      // mod 4) — dead only if batch 0's survivors entered the store
      t => Seq(
        t.filter($"b" >= 8 && $"doc_id" % 4 === 0 && $"doc_id" % 19 === 0)
          .select(($"doc_id" + 2000002L).as("doc_id"), $"text"),
        t.filter($"b" >= 8 && $"doc_id" % 4 === 0 && $"doc_id" % 23 === 0)
          .select(($"doc_id" + 3000002L).as("doc_id"), zzQq($"text").as("text"))),
      // THE cumulative step: this batch's survivors become a store
      // segment the NEXT batch classifies against
      (nr, storeName, store) =>
        TextDedup.appendToDedupStoreBucketed(nr, "doc_id", "text",
          shingleN = 5, k = 8, rowsPerBand = 2,
          namePrefix = storeName, pathPrefix = store, buckets = 8),
      // the STORE read-back: every committed segment's per-document fp
      // rows, the on-disk proof the append chain lost nothing
      base => {
        val gen = StoreFs.readManifest(s"$base/store_manifest")
          .getOrElse(sys.error(s"q210: no committed store at $base/store_manifest"))
        val fpAll = TextDedup.segmentsOf(s"$base/store", gen)
          .map(seg => s.read.parquet(s"$base/store_${seg}_fp"))
          .reduce(_ unionByName _)
        Seq(funnelRow(-2L, "g_store", fpAll, sum($"s_id")))
      })
  }

  val q210Sql: String = {
    // per-segment near check of batch k's arrivals against ONE store
    // source (the base corpus `s_` or an earlier batch's survivors
    // `v<j>_`): candidates from THAT segment's bands verify against
    // THAT segment's signatures — the engine's per-segment join
    def nearVs(k: Int, pre: String, name: String): String =
      s"""$name AS (
         |  SELECT DISTINCT c.d_id AS id
         |  FROM (SELECT DISTINCT d.id AS d_id, s.id AS s_id
         |        FROM d_bands d JOIN ${pre}bands s ON d.b = s.b AND d.h = s.h
         |        WHERE d.id % 4 = $k) c
         |  JOIN d_mh dm ON dm.id = c.d_id JOIN ${pre}mh sm ON sm.id = c.s_id
         |  WHERE ${QueriesText.agreeSumSql} >= 4)""".stripMargin
    val perBatch = (0 until 4).map { k =>
      val sources = "s_" +: (0 until k).map(j => s"v${j}_")
      val nearCtes = sources.zipWithIndex
        .map { case (pre, i) => nearVs(k, pre, s"sn${k}x$i") }
        .mkString(",\n")
      val nearUnion = sources.indices
        .map(i => s"SELECT id FROM sn${k}x$i").mkString(" UNION ")
      val fpUnion = (s"SELECT fp FROM sfp" +:
        (0 until k).map(j =>
          s"SELECT DISTINCT md5($normSql) AS fp FROM nr$j")).mkString(" UNION ")
      s"""${docBatchSql(k)},
         |$nearCtes,
         |snear$k AS ($nearUnion),
         |stfp$k AS ($fpUnion),
         |okstore$k AS MATERIALIZED (
         |  SELECT f.id FROM (
         |    SELECT doc_id AS id, md5($normSql) AS fp FROM ex$k) f
         |  LEFT JOIN stfp$k sf ON f.fp = sf.fp
         |  LEFT JOIN snear$k nr ON f.id = nr.id
         |  WHERE sf.fp IS NULL AND nr.id IS NULL),
         |${docNearSql(k, s"okstore$k")},
         |${QueriesText.ingestSigCtes(s"v${k}_", s"nr$k")},
         |${docPackSql(k)}""".stripMargin
    }.mkString(",\n")
    val storeParts = "SELECT doc_id FROM corpus" +:
      (0 until 4).map(j => s"SELECT doc_id FROM nr$j")
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |corpus AS MATERIALIZED ($storeCorpusSql),
       |delta AS MATERIALIZED (
       |$corpusBuildDeltaSql
       |  UNION ALL SELECT doc_id + 2000002 AS doc_id, text
       |    FROM bkt WHERE bk >= 8 AND doc_id % 4 = 0 AND doc_id % 19 = 0
       |  UNION ALL SELECT doc_id + 3000002 AS doc_id, text || ' zz qq' AS text
       |    FROM bkt WHERE bk >= 8 AND doc_id % 4 = 0 AND doc_id % 23 = 0),
       |${storeDeltaSigCtes("corpus")},
       |$perBatch
       |SELECT bk, stage, n_rows, w FROM (
       |  SELECT CAST(-2 AS BIGINT) AS bk, 'g_store' AS stage,
       |         CAST(count(*) AS BIGINT) AS n_rows,
       |         COALESCE(CAST(sum(doc_id) AS BIGINT), 0) AS w
       |  FROM (${storeParts.mkString(" UNION ALL ")})
       |  UNION ALL
       |$docFunnelTailSql""".stripMargin
  }

  // ---------------------------------------------------------------- q211
  /** CUMULATIVE streaming SEMANTIC dedup — the q210 contract carried
    * from the fingerprint/MinHash store to the VECTOR store: the
    * production "don't re-embed what you already hold" loop
    * (SemDeDup's serving face) where crawl embeddings arrive in
    * micro-batches, each batch is screened against a persisted ANN
    * index and its survivors are APPENDED to that index
    * ([[graft.operators.IvfIndex.appendToIndex]] — delta assigned to
    * the FIXED centroids, files appended into the touched cell
    * directories, under the writer lease), so batch k drops semantic
    * near-dups of base vectors AND of batches 0..k-1's survivors.
    *
    * Per batch: intra-batch exact-vector dedup (min-id per identical
    * vector) → semantic classification vs the PERSISTED index
    * ([[graft.operators.IvfIndex.search]] k=1, nProbe=2; dup iff top
    * cosine ≥ 0.8 — organic cross-cosines in this corpus top out
    * ~0.51, planted copies sit at ~1.0, so the threshold is
    * boundary-safe in both engines) → index append. Fixture plants
    * every face: exact (+200000) and SCALED (+300000, ×1.01 —
    * cosine-invariant, so the semantic stage must catch what exact
    * equality cannot) copies of INDEX members, same-batch exact
    * copies of fresh arrivals (+400000 ≡ 0 mod 4 → intra-batch kill),
    * and CROSS-BATCH exact (+2000002) and scaled (+3000002) copies of
    * batch-0 fresh survivors landing in batch 2 (≡ 2 mod 4) — dead
    * only because batch 0's survivors entered the index.
    *
    * Gate: per-batch 3-row funnel (arrived / exact-deduped /
    * index-screened, count + id-sum — all-integer, no float columns)
    * + `f_serve` (top-3, nProbe=2 search over the FINAL cumulative
    * index for 5 queries, checksummed as Σ rank·n_id) + `g_index`
    * (count + id-sum over the on-disk index — the append chain's
    * lossless read-back). The oracle replays the deterministic Lloyd
    * fit ([[QueriesSimilarity.lloydIdxSql]] — the q39/q100/q122 one
    * text), then per batch the probe/candidate/threshold chain with a
    * GROWING store relation (st0 = base index; st(k+1) = stk ∪ batch
    * k's survivors assigned to the fixed centroids — q122's append
    * semantics iterated).
    *
    * Scale shape: centroids broadcast everywhere (dimension-sized);
    * per batch the only shuffles are the intra-exact vector groupBy
    * and search's bounded-heap top-k fold; the indexed corpus never
    * shuffles (broadcast probe join against the cell-partitioned
    * layout); appends touch only the delta's cells. Funnel and serve
    * rows are metadata-sized — no corpus-scale driver action. Above
    * sf1.0 the fixture keeps only the first ten ScaleUp replicas (the
    * q188/q34 declared-cap pattern): with the oracle-replayable
    * pinned k=8 the per-arrival candidate set is |cell| ≈ n/8, so
    * screening cost grows n²/16 (measured ×51 at the uncapped sf10
    * decade probe); the at-scale posture is corpus-scaled k
    * (bounded-|cell| probes, [[graft.operators.IvfIndex
    * .splitOversizedCells]]), which the pinned-k gate fixture
    * deliberately does not use — `StreamingSemanticScaleSpec` gates
    * that posture (mid-stream cell splits + recall floor) at the spec
    * level. No-op at the three gate SFs and sf1.0.
    *
    * Replay semantics, AT-LEAST-ONCE window (documented, not closed):
    * the per-batch marker is written only AFTER the index append and
    * the funnel append, and neither is transactional — a foreachBatch
    * RETRY that failed between the [[graft.operators.IvfIndex
    * .appendToIndex]] raw parquet append and the marker touch would
    * re-append the batch's survivors and funnel rows (breaking
    * g_index/f_serve). Exact for this gate's single-attempt
    * `processAllAvailable` fixture; a production cumulative build
    * wants the q210 shape instead, where the store append is
    * manifest-committed (scratch-staged, fenced swap) and a replayed
    * batch re-reads the committed generation idempotently. */
  val q211SemStreamBuild: Q = (s, dir) =>
    semanticBuild(s, dir, "q211", 10000000000L, FlatScreen)

  val q211Sql: String = {
    val perBatch = (0 until 4).map(k => flatScreenSql(k, "cent", s"st$k"))
      .mkString(",\n")
    val funnelRows = (0 until 4).map(vecFunnelRowsSql).mkString("\n  UNION ALL\n")
    s"""WITH ${semanticPrefixSql("10000000000")},
       |$perBatch,
       |${flatServeSql("cent")}
       |  UNION ALL
       |$funnelRows)
       |ORDER BY bk, stage""".stripMargin
  }

  // ---------------------------------------------------------------- q216
  /** The q211 cumulative semantic build with an NSW SCREENING TIER —
    * the answer to the flat probe's scaling wall (r17 verdict #2):
    * q211 screens each arrival against nProbe FLAT cells, so its
    * per-arrival candidate cost is nProbe × |cell| — bounded only by
    * cell-size maintenance, and the maintained regime's tuner keeps
    * BUYING nProbe as cells multiply (the SemStreamScale decade probes
    * watch exactly that number grow). The graph tier removes the cell
    * size from the exponent entirely: a batched greedy walk
    * ([[graft.operators.NswIndex.search]], nProbe 2, ef 8, rounds 2,
    * degree 4) scores `nProbe + rounds·ef·degree` ≈ 66 vectors per
    * arrival REGARDLESS of cell size — the per-arrival budget is a
    * CONSTANT of the walk settings, not a function of the corpus.
    *
    * Per batch: intra-batch exact dedup → NSW walk vs the PERSISTED
    * graph store (dup iff top-1 cos ≥ 0.8) → survivors appended to
    * BOTH tiers ([[graft.operators.IvfIndex.appendToIndex]] for the
    * vectors, [[graft.operators.NswIndex.appendToNsw]] for the graph —
    * the EXACT merge, `append ≡ fitGraph(base ∪ delta)` per q186, so
    * the growing graph never drifts from a direct build). Same planted
    * faces as q211 (exact/scaled copies of index members, same-batch
    * and cross-batch copies of fresh survivors).
    *
    * The trade is q211's correctness-vs-cost fork made explicit:
    * detection through a walk is RECALL-typed (a beam can miss its
    * source — the SemStreamScale lesson), but DETERMINISTICALLY so —
    * every trim tie-breaks (score desc, id asc) and the scoring is
    * fixed-order, so the oracle replays the ENTIRE funnel including
    * any leak: per batch the full walk over the growing store
    * relation (the q184 CTE chain instantiated per batch), the
    * threshold, the survivor assignment, and the append-≡-rebuild
    * graph equivalence. What leaks is identical in both engines —
    * the gate certifies the funnel's determinism, the spec suite
    * (`StreamingSemanticScaleSpec`) owns the recall floor story.
    *
    * Gate rows: q211's per-batch funnel + `f_serve` (final-store walk,
    * k=3, Σ rank·n_id) + `g_index` (flat read-back) + `h_graph`
    * (edge count + Σ dst over the final PERSISTED graph — equal to a
    * direct fitGraph over the final corpus only because four exact
    * appends composed losslessly). Above sf1.0 the fixture keeps the
    * first TWO ScaleUp replicas (declared-cap pattern, q188/q34/q211):
    * the oracle rebuilds the per-batch graphs as |cell|² pair joins,
    * which the cap keeps DuckDB-sized; no-op at the three gate SFs.
    * At-least-once window: q211's caveat applies verbatim (marker
    * after append; single-attempt fixture). */
  val q216NswScreenBuild: Q = (s, dir) =>
    semanticBuild(s, dir, "q216", 2000000000L, NswScreen)

  val q216Sql: String = {
    import QueriesSimilarity.{nswCos, nswWalkBaseCtes, nswRoundCtes}
    // assign relation `src(id, v)` to its argmax-cosine fitted cell —
    // the engine's IvfIndex.assign tie-break (cos DESC, cluster ASC)
    def assignSql(name: String, src: String): String =
      s"""$name AS (
         |  SELECT id, v, cluster FROM (
         |    SELECT e.id, e.v, c.cluster,
         |           row_number() OVER (PARTITION BY e.id
         |             ORDER BY ${nswCos("e.v", "c.centroid")} DESC, c.cluster ASC) AS rn
         |    FROM $src e CROSS JOIN cent c)
         |  WHERE rn = 1)""".stripMargin
    val perBatch = (0 until 4).map { k =>
      s"""${vecBatchSql(k)},
         |qs$k AS (SELECT id AS q_id, v AS qv FROM ex$k),
         |${nswWalkBaseCtes(s"st$k", s"b$k", s"qs$k", "cent")},
         |${nswRoundCtes(s"st$k", 1, s"b${k}v0", s"b${k}v0", 8, s"b$k",
                         s"b${k}graph", s"qs$k")},
         |${nswRoundCtes(s"st$k", 2, s"b${k}nv1", s"b${k}nf1", 8, s"b$k",
                         s"b${k}graph", s"qs$k")},
         |dup$k AS (
         |  SELECT q_id AS id FROM (
         |    SELECT q_id, id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, id ASC) AS rn FROM b${k}nv2)
         |  WHERE rn = 1 AND round(cos, 4) >= 0.8),
         |${vecSurvivorsSql(k)},
         |${assignSql(s"svidx$k", s"sv$k")},
         |st${k + 1} AS MATERIALIZED (
         |  SELECT * FROM st$k UNION ALL SELECT id, v, cluster FROM svidx$k)"""
        .stripMargin
    }.mkString(",\n")
    val funnelRows = (0 until 4).map(vecFunnelRowsSql).mkString("\n  UNION ALL\n")
    s"""WITH ${semanticPrefixSql("2000000000")},
       |$perBatch,
       |qsv AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
       |        FROM embeddings WHERE vec_id < 5),
       |${nswWalkBaseCtes("st4", "f", "qsv", "cent")},
       |${nswRoundCtes("st4", 1, "fv0", "fv0", 8, "f", "fgraph", "qsv")},
       |${nswRoundCtes("st4", 2, "fnv1", "fnf1", 8, "f", "fgraph", "qsv")},
       |serve AS (
       |  SELECT q_id, id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, id ASC) AS BIGINT) AS rank FROM fnv2
       |  QUALIFY rank <= 3)
       |SELECT bk, stage, n_rows, w FROM (
       |  SELECT CAST(-1 AS BIGINT) AS bk, 'f_serve' AS stage,
       |         CAST(count(*) AS BIGINT) AS n_rows,
       |         COALESCE(CAST(sum(rank * id) AS BIGINT), 0) AS w FROM serve
       |  UNION ALL
       |$gIndexRowSql
       |  UNION ALL
       |  SELECT CAST(-3 AS BIGINT), 'h_graph', CAST(count(*) AS BIGINT),
       |         COALESCE(CAST(sum(dst) AS BIGINT), 0) FROM fgraph
       |  UNION ALL
       |$funnelRows)
       |ORDER BY bk, stage""".stripMargin
  }

  // ---------------------------------------------------------------- q219
  /** REFIT CADENCE inside the cumulative semantic build — the r18
    * at-scale recipe ([[graft.tools.SemStreamScale]] `run(refitAtBudget)`,
    * measured at sf10: candidate budget 128k → 1k at leak 0.012%)
    * promoted from probe tool to oracle-gated contract: the q211
    * funnel with a MID-STREAM [[graft.operators.IvfIndex.refitIndex]]
    * — the trigger arithmetic, the refit itself, and the
    * read-after-write path (later batches screening against the
    * refitted layout) all on the hash.
    *
    * Trigger: the production loop fires when the TUNED width's
    * per-arrival candidate budget (nProbe × maxCellSize) crosses a
    * threshold — recall-typed, so the gate twin rides the equivalent
    * DETERMINISTIC term instead: under a fixed k the expected cell
    * size (hence the budget) is proportional to corpus/k, so corpus
    * growth OVER THE LAST FIT is the budget growth. After every
    * batch's append the loop compares 1000·n_store > 1165·n_at_fit
    * (integer, both engines exact); on fire it refits at k doubled
    * (the power-of-two cadence of corpus-proportional k) and resets
    * n_at_fit. On this fixture's measured funnel (survivor growth
    * ≈ 6%/batch at every SF, margins ≥ 2.7 points both sides) the
    * trigger fires exactly once, after batch 2 — so batch 3's screen
    * and the serve run against the refitted store. The recall-typed
    * production trigger (tuner + staleness floor) stays measured in
    * `StreamingSemanticScaleSpec` and the decade probes; this gate
    * certifies the cadence's trigger → refit → read-after-write
    * composition is deterministic and lossless.
    *
    * Gate rows: q211's funnel + per-batch `d_budget` (n_store after
    * the append, n_at_fit used by that batch's trigger check) +
    * `e_refit` at the firing batch (new cell count, k') + `f_serve`
    * over the REFITTED store + `g_index` read-back. The oracle
    * replays batches 0–2 against the k=8 fit, the trigger compare,
    * the k=16 global Lloyd refit over exactly the post-batch-2 store
    * ([[QueriesSimilarity.lloydIdxSql]] — refit ≡ rebuild, q218's
    * contract), then batch 3 and the serve against the refitted
    * centroids. Declared replica cap `vec_id < 10¹⁰` (q211's) keeps
    * the oracle DuckDB-sized; at-least-once caveat as q211. */
  val q219RefitCadence: Q = (s, dir) =>
    semanticBuild(s, dir, "q219", 10000000000L, FlatScreen, refitCadence(s))

  val q219Sql: String = {
    // batches 0-2 against the base k=8 fit (q211's chain); THE REFIT,
    // after batch 2's append: a fresh global k=16 Lloyd over exactly
    // the store's rows (refit ≡ rebuild — q218), then batch 3 and the
    // serve run against the refitted layout
    val preRefit = (0 until 3).map(k => flatScreenSql(k, "cent", s"st$k"))
      .mkString(",\n")
    val postRefit =
      s"""rsrc AS MATERIALIZED (SELECT id, v FROM st3),
         |${lloydIdxSql("rsrc", "16", "rf")},
         |${flatScreenSql(3, "rfcent", "rfidx")}""".stripMargin
    val funnelRows = (0 until 4).map { k =>
      // d_budget: n_store after batch k's append vs the n_at_fit its
      // trigger compared against (base fit for 0-2, the refit for 3)
      val nFitRel = if (k < 3) "st0" else "st3"
      s"""${vecFunnelRowsSql(k)}
         |  UNION ALL
         |  SELECT CAST($k AS BIGINT), 'd_budget',
         |         (SELECT CAST(count(*) AS BIGINT) FROM st${k + 1}),
         |         (SELECT CAST(count(*) AS BIGINT) FROM $nFitRel)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${semanticPrefixSql("10000000000")},
       |$preRefit,
       |$postRefit,
       |${flatServeSql("rfcent")}
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'e_refit',
       |         (SELECT CAST(count(*) AS BIGINT) FROM rfcent),
       |         CAST(16 AS BIGINT)
       |  UNION ALL
       |$funnelRows)
       |ORDER BY bk, stage""".stripMargin
  }

  // ---------------------------------------------------------------- q212
  /** TIME-TRAVEL reads of the generational dedup store
    * ([[graft.operators.TextDedup.ingestFlagsBucketed]]'s
    * `atGeneration`) — the audit/reproducibility face of the append
    * chain: re-run an old batch's classification byte-for-byte while
    * the head moves on. Build g1 on the base corpus, append two
    * disjoint crawl deltas (g2, g3; `retainGenerations = 3` — the
    * retention dial that keeps history readable), then classify ONE
    * fixed probe set against all three generations. The probes plant
    * exact and near copies of documents from EVERY era (base, delta 1,
    * delta 2) plus never-seen reversed texts, so the verdict matrix is
    * the proof: a g2-era copy reads clean at g1, dup at g2 and g3 —
    * the store's history, not its head, answered.
    *
    * Gate: per (generation, verdict) funnel — x_exact / y_near
    * (near-and-not-exact) / z_clean with count + id-sum — plus a
    * `gens` row over [[graft.operators.TextDedup.committedGenerations]]
    * (count + sum of readable generations — the retention contract
    * itself, computed LIVE at serve time from store metadata). The
    * oracle replays each generation's classification with the store
    * relations of exactly the segments that generation references
    * (base; base∪d1; base∪d1∪d2), per-segment joins as the engine
    * runs them. The vacuumed-generation refusal and
    * tombstones-apply-to-history semantics are spec-pinned
    * (`StoreLifecycleSpec`).
    *
    * Scale shape: history is BY REFERENCE (a generation descriptor
    * lists segments; no table is copied to keep it readable), so
    * retention costs zero extra bytes until compaction cuts the
    * lineage; a historic read prices exactly like a head read of the
    * same segment set. The serve-path `gens` row is metadata-only.
    *
    * Probe-id spacing: the planted probe classes are offset by
    * multiples of 5·10⁷ (10⁸ per era, +5·10⁷ for the near variant,
    * 9·10⁸ for never-seen) — far above any contiguous per-corpus id
    * range yet BELOW the 10⁹ ScaleUp replica stride, so a probe
    * minted from replica r's documents stays inside replica r's id
    * gap instead of landing on replica r+k's organic or probe ids
    * (the first widening attempt used 10⁹-scale offsets and collided
    * with the stride itself at sf1.0 — caught by the full sf1.0
    * sweep). [[ingestVerdicts]] collapses duplicate ids to one
    * verdict row while the oracle counts probe ROWS, so any id
    * collision diverges the gate (the r16 ADVICE finding this
    * spacing closes). */
  val q212TimeTravel: Q = (s, dir) => {
    import s.implicits._
    val storeName = s"q212_store_${Scratch.stem(dir)}"
    val base = Scratch.session("graft_q212", dir) { b =>
      val file = s"$dir/documents.parquet"
      val bk10 = graft.operators.Sampling.hashBucket($"doc_id", 10)
      val t = s.read.parquet(file)
      val corpus = t.filter(bk10 < 8).select($"doc_id", $"text")
      val d1 = t.filter(bk10 >= 8 && $"doc_id" % 2 === 0)
        .select($"doc_id", $"text")
      val d2 = t.filter(bk10 >= 8 && $"doc_id" % 2 === 1)
        .select($"doc_id", $"text")
      TextDedup.writeDedupStoreBucketed(corpus, "doc_id", "text",
        shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = storeName, pathPrefix = s"$b/store", buckets = 8,
        retainGenerations = 3)
      TextDedup.appendToDedupStoreBucketed(d1, "doc_id", "text",
        shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = storeName, pathPrefix = s"$b/store", buckets = 8,
        retainGenerations = 3)
      TextDedup.appendToDedupStoreBucketed(d2, "doc_id", "text",
        shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = storeName, pathPrefix = s"$b/store", buckets = 8,
        retainGenerations = 3)
      def copies(src: DataFrame, off: Long) =
        src.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + off).as("doc_id"), $"text")
          .unionByName(src.filter($"doc_id" % 11 === 0)
            .select(($"doc_id" + off + 50000000L).as("doc_id"),
              concat($"text", lit(" zz qq")).as("text")))
      val probes = copies(corpus, 100000000L)
        .unionByName(copies(d1, 200000000L))
        .unionByName(copies(d2, 300000000L))
        .unionByName(t.filter($"doc_id" % 13 === 0)
          .select(($"doc_id" + 900000000L).as("doc_id"),
            reverse($"text").as("text")))
        .localCheckpoint()
      (1L to 3L).map { g =>
        val v = TextDedup.ingestFlagsBucketed(probes, "doc_id", "text",
          storeName, s"$b/store", shingleN = 5, k = 8, rowsPerBand = 2,
          minAgree = 4, atGeneration = Some(g))
        def row(stage: String, f: org.apache.spark.sql.Column) =
          v.filter(f).agg(count(lit(1)).cast("long").as("n_rows"),
              coalesce(sum($"id"), lit(0L)).cast("long").as("w"))
            .select(lit(g).as("gen"), lit(stage).as("stage"),
              $"n_rows", $"w")
        row("x_exact", $"dup_exact")
          .unionByName(row("y_near", !$"dup_exact" && $"dup_near"))
          .unionByName(row("z_clean", !$"dup_exact" && !$"dup_near"))
      }.reduce(_ unionByName _)
        .coalesce(1).write.mode("overwrite").parquet(s"$b/out")
      b
    }
    // SERVE: the cached verdict matrix + the retention contract read
    // LIVE from store metadata (committedGenerations is the
    // time-travel discovery surface a caller uses first)
    val gens = TextDedup.committedGenerations(s, s"$base/store")
    val gensRow = Seq((0L, "gens", gens.size.toLong, gens.sum))
      .toDF("gen", "stage", "n_rows", "w")
    s.read.parquet(s"$base/out").unionByName(gensRow)
      .orderBy($"gen", $"stage")
  }

  val q212Sql: String = {
    // near-verdict of the probe set against ONE store segment
    // (candidates from THAT segment's bands verify against THAT
    // segment's signatures — the engine's per-segment join)
    def nearVs(pre: String, name: String): String =
      s"""$name AS (
         |  SELECT DISTINCT c.p_id AS id
         |  FROM (SELECT DISTINCT p.id AS p_id, s.id AS s_id
         |        FROM p_bands p JOIN ${pre}bands s ON p.b = s.b AND p.h = s.h) c
         |  JOIN p_mh dm ON dm.id = c.p_id JOIN ${pre}mh sm ON sm.id = c.s_id
         |  WHERE ${QueriesText.agreeSumSql} >= 4)""".stripMargin
    val perGen = (1 to 3).map { g =>
      val sources = Seq("s_", "v1_", "v2_").take(g)
      val nearCtes = sources.zipWithIndex
        .map { case (pre, i) => nearVs(pre, s"nr${g}x$i") }
        .mkString(",\n")
      val nearUnion = sources.indices
        .map(i => s"SELECT id FROM nr${g}x$i").mkString(" UNION ")
      val fpUnion = Seq("sfp", "v1fp", "v2fp").take(g)
        .map(r => s"SELECT fp FROM $r").mkString(" UNION ")
      s"""$nearCtes,
         |near$g AS ($nearUnion),
         |exact$g AS (
         |  SELECT p.doc_id AS id FROM pfp p JOIN ($fpUnion) sf ON p.fp = sf.fp)"""
        .stripMargin
    }.mkString(",\n")
    val verdictRows = (1 to 3).map { g =>
      s"""  SELECT CAST($g AS BIGINT) AS gen, 'x_exact' AS stage,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         COALESCE(CAST(sum(doc_id) AS BIGINT), 0) AS w
         |  FROM probes WHERE doc_id IN (SELECT id FROM exact$g)
         |  UNION ALL
         |  SELECT CAST($g AS BIGINT), 'y_near', CAST(count(*) AS BIGINT),
         |         COALESCE(CAST(sum(doc_id) AS BIGINT), 0)
         |  FROM probes WHERE doc_id NOT IN (SELECT id FROM exact$g)
         |    AND doc_id IN (SELECT id FROM near$g)
         |  UNION ALL
         |  SELECT CAST($g AS BIGINT), 'z_clean', CAST(count(*) AS BIGINT),
         |         COALESCE(CAST(sum(doc_id) AS BIGINT), 0)
         |  FROM probes WHERE doc_id NOT IN (SELECT id FROM exact$g)
         |    AND doc_id NOT IN (SELECT id FROM near$g)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |corpus AS MATERIALIZED ($storeCorpusSql),
       |d1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM bkt WHERE bk >= 8 AND doc_id % 2 = 0),
       |d2 AS MATERIALIZED (
       |  SELECT doc_id, text FROM bkt WHERE bk >= 8 AND doc_id % 2 = 1),
       |probes AS MATERIALIZED (
       |  SELECT doc_id + 100000000 AS doc_id, text FROM corpus
       |    WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 150000000, text || ' zz qq' FROM corpus
       |    WHERE doc_id % 11 = 0
       |  UNION ALL SELECT doc_id + 200000000, text FROM d1 WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 250000000, text || ' zz qq' FROM d1
       |    WHERE doc_id % 11 = 0
       |  UNION ALL SELECT doc_id + 300000000, text FROM d2 WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 350000000, text || ' zz qq' FROM d2
       |    WHERE doc_id % 11 = 0
       |  UNION ALL SELECT doc_id + 900000000, reverse(text) FROM bkt
       |    WHERE doc_id % 13 = 0),
       |${QueriesText.ingestSigCtes("p_", "probes")},
       |${QueriesText.ingestSigCtes("s_", "corpus")},
       |${QueriesText.ingestSigCtes("v1_", "d1")},
       |${QueriesText.ingestSigCtes("v2_", "d2")},
       |pfp AS MATERIALIZED (SELECT doc_id, md5($normSql) AS fp FROM probes),
       |sfp AS MATERIALIZED (SELECT DISTINCT md5($normSql) AS fp FROM corpus),
       |v1fp AS MATERIALIZED (SELECT DISTINCT md5($normSql) AS fp FROM d1),
       |v2fp AS MATERIALIZED (SELECT DISTINCT md5($normSql) AS fp FROM d2),
       |$perGen
       |SELECT gen, stage, n_rows, w FROM (
       |  SELECT CAST(0 AS BIGINT) AS gen, 'gens' AS stage,
       |         CAST(3 AS BIGINT) AS n_rows, CAST(6 AS BIGINT) AS w
       |  UNION ALL
       |$verdictRows)
       |ORDER BY gen, stage""".stripMargin
  }

  // ------------------------------------------- shared stages and builds
  /** One `(bk, stage, n_rows, w)` funnel row: the row count of `df` and
    * its `w` total (0 over no rows), tagged `bk` — the batch id for a
    * per-batch stage, a negative id for a read-back. */
  private def funnelRow(bk: Long, stage: String, df: DataFrame,
                        w: Column): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(w, lit(0L)).cast("long").as("w"))
      .select(lit(bk).as("bk"), lit(stage).as("stage"), col("n_rows"), col("w"))

  /** Exact dedup: the min `id` per `key` value survives, materialized. */
  private def minIdPer(df: DataFrame, id: String, key: Column): DataFrame =
    df.withColumn("keep", min(col(id)).over(Window.partitionBy(key)))
      .filter(col(id) === col("keep")).drop("keep")
      .localCheckpoint()

  /** `df` without the LARGER `doc_id` of every verified MinHash-LSH
    * near-dup pair — the q30 parameters (5-shingles, k=8, 2 rows per
    * band, Jaccard ≥ 0.3, hot bands capped at 1024), materialized. */
  private def dropNearDups(df: DataFrame): DataFrame = {
    val sh = TextDedup.shingleTable(df, "doc_id", "text", 5)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try df.join(
      TextDedup.minHashLshPairs(sh, k = 8, rowsPerBand = 2,
          threshold = 0.3, maxBandDf = Some(1024))
        .select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint()
    finally sh.unpersist(): Unit
  }

  /** The streaming corpus build of q209 and q210, run once per session
    * (`graft_<tag>`): a dedup store over the `bk10 < 8` corpus, then
    * the planted delta — [[QueriesText.plantedArrivals]]' lanes and
    * q209's `+500000` lane, then `extraPlant`'s, each
    * drawn from the source `t` with its `b` = bk10 column — over four
    * keyed micro-batches (batch k ≡ `doc_id % 4 = k`), each under the
    * replay guard:
    *
    *   intra-batch exact dedup → classification vs the store →
    *   intra-batch near-dup removal → `grow(survivors, storeName,
    *   storePath)` → token count → per-batch FFD pack → shard APPEND
    *   (partitioned by batch) + funnel append.
    *
    * Serves the funnel, the `f_shard` read-back over the appended
    * shards and `extraRows(base)`. */
  private def corpusStreamBuild(s: SparkSession, dir: String, tag: String)(
      extraPlant: DataFrame => Seq[DataFrame],
      grow: (DataFrame, String, String) => Unit,
      extraRows: String => Seq[DataFrame]): DataFrame = {
    import s.implicits._
    val base = Scratch.session(s"graft_$tag", dir) { b =>
      val file = s"$dir/documents.parquet"
      val storeName = s"${tag}_store_${Scratch.stem(dir)}"
      val store = s"$b/store"
      TextDedup.writeDedupStoreBucketed(QueriesStreaming.storeCorpus(s, dir),
        "doc_id", "text", shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = storeName, pathPrefix = store, buckets = 8)
      // the arriving crawl: fresh docs + the planted copies
      // (QueriesText.plantedArrivals), all congruent mod 4 with their
      // originals (same batch)
      def delta(df: DataFrame): DataFrame = {
        val t = df.withColumn("b", hashBucket($"doc_id", 10))
        (Seq(
          plantedArrivals(t, "doc_id", "text", zzQq),
          // perturbed copies of FRESH docs: neither side is in the
          // store, both survive the classification, and the copy falls
          // to the INTRA-batch near-dup stage — without this planting
          // that stage never fires (the +300000 perturbed copies
          // target STORE docs and die at c_store)
          t.filter($"b" >= 8 && $"doc_id" % 17 === 0)
            .select(($"doc_id" + 500000L).as("doc_id"), zzQq($"text").as("text"))
        ) ++ extraPlant(t)).reduce(_ unionByName _)
      }
      val staging = s"$b/staging"
      val stream = QueriesStreaming.keyedMultiBatchStream(
        s, file, staging, delta, col("doc_id") % 4)
      QueriesStreaming.replayGuardedBatches(s, stream, staging, b, tag) {
        (batch, batchId) =>
          val slice = batch.select($"doc_id", $"text").localCheckpoint()
          val ex = minIdPer(slice, "doc_id", TextAnalysis.fingerprint($"text"))
          val ok = TextDedup.ingestFlagsBucketed(ex, "doc_id", "text",
              storeName, store,
              shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
            .filter(!$"dup_exact" && !$"dup_near")
            .select($"id".as("doc_id"))
          val kept = ex.join(ok, Seq("doc_id")).localCheckpoint()
          val nr = dropNearDups(kept)
          grow(nr, storeName, store)
          val withLen = nr.withColumn("len",
            TextAnalysis.wsTokenCount($"text").cast("long"))
          val eligible = withLen.filter($"len" > 0 && $"len" <= 256).count()
          val buckets = math.max(1L, math.ceil(eligible / 64.0).toLong).toInt
          val packed = Packing.ffdPack(withLen.select($"doc_id", $"len"),
              "doc_id", "len", capacity = 256L, buckets = buckets)
            .select(lit(batchId).as("bk"), $"bucket",
              $"id".as("doc_id"), $"len".as("n_toks"), $"bin")
            .localCheckpoint()
          packed.write.mode("append").partitionBy("bk")
            .parquet(s"$b/shards")
          val binsTotal = packed.groupBy($"bucket")
            .agg(max($"bin").as("mx"))
            .agg(coalesce(sum($"mx"), lit(0L)).cast("long")).head().getLong(0)
          funnelRow(batchId, "a_arrived", slice, sum($"doc_id"))
            .unionByName(funnelRow(batchId, "b_exact", ex, sum($"doc_id")))
            .unionByName(funnelRow(batchId, "c_store", kept, sum($"doc_id")))
            .unionByName(funnelRow(batchId, "d_near", nr, sum($"doc_id")))
            .unionByName(funnelRow(batchId, "e_packed", packed, lit(binsTotal)))
            .coalesce(1).write.mode("append").parquet(s"$b/funnel")
      }
      Scratch.rmTree(staging)
      b
    }
    // SERVE: the persisted funnel + one read-back row over the REAL
    // appended shard store — a lossless append means read-back rows
    // and token mass equal the sum of the four batches' pack stages
    val shardRow = funnelRow(-1L, "f_shard", s.read.parquet(s"$base/shards"),
      sum($"n_toks"))
    (s.read.parquet(s"$base/funnel") +: shardRow +: extraRows(base))
      .reduce(_ unionByName _)
      .orderBy($"bk", $"stage")
  }

  /** How the cumulative semantic build screens arrivals against its
    * store (the flat index at `<session>/ivf`, plus whatever the tier
    * keeps beside it). */
  private trait ScreenTier {
    /** Persist the tier's own structures over the fitted base index. */
    def seed(indexed: DataFrame, centroids: DataFrame, b: String): Unit = ()

    /** Drop the arrivals whose top-1 store neighbour has cosine ≥ 0.8,
      * append the survivors to the store and return them. */
    def screen(s: SparkSession, ex: DataFrame, b: String): DataFrame

    /** The `f_serve` row (top-3 search for `qs`, Σ rank·n_id) over the
      * final store, plus the tier's own read-back rows. */
    def serveRows(s: SparkSession, qs: DataFrame, idx: DataFrame,
                  cent: DataFrame, base: String): Seq[DataFrame]

    protected def serveRow(hits: DataFrame): DataFrame =
      funnelRow(-1L, "f_serve", hits, sum(col("rank").cast("long") * col("n_id")))

    protected def dupsOf(hits: DataFrame): DataFrame =
      hits.filter(col("cos") >= 0.8).select(col("q_id").as("vec_id"))
  }

  /** q211/q219's tier: a flat IVF probe (k=1, nProbe=2), survivors
    * appended to the fixed centroids' cells. */
  private object FlatScreen extends ScreenTier {
    def screen(s: SparkSession, ex: DataFrame, b: String): DataFrame = {
      val (centK, idxK) = IvfIndex.load(s, s"$b/ivf")
      val dups = dupsOf(IvfIndex.search(s,
        ex.select(col("vec_id").as("q_id"), col("v").as("qv")),
        idxK, centK, k = 1, nProbe = 2))
      val kept = ex.join(dups, Seq("vec_id"), "left_anti").localCheckpoint()
      // THE cumulative step: this batch's survivors join the
      // index the NEXT batch screens against
      IvfIndex.appendToIndex(s,
        kept.select(col("vec_id").as("id"), col("v")), s"$b/ivf"): Unit
      kept
    }

    def serveRows(s: SparkSession, qs: DataFrame, idx: DataFrame,
                  cent: DataFrame, base: String): Seq[DataFrame] =
      Seq(serveRow(IvfIndex.search(s, qs, idx, cent, k = 3, nProbe = 2)))
  }

  /** q216's tier: a greedy NSW walk (nProbe 2, ef 8, rounds 2, degree
    * 4) over a graph kept beside the flat index, survivors appended to
    * both; the serve adds the `h_graph` read-back (edge count + Σ dst
    * over the final persisted graph). */
  private object NswScreen extends ScreenTier {
    override def seed(indexed: DataFrame, centroids: DataFrame,
                      b: String): Unit =
      NswIndex.saveNsw(NswIndex.fitGraph(indexed, degree = 4),
        NswIndex.entryPoints(indexed, centroids), s"$b/nsw")

    def screen(s: SparkSession, ex: DataFrame, b: String): DataFrame = {
      val (centK, idxK) = IvfIndex.load(s, s"$b/ivf")
      // capture the pre-append base: appendToNsw's exact merge
      // scores existing nodes against the delta only
      val idxCk = idxK.localCheckpoint()
      val (graphK, entriesK) = NswIndex.loadNsw(s, s"$b/nsw")
      // THE screening tier: constant per-arrival walk budget
      // (nProbe + rounds·ef·degree scored vectors) instead of
      // the flat probe's nProbe × |cell|
      val dups = dupsOf(NswIndex.search(s,
        ex.select(col("vec_id").as("q_id"), col("v").as("qv")),
        graphK, idxCk, centK, entriesK, k = 1, nProbe = 2, ef = 8, rounds = 2))
      val kept = ex.join(dups, Seq("vec_id"), "left_anti").localCheckpoint()
      val survivors = kept.select(col("vec_id").as("id"), col("v"))
      val idxDelta = IvfIndex.assign(survivors, centK).localCheckpoint()
      IvfIndex.appendToIndex(s, survivors, s"$b/ivf"): Unit
      NswIndex.appendToNsw(s, s"$b/nsw", idxCk, idxDelta, centK, degree = 4)
      kept
    }

    def serveRows(s: SparkSession, qs: DataFrame, idx: DataFrame,
                  cent: DataFrame, base: String): Seq[DataFrame] = {
      val (graph, entries) = NswIndex.loadNsw(s, s"$base/nsw")
      Seq(serveRow(NswIndex.search(s, qs, graph, idx, cent, entries,
          k = 3, nProbe = 2, ef = 8, rounds = 2)),
        funnelRow(-3L, "h_graph", graph.select(explode(col("nbrs")).as("dst")),
          sum(col("dst"))))
    }
  }

  /** The cumulative semantic build of q211, q216 and q219, run once per
    * session (`graft_<tag>`) over the embeddings with `vec_id < cap`:
    * a deterministic k=8 Lloyd fit over the `bk10 < 8` corpus saved as
    * the flat index (plus `tier.seed`), then the planted delta
    * ([[QueriesText.plantedArrivals]] plus the cross-batch copies) over
    * four keyed micro-batches (batch k ≡ `vec_id % 4 = k`), each under
    * the replay guard: intra-batch exact-vector dedup → `tier.screen`
    * (screen + append) → funnel rows `a_arrived`/`b_exact`/`c_store`
    * plus the rows of `cadence(ivfDir)(batchId)`, the per-batch step
    * that runs after the append. Serves the funnel, the tier's serve
    * rows over the final store for queries `vec_id < 5` and the
    * `g_index` read-back. */
  private def semanticBuild(s: SparkSession, dir: String, tag: String,
                            cap: Long, tier: ScreenTier,
                            cadence: String => Long => Seq[DataFrame] =
                              _ => _ => Nil): DataFrame = {
    import s.implicits._
    val file = s"$dir/embeddings.parquet"
    val base = Scratch.session(s"graft_$tag", dir) { b =>
      val corpus = QueriesSimilarity.idVectors(s.read.parquet(file)
        .filter(hashBucket($"vec_id", 10) < 8 && $"vec_id" < cap))
      val cent = QueriesSimilarity.coarseFit(s, corpus)
      try {
        val idxBase = IvfIndex.assign(corpus, cent).localCheckpoint()
        IvfIndex.save(cent, idxBase, s"$b/ivf")
        tier.seed(idxBase, cent, b)
      } finally cent.unpersist(): Unit
      def delta(df: DataFrame): DataFrame = semanticArrivals(df.filter($"vec_id" < cap))
      val afterAppend = cadence(s"$b/ivf")
      val staging = s"$b/staging"
      val stream = QueriesStreaming.keyedMultiBatchStream(
        s, file, staging, delta, col("vec_id") % 4)
      QueriesStreaming.replayGuardedBatches(s, stream, staging, b, tag) {
        (batch, batchId) =>
          val slice = batch.select($"vec_id", $"v").localCheckpoint()
          val ex = minIdPer(slice, "vec_id", $"v")
          val kept = tier.screen(s, ex, b)
          (Seq(funnelRow(batchId, "a_arrived", slice, sum($"vec_id")),
            funnelRow(batchId, "b_exact", ex, sum($"vec_id")),
            funnelRow(batchId, "c_store", kept, sum($"vec_id"))
          ) ++ afterAppend(batchId)).reduce(_ unionByName _)
            .coalesce(1).write.mode("append").parquet(s"$b/funnel")
      }
      Scratch.rmTree(staging)
      b
    }
    // SERVE: funnel + the cumulative store's serving face (the search
    // a retrieval job runs) + the on-disk read-back
    val (centF, idxF) = IvfIndex.load(s, s"$base/ivf")
    val qs = s.read.parquet(file)
      .filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    ((s.read.parquet(s"$base/funnel") +: tier.serveRows(s, qs, idxF, centF, base)) :+
      funnelRow(-2L, "g_index", idxF, sum($"id")))
      .reduce(_ unionByName _)
      .orderBy($"bk", $"stage")
  }

  /** The semantic builds' planted arrivals from the embeddings `df`:
    * [[QueriesText.plantedArrivals]] with ×1.01 near copies, plus
    * CROSS-BATCH exact (+2000002) and scaled (+3000002) copies of
    * batch-0 fresh vectors (≡ 0 mod 4) landing in batch 2 (≡ 2 mod 4)
    * — dead only if batch 0's survivors were appended. Every offset
    * stays below the 10⁹ ScaleUp replica stride and above any
    * per-replica organic id, so planted ⟺ `vec_id % 10⁹ ≥ 200000` at
    * every scale. [[graft.tools.SemStreamScale]] streams the same
    * arrivals. */
  private[graft] def semanticArrivals(df: DataFrame): DataFrame = {
    val (id, v) = (col("vec_id"), col("v"))
    val t = QueriesSimilarity.idVectors(df).withColumnRenamed("id", "vec_id")
      .withColumn("b", hashBucket(id, 10))
    plantedArrivals(t, "vec_id", "v", scaled101)
      .unionByName(t.filter(col("b") >= 8 && id % 4 === 0)
        .select((id + 2000002L).as("vec_id"), v))
      .unionByName(t.filter(col("b") >= 8 && id % 4 === 0 && id % 3 === 0)
        .select((id + 3000002L).as("vec_id"), scaled101(v).as("v")))
  }

  /** q219's refit cadence over the flat index at `ivf`, as the
    * per-batch step run after each batch's append: a `d_budget` row
    * (n_store after the append, the n_at_fit its trigger compared
    * against) and, when 1000·n_store > 1165·n_at_fit, a k=16
    * [[graft.operators.IvfIndex.refitIndex]] with an `e_refit` row
    * (new cell count, k'). */
  private def refitCadence(s: SparkSession)(ivf: String): Long => Seq[DataFrame] = {
    import s.implicits._
    // n_at_fit: the store size the live fit was computed over — the
    // trigger's denominator, reset by a refit. Driver-sequential
    // (foreachBatch runs batches in order on this single-attempt
    // fixture); the funnel's d_budget rows put every value it ever
    // takes on the hash.
    var nAtFit = IvfIndex.load(s, ivf)._2.count()
    batchId => {
      // THE CADENCE: trigger arithmetic after the append (all long
      // integers — exact in both engines)
      val nStore = IvfIndex.load(s, ivf)._2.count()
      val budget = Seq((batchId, "d_budget", nStore, nAtFit))
        .toDF("bk", "stage", "n_rows", "w")
      if (1000L * nStore > 1165L * nAtFit) {
        val cells = IvfIndex.refitIndex(s, ivf, k = 16)
        nAtFit = nStore
        Seq(budget, Seq((batchId, "e_refit", cells, 16L))
          .toDF("bk", "stage", "n_rows", "w"))
      } else Seq(budget)
    }
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q208_pipeline_soak", q208PipelineSoak, Some(q208Sql)),
    ("q209_stream_pipeline", q209StreamPipeline, Some(q209Sql)),
    ("q210_cumulative_build", q210CumulativeBuild, Some(q210Sql)),
    ("q211_semantic_stream_build", q211SemStreamBuild, Some(q211Sql)),
    ("q212_time_travel", q212TimeTravel, Some(q212Sql)),
    ("q216_nsw_screen_build", q216NswScreenBuild, Some(q216Sql)),
    ("q219_refit_cadence", q219RefitCadence, Some(q219Sql)),
  )
}
