package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{IvfIndex, PqIndex, Similarity}

/** Similarity-search query catalog over the `embeddings` table
  * (driver brief: ANN over an embedding column — brute-force cosine
  * top-k baseline, LSH-bucketed variant as the scale path).
  *
  * The synthetic embeddings are near-uniform (max cross-pair cosine
  * ≈ 0.51), so near-dup queries use a corpus of the vectors plus a
  * scaled copy (`vec_id + 100000`, every component × 1.01): scaling
  * leaves cosine ≈ 1, giving each vector exactly one true near-dup,
  * while cross pairs stay far below any threshold.
  *
  * Oracle determinism: cosine on both sides is a strict sequential
  * double fold over array order (Spark: the codegen'd
  * [[graft.plans.CosineSimilarity]] kernel; DuckDB:
  * `list_reduce(list_transform(...))`), so scores are bit-identical and
  * rank order cannot diverge.
  *
  * The ANN gates share one set of helpers (the "shared ANN gate
  * parts" block below), each the single copy of its step. Engine
  * side: [[idVectors]]/[[corpus]] (the `(id, v)` projection),
  * [[querySample]] (the ten-query sample), [[coarseFit]] (the k=8
  * coarse fit), [[pqTier]] and [[twoTierBuild]] (the PQ and IVF+PQ
  * builds), [[ivfServe]] and [[twoTierServe]] (the flat and IVF+PQ
  * serves of a saved store). Oracle side: [[vecFromEmbeddings]]/
  * [[eCte]], [[qsCte]], [[probeSql]] (the probe pair), [[ivfServeSql]]
  * (the cosine top-5 serve), [[deltaIdxSql]]/[[driftIdxSql]]
  * (delta-to-base-centroid assignment), [[ivfAdcSql]] and its parts
  * (the ADC → rerank serve) and the q203–q207 tails; `OracleSqlSpec`
  * pins every oracle text to its SHA-256. A new ANN gate builds from
  * these helpers instead of copying a fit, a projection or a CTE
  * chain, so no gate's semantics can drift alone.
  */
object QueriesSimilarity {

  import Queries.Q

  /** DuckDB fragment: sequential-fold dot of `$a` · `$b`. */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** DuckDB fragment: norm² of `$a` as a sequential fold. */
  private[graft] def norm2Sql(a: String): String =
    s"list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y)"

  /** Shared CTE chain replaying [[graft.operators.IvfIndex]]'s
    * deterministic Lloyd fit over source relation `$src` (one
    * iteration, ordered-fold means, cos-desc/cluster-asc tie-break):
    * seeds → s0 → a0 → upd → cent → s1 → `idx(id, v, cluster)`. ONE
    * text used by every fit-replaying oracle (q39, q100) so the SQL
    * cannot drift from the Scala semantics in just one of them; at
    * `k = "8"` its Scala mirror is [[coarseFit]]. */
  private[graft] def lloydIdxSql(src: String, k: String,
                                 p: String = ""): String =
    s"""${p}seeds AS (
       |  SELECT rn - 1 AS cluster, v AS centroid
       |  FROM (SELECT id, v, row_number() OVER (ORDER BY id) AS rn FROM $src)
       |  WHERE rn <= $k),
       |${p}s0 AS (
       |  SELECT $src.id, $src.v, s.cluster,
       |         ${dotSql(s"$src.v", "s.centroid")} / sqrt(${norm2Sql(s"$src.v")} * ${norm2Sql("s.centroid")}) AS cos
       |  FROM $src CROSS JOIN ${p}seeds s),
       |${p}a0 AS (
       |  SELECT id, v, cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cluster ASC) AS rn FROM ${p}s0)
       |  WHERE rn = 1),
       |${p}upd AS (
       |  SELECT cluster, dim,
       |         list_reduce(list_prepend(0.0, list(x ORDER BY id)), (a, b) -> a + b)
       |           / count(*) AS m
       |  FROM (SELECT cluster, id, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x FROM ${p}a0)
       |  GROUP BY cluster, dim),
       |${p}cent AS MATERIALIZED (SELECT cluster, list(m ORDER BY dim) AS centroid FROM ${p}upd GROUP BY cluster),
       |${p}s1 AS (
       |  SELECT $src.id, $src.v, c.cluster,
       |         ${dotSql(s"$src.v", "c.centroid")} / sqrt(${norm2Sql(s"$src.v")} * ${norm2Sql("c.centroid")}) AS cos
       |  FROM $src CROSS JOIN ${p}cent c),
       |${p}idx AS MATERIALIZED (
       |  SELECT id, v, cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cluster ASC) AS rn FROM ${p}s1)
       |  WHERE rn = 1)""".stripMargin

  // ------------------------------------------------ shared ANN gate parts
  // Helper vals sit above every gate: an object's vals initialise in
  // source order, so a gate's oracle text may only read vals above it.
  /** `(id, v)` of an embeddings frame: `vec_id` and the vector cast to
    * `array<double>`, the shape every vector index here takes. */
  private[graft] def idVectors(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
  }

  /** [[idVectors]] of the `embeddings` table at `dir`. */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    idVectors(Tables.embeddings(s, dir))

  /** `(q_id, qv)`: the first ten vectors of an `(id, v)` relation, the
    * query sample the ANN gates serve ([[qsCte]] is its oracle twin). */
  private[graft] def querySample(e: DataFrame): DataFrame =
    e.filter(col("id") < 10).select(col("id").as("q_id"), col("v").as("qv"))

  /** The gates' coarse fit over an `(id, v)` relation: k = 8 cells, one
    * ordered-mean Lloyd step, the Scala mirror of
    * `lloydIdxSql(rel, "8")`. Persisted: the centroids feed corpus
    * assignment AND query probing, and without it the whole Lloyd pass
    * re-runs per consumer. */
  private[graft] def coarseFit(s: SparkSession, rel: DataFrame): DataFrame =
    IvfIndex.fitCentroids(s, rel, k = 8, iterations = 1, orderedMean = true)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The PQ tier of a two-tier index, the Scala mirror of
    * [[pqCodebookSql]]: 4×16 codebooks fitted over the `(id, v)`
    * relation `encSrc` (one Lloyd step, the q139 parameters) and its
    * codes keyed by their cell in `indexed`:
    * `(codebooks, codesIdx(cluster, id, codes))`. */
  private[graft] def pqTier(s: SparkSession, encSrc: DataFrame,
                            indexed: DataFrame): (DataFrame, DataFrame) = {
    val cb = PqIndex.fitCodebooks(s, encSrc, m = 4, ks = 16, iterations = 1)
    val codesIdx = PqIndex.encode(encSrc, cb, m = 4, subDim = 16)
      .join(indexed.select(col("id"), col("cluster")), Seq("id"))
      .select(col("cluster"), col("id"), col("codes"))
    (cb, codesIdx)
  }

  /** The IVF+PQ build over an `(id, v)` relation (q141's fit): the
    * [[coarseFit]], the persisted cell assignment and the [[pqTier]]
    * of the raw vectors, as `(centroids, indexed, codebooks,
    * codesIdx)`; [[fullTier]] of `indexed` is the rerank tier. */
  private[graft] def twoTierBuild(s: SparkSession, rel: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cent = coarseFit(s, rel)
    val indexed = IvfIndex.assign(rel, cent)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (cb, codesIdx) = pqTier(s, rel, indexed)
    (cent, indexed, cb, codesIdx)
  }

  /** The full-precision tier `(cluster, id, v)` of a cell assignment. */
  private[graft] def fullTier(indexed: DataFrame): DataFrame =
    indexed.select(col("cluster"), col("id"), col("v"))

  /** The flat IVF serve of q39 over the store at `idxDir`: the
    * reloaded index probed 2 cells wide for the top-5 of
    * [[querySample]]`(e)`, ordered by query and rank. */
  private def ivfServe(s: SparkSession, e: DataFrame, idxDir: String): DataFrame = {
    val (cent, indexed) = IvfIndex.load(s, idxDir)
    IvfIndex.search(s, querySample(e), indexed, cent, k = 5, nProbe = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The IVF+PQ serve of q141 over the two-tier store at `store`: the
    * reloaded tiers probed 2 cells wide, ADC top-10 reranked to the
    * top-5 of [[querySample]]`(e)`. */
  private[graft] def twoTierServe(s: SparkSession, e: DataFrame,
                                  store: String): DataFrame = {
    val (cent, cb, codes, full) = PqIndex.loadTwoTier(s, store)
    PqIndex.ivfAdcSearch(s, querySample(e), codes, full, cent, cb,
      m = 4, subDim = 16, k = 5, rerank = 10, nProbe = 2)
  }

  /** The filtered gates' index (q192, q193): the corpus `e`, its
    * [[coarseFit]] and the checkpointed cell assignment with the
    * `label` attribute beside the vectors (the serving layout carries
    * the filterable columns in the cell-partitioned relation itself). */
  private def labeledIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val raw = Tables.embeddings(s, dir)
    val e = idVectors(raw)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent)
      .join(raw.select(col("vec_id").as("id"), col("label")), Seq("id"))
      .localCheckpoint()
    (e, cent, indexed)
  }

  /** The q199 drifting delta: every vector's shifted twin (id +
    * 100000, +0.1 on every component). */
  private def driftDelta(e: DataFrame): DataFrame =
    e.select((col("id") + 100000).as("id"),
      transform(col("v"), x => x + lit(0.1)).as("v"))

  /** The drifted workload: the shifted twins of the query sample. */
  private def driftSample(delta: DataFrame): DataFrame =
    delta.filter(col("id") < 100010).select(col("id").as("q_id"), col("v").as("qv"))

  /** DuckDB: the double-cast vector column read off `embeddings`, the
    * tail of every oracle corpus select ([[idVectors]]' cast). */
  private[graft] val vecFromEmbeddings: String =
    "CAST(embedding AS DOUBLE[]) AS v FROM embeddings"

  /** DuckDB twin of [[corpus]]: the `(id, v)` CTE `e`. */
  private[graft] val eCte: String =
    s"e AS (SELECT vec_id AS id, $vecFromEmbeddings)"

  /** [[eCte]] below the declared ten-replica cap (q191's, no-op at the
    * gate SFs and sf1.0). */
  private val eCappedCte: String =
    """e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 10000000000)""".stripMargin

  private val qsSelect = "SELECT id AS q_id, v AS qv FROM e WHERE id < 10"

  /** DuckDB twin of [[querySample]] over `e`: the CTE `qs(q_id, qv)`. */
  private[graft] val qsCte: String = s"qs AS ($qsSelect)"

  /** [[qsCte]] computed once, for oracles that read it many times. */
  private val qsMatCte: String = s"qs AS MATERIALIZED ($qsSelect)"

  /** DuckDB: the base/delta split of the append gates. */
  private val baseDeltaCtes: String =
    """base AS (SELECT * FROM e WHERE id % 10 < 9),
      |delta AS (SELECT * FROM e WHERE id % 10 = 9)""".stripMargin

  /** DuckDB twin of [[driftDelta]] over `e`. */
  private val driftDeltaCte: String =
    "delta AS (SELECT id + 100000 AS id, list_transform(v, x -> x + 0.1) AS v FROM e)"

  /** DuckDB: the probe step. Every query of `qsRel` is scored against
    * `centRel`'s centroids in `sc`; its `width` best cells (cos desc,
    * cluster asc) are kept in `pr(q_id, qv, cluster)`. */
  private[graft] def probeSql(sc: String, pr: String, qsRel: String,
                              centRel: String, width: Int): String =
    s"""$sc AS (
       |  SELECT q.q_id, q.qv, c.cluster,
       |         ${dotSql("q.qv", "c.centroid")} / sqrt(${norm2Sql("q.qv")} * ${norm2Sql("c.centroid")}) AS cos
       |  FROM $qsRel q CROSS JOIN $centRel c),
       |$pr AS (
       |  SELECT q_id, qv, cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cluster ASC) AS rn FROM $sc)
       |  WHERE rn <= $width)""".stripMargin

  /** The serving gates' [[probeSql]]: `qs` probes 2 of `cent`'s cells
    * (`qscored` → `probes`). */
  private val probesSql: String = probeSql("qscored", "probes", "qs", "cent", 2)

  /** DuckDB: the flat IVF serve of q39 over the index relation
    * `idxRel` `(id, v, cluster)`: [[probesSql]], then the exact cosine
    * top-5 among the probed cells' members. */
  private def ivfServeSql(idxRel: String): String =
    s"""$probesSql,
       |cand AS (
       |  SELECT p.q_id, i.id AS n_id,
       |         ${dotSql("p.qv", "i.v")} / sqrt(${norm2Sql("p.qv")} * ${norm2Sql("i.v")}) AS cos
       |  FROM probes p JOIN $idxRel i USING (cluster)),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM cand)
       |SELECT q_id, rank, n_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** DuckDB: each `dscored` row's best cell (cos desc, cluster asc). */
  private val didxCte: String =
    """didx AS (
      |  SELECT id, v, cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cluster ASC) AS rn FROM dscored)
      |  WHERE rn = 1)""".stripMargin

  /** DuckDB: `delta` assigned to the nearest of `cent`'s base-fitted
    * centroids, `didx(id, v, cluster)` — the append-without-refit
    * replay (q122, q146, q186, q207). */
  private val deltaIdxSql: String =
    s"""dscored AS (
       |  SELECT delta.id, delta.v, c.cluster,
       |         ${dotSql("delta.v", "c.centroid")} / sqrt(${norm2Sql("delta.v")} * ${norm2Sql("c.centroid")}) AS cos
       |  FROM delta CROSS JOIN cent c),
       |$didxCte""".stripMargin

  /** The drift gates' twin of [[deltaIdxSql]] (q199, q203–q206), plus
    * the grown corpus `idx2 = idx ∪ didx`. */
  private val driftIdxSql: String =
    s"""dscored AS (
       |  SELECT delta.id, delta.v, c.cluster, ${nswCos("delta.v", "c.centroid")} AS cos
       |  FROM delta CROSS JOIN cent c),
       |$didxCte,
       |idx2 AS MATERIALIZED (
       |  SELECT id, v, cluster FROM idx UNION ALL SELECT id, v, cluster FROM didx)""".stripMargin

  /** DuckDB: the append gates' shared prefix (q146, q186, q207): the
    * corpus, its base/delta split, `qs`, the Lloyd fit on the base and
    * the delta's [[deltaIdxSql]]. */
  private val appendPrefixSql: String =
    s"""$eCte,
       |$baseDeltaCtes,
       |$qsCte,
       |${lloydIdxSql("base", "8")},
       |$deltaIdxSql""".stripMargin

  /** DuckDB fragment: the ADC distance of codes `c` under the query's
    * distance tables `d`, a 0.0-seeded fold of one lookup per
    * subspace. */
  private val adcDistSql: String =
    """list_reduce(list_prepend(0.0,
      |           list_transform(generate_series(1, len(c.codes)), j -> d.dtab[j][c.codes[j] + 1])),
      |           (a, b) -> a + b)""".stripMargin

  /** DuckDB: the ADC top-10 of `acand(q_id, id, ad2)` reranked by exact
    * L2 against the index relation `idxRel`, through `ranked`. */
  private def adcRerankSql(idxRel: String): String =
    s"""atop AS (
       |  SELECT q_id, id, ad2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ad2 ASC, id ASC) AS rn FROM acand)
       |  WHERE rn <= 10),
       |rcand AS (
       |  SELECT a.q_id, a.id AS n_id, a.ad2, ${l2SqSql("q.qv", "i.v")} AS d2
       |  FROM atop a JOIN qs q ON q.q_id = a.q_id JOIN $idxRel i ON i.id = a.id),
       |ranked AS (
       |  SELECT q_id, n_id, ad2, d2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS rank
       |  FROM rcand)""".stripMargin

  /** DuckDB: the top-5 select over `ranked` of the ADC serves. */
  private val adcTop5Select: String =
    """SELECT q_id, rank, n_id, round(ad2, 4) + 0.0 AS ad2, round(d2, 4) + 0.0 AS d2
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** DuckDB: the IVF+PQ serve over the index relation `idxRel`
    * `(id, v, cluster)` through `ranked`: [[probesSql]], ADC over the
    * probed cells' `pq_codes` with the `pq_dtab` tables, then
    * [[adcRerankSql]]. Expects `qs`, `cent`, `pq_codes`, `pq_dtab`. */
  private def adcRankedSql(idxRel: String): String =
    s"""$probesSql,
       |acand AS (
       |  SELECT p.q_id, i.id,
       |         $adcDistSql AS ad2
       |  FROM probes p
       |  JOIN $idxRel i USING (cluster)
       |  JOIN pq_codes c ON c.id = i.id
       |  JOIN pq_dtab d ON d.q_id = p.q_id),
       |${adcRerankSql(idxRel)}""".stripMargin

  /** [[adcRankedSql]] and its top-5 select: the whole IVF+PQ serve,
    * ONE text for q141/q142/q146/q190/q197/q201. */
  private def ivfAdcSql(idxRel: String): String =
    s"${adcRankedSql(idxRel)}\n$adcTop5Select"

  /** DuckDB: each row's quantization error under the fitted codebooks,
    * `qe_row(id, qe)`, an ordered fold of its per-subspace minima in
    * `pq_s1`. */
  private val qeRowSql: String =
    """qe_min AS (SELECT id, sub, min(d2) AS d2 FROM pq_s1 GROUP BY id, sub),
      |qe_row AS MATERIALIZED (
      |  SELECT id, list_reduce(list_prepend(0.0, list(d2 ORDER BY sub)), (a, b) -> a + b) AS qe
      |  FROM qe_min GROUP BY id)""".stripMargin

  /** DuckDB: `qe_row`'s per-cell id-ordered partial sums over the rows
    * of `idxRel`, CTE name `p`-prefixed. */
  private def qCellSql(p: String, idxRel: String): String =
    s"""${p}q_cell AS (
       |  SELECT i.cluster,
       |         list_reduce(list_prepend(0.0, list(r.qe ORDER BY r.id)), (a, b) -> a + b) AS s,
       |         count(*) AS n
       |  FROM qe_row r JOIN $idxRel i ON i.id = r.id
       |  GROUP BY i.cluster)""".stripMargin

  /** DuckDB: the codebook-fit baseline over the rows of `idxRel`,
    * `qfit(mean_qerr, n_rows)` — [[qeRowSql]], then a cluster-ordered
    * fold of the [[qCellSql]] sums (q204, q206, q207). */
  private def fitBaselineSql(idxRel: String): String =
    s"""$qeRowSql,
       |${qCellSql("", idxRel)},
       |qfit AS (
       |  SELECT round(list_reduce(list_prepend(0.0, list(s ORDER BY cluster)), (a, b) -> a + b)
       |           / sum(n), 4) AS mean_qerr,
       |         CAST(sum(n) AS BIGINT) AS n_rows
       |  FROM q_cell)""".stripMargin

  /** DuckDB: `(id, v − centroid)` of the index relation `idxRel`, the
    * residual-regime encode source. */
  private def residSql(idxRel: String): String =
    s"""  SELECT i.id, list_transform(generate_series(1, len(i.v)), j -> i.v[j] - c.centroid[j]) AS v
       |  FROM $idxRel i JOIN cent c USING (cluster)""".stripMargin

  /** (id, v) corpus of double-cast embeddings ∪ scaled copy.
    * `capped = true` is q34's DECLARED bench cap (the no-silent-caps
    * rule): the brute all-pairs oracle twin is quadratic BY
    * DECLARATION — its gated sublinear twin q35 carries the scale
    * story — so above bench scale its fixture keeps only the first two
    * ScaleUp replicas (`vec_id < 2·10⁹`; replica keys shift by 10⁹ per
    * copy). At the three gate SFs every vec_id is < 2000, so the cap
    * is a no-op and gate hashes are unchanged; at sf1.0/sf10 it bounds
    * the fixture at 4000 source vectors (4× the sf0.1 pair work)
    * instead of letting the declared-quadratic twin dominate the
    * full-catalog bench (28.1 s at sf1.0 uncapped). */
  private def nearDupCorpus(s: SparkSession, dir: String,
                            capped: Boolean = false): DataFrame = {
    import s.implicits._
    val e0 = Tables.embeddings(s, dir)
    val e = idVectors(if (capped) e0.filter($"vec_id" < 2000000000L) else e0)
    e.unionByName(e.select(($"id" + 100000L).as("id"),
      transform($"v", x => x * lit(1.01)).as("v")))
  }

  private def nearDupCorpusText(where: String) =
    s"""corpus AS (
       |  SELECT vec_id AS id, $vecFromEmbeddings $where
       |  UNION ALL
       |  SELECT vec_id + 100000 AS id,
       |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01) AS v
       |  FROM embeddings $where)""".stripMargin

  private val nearDupCorpusSql = nearDupCorpusText("")
  /** q34's capped fixture — see [[nearDupCorpus]]. */
  private val nearDupCorpusCappedSql =
    nearDupCorpusText("WHERE vec_id < 2000000000")

  // ---------------------------------------------------------------- q33
  /** DuckDB: exact cosine ranking of every corpus vector `c(n_id, cv)`
    * for every query `q(q_id, qv)` (q33, q145). */
  private val bruteRankedSql: String =
    s"""scored AS (
       |  SELECT q_id, n_id,
       |         ${dotSql("qv", "cv")} / sqrt(${norm2Sql("qv")} * ${norm2Sql("cv")}) AS cos
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM scored)""".stripMargin

  /** Brute-force cosine top-5: 10 query vectors against the rest of the
    * corpus. Query side broadcast; one shuffle for the ranking window. */
  val q33KnnBrute: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("n_id"), $"embedding".cast("array<double>").as("cv"))
    // the bounded-heap variant (map-side trim to k before the shuffle)
    // is the gated shape; the window variant is spec-verified equal
    Similarity.bruteForceTopKAgg(s, queries, corpus, 5)
      .orderBy($"q_id", $"rank")
  }
  val q33Sql: String =
    s"""WITH e AS (SELECT vec_id, $vecFromEmbeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, v AS cv FROM e WHERE vec_id >= 10),
       |$bruteRankedSql
       |SELECT q_id, rank, n_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Embedding-cosine near-dup pairs, exact all-pairs baseline: every
    * (vector, scaled copy) pair scores ≈ 1; nothing else crosses 0.99. */
  val q34EmbedNearDup: Q = (s, dir) => {
    import s.implicits._
    Similarity.bruteForcePairs(s, nearDupCorpus(s, dir, capped = true), 0.99)
      .orderBy($"a_id", $"b_id")
  }
  val q34Sql: String =
    s"""WITH $nearDupCorpusCappedSql,
       |pairs AS (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |         ${dotSql("a.v", "b.v")} / sqrt(${norm2Sql("a.v")} * ${norm2Sql("b.v")}) AS cos
       |  FROM corpus a JOIN corpus b ON a.id < b.id)
       |SELECT a_id, b_id, round(cos, 4) AS cos
       |FROM pairs WHERE cos >= 0.99 ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** LSH-bucketed ANN: 12 deterministic ±1 hyperplanes → sign-bit
    * bucket → bucket equi-join → exact verification. The scale path:
    * candidates ≪ n², and scaling a vector never flips a sign bit, so
    * recall vs q34 is 1 up to FP-boundary buckets. */
  val q35AnnLsh: Q = (s, dir) => {
    import s.implicits._
    val planes = Similarity.hyperplanes(nPlanes = 12, dim = 64)
    // cap = the production skew guard, sized as a no-op on this corpus
    // (SimilaritySpec proves the degenerate-bucket behavior): the gate
    // certifies the capped plan — the one you'd run at scale
    Similarity.annLshPairs(s, nearDupCorpus(s, dir), planes, 0.99,
        maxBucketSize = Some(4096))
      .orderBy($"a_id", $"b_id")
  }
  val q35Sql: String = {
    val planes = Similarity.hyperplanes(nPlanes = 12, dim = 64)
    val planeLits = planes.zipWithIndex.map { case (p, j) =>
      s"[${p.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")}] AS p$j"
    }.mkString(",\n         ")
    val bits = planes.indices.map { j =>
      s"(CASE WHEN ${dotSql("v", s"p$j")} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n       + ")
    s"""WITH $nearDupCorpusSql,
       |planes AS (
       |  SELECT $planeLits),
       |bucketed AS (
       |  SELECT id, v,
       |         $bits AS bucket
       |  FROM corpus CROSS JOIN planes),
       |pairs AS (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |         ${dotSql("a.v", "b.v")} / sqrt(${norm2Sql("a.v")} * ${norm2Sql("b.v")}) AS cos
       |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id < b.id)
       |SELECT a_id, b_id, round(cos, 4) AS cos
       |FROM pairs WHERE cos >= 0.99 ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------- q39
  /** IVF ANN: deterministic k-means fit (k=8 cells, 1 Lloyd step,
    * ordered-fold mean for cross-engine bit-reproducibility), corpus
    * assigned to cells once, then 10 queries probe only their 2
    * nearest cells for an exact top-5 inside the probed candidates.
    * The data-adaptive counterpart of q35's hyperplane LSH: search
    * cost is nProbe·|cell| per query instead of |corpus|. */
  val q39AnnIvf: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    IvfIndex.search(s, querySample(e), IvfIndex.assign(e, cent), cent,
        k = 5, nProbe = 2)
      .orderBy($"q_id", $"rank")
  }
  val q39Sql: String =
    s"""WITH $eCte,
       |${lloydIdxSql("e", "8")},
       |$qsCte,
       |${ivfServeSql("idx")}""".stripMargin

  // ---------------------------------------------------------------- q106
  /** IVF index LIFECYCLE: fit + assign as in q39, then
    * [[graft.operators.IvfIndex.save]] to parquet (corpus partitioned
    * by cluster), [[graft.operators.IvfIndex.load]] in the same
    * session, and search the RELOADED index. The oracle is exactly
    * q39's in-memory replay — parquet doubles round-trip binary-exact,
    * so search-after-reload must equal in-memory search bit-for-bit;
    * any loss in the save/load path (schema drift, partition-column
    * typing, array encoding) breaks the hash. The cluster-partitioned
    * layout is the 100 TB story: a probe join reads nProbe cell
    * directories, not the corpus. */
  val q106IvfPersist: Q = (s, dir) => {
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent)
    // per-invocation scratch path: concurrent runs over the same sf
    // (bench + verify, or two drivers) must not race on one directory
    Scratch.withTempDir("graft_ivf") { idxDir =>
      IvfIndex.save(cent, indexed, idxDir)
      ivfServe(s, e, idxDir)
        .localCheckpoint() // materialize before the scratch dir is deleted
    }
  }
  /** Same oracle as q39 — the lifecycle must be invisible in results. */
  val q106Sql: String = q39Sql

  // ---------------------------------------------------------------- q100
  /** SemDeDup-style semantic dedup, gated on the BALANCED self-sizing
    * form ([[Similarity.semanticDedupBalanced]]): `k = max(8, ⌈√n⌉)`,
    * the cell count that minimizes assignment work (n·k) plus pair
    * work (n²/k) at 2·n^1.5 total — the round-5 100× probe measured
    * the pinned-cell auto form's assignment term going quadratic
    * (×92 CPU at ×100 data) once n ≫ targetCellSize², which is why
    * balanced is the gated default; `semanticDedupAuto` remains the
    * pinned-cell variant for callers whose recall target fixes the
    * cell size. The gate certifies the √n derivation as well as the
    * fit: the oracle recomputes the same k with a scalar subquery
    * (`greatest(8, ceil(sqrt(n)))` — IEEE sqrt on both engines), and a
    * wrong k mis-seeds every cluster. Then: per-cell cosine pairs at
    * 0.99, keep = no smaller-id same-cell neighbor above threshold.
    * Every scaled copy shares a cell with its original (scaling never
    * moves the argmax centroid), so exactly the copies drop. */
  val q100SemanticDedup: Q = (s, dir) => {
    import s.implicits._
    Similarity.semanticDedupBalanced(s, nearDupCorpus(s, dir),
        iterations = 1, threshold = 0.99, kFloor = 8)
      .orderBy($"id")
  }
  val q100Sql: String =
    s"""WITH $nearDupCorpusSql,
       |${lloydIdxSql("corpus",
          "(SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM corpus)")},
       |dropped AS (
       |  SELECT DISTINCT b.id
       |  FROM idx a JOIN idx b ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE ${dotSql("a.v", "b.v")} / sqrt(${norm2Sql("a.v")} * ${norm2Sql("b.v")}) >= 0.99)
       |SELECT i.id, i.cluster, d.id IS NULL AS keep
       |FROM idx i LEFT JOIN dropped d ON i.id = d.id
       |ORDER BY i.id""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Embedding normalization + Matryoshka truncation
    * ([[Similarity.l2Norm]]/`l2Normalize`/`truncateDims`): per vector,
    * the full L2 norm, the prefix-mass diagnostic (how much norm the
    * first 16 of 64 dims carry — the quantity that decides whether an
    * MRL prefix is servable), and the first component of the
    * truncated-and-renormalized vector (exercises the rescale
    * arithmetic, discriminating per row). All three are sequential
    * per-row folds — bit-identical across engines before rounding, no
    * shuffle; re-normalizing a 100 TB embedding store is one scan. */
  val q114MrlTruncate: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    e.select($"id",
        round(Similarity.l2Norm($"v"), 4).as("norm"),
        round(Similarity.l2Norm(slice($"v", 1, 16)) / Similarity.l2Norm($"v"), 6)
          .as("prefix_mass"),
        round(element_at(Similarity.truncateDims($"v", 16), 1), 6).as("t1"))
      .orderBy($"id")
  }
  val q114Sql: String = {
    def l2(expr: String) =
      s"sqrt(list_reduce(list_prepend(0.0, list_transform($expr, " +
        "x -> CAST(x AS DOUBLE) * x)), (a, x) -> a + x))"
    s"""WITH n AS (
       |  SELECT vec_id AS id,
       |         ${l2("embedding")} AS n_full,
       |         ${l2("list_slice(embedding, 1, 16)")} AS n_pre,
       |         CAST(embedding[1] AS DOUBLE) AS v1
       |  FROM embeddings)
       |SELECT id, round(n_full, 4) AS norm,
       |       round(n_pre / n_full, 6) AS prefix_mass,
       |       round(v1 / n_pre, 6) AS t1
       |FROM n ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------- q115
  /** SQL-surface gate: the engine driven through `spark.sql` TEXT — a
    * temp view over the embeddings, a self-join, and the custom
    * codegen'd Catalyst expression `cosine_similarity` called BY NAME
    * from SQL ([[graft.plans.GraftFunctions.register]] puts it in the
    * session function registry, the same path `SparkSessionExtensions`
    * installs for a cluster). A reference user who writes SQL instead
    * of the DataFrame API gets the identical engine: same expression
    * class, same codegen, same values — which is exactly what this
    * gate certifies (the oracle recomputes the cosine arithmetically,
    * so a registry miss or a different function binding breaks the
    * hash). */
  val q115SqlSurface: Q = (s, dir) => {
    graft.plans.GraftFunctions.register(s)
    corpus(s, dir).createOrReplaceTempView("emb")
    // + 0.0 folds the cross-engine -0.0 (exact-zero cosines exist in
    // the sign-flip-decorrelated sf1.0 corpus; the q61/q87 lesson)
    s.sql("""
      SELECT a.id AS a_id, b.id AS b_id,
             round(cosine_similarity(a.v, b.v), 4) + 0.0 AS cos
      FROM emb a JOIN emb b ON a.id < b.id
      WHERE a.id % 50 = 0 AND b.id % 50 = 0
      ORDER BY a_id, b_id""")
  }
  val q115Sql: String =
    s"""WITH emb AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 50 = 0)
       |SELECT a.id AS a_id, b.id AS b_id,
       |       round(${dotSql("a.v", "b.v")} / sqrt(${norm2Sql("a.v")} * ${norm2Sql("b.v")}), 4) + 0.0 AS cos
       |FROM emb a JOIN emb b ON a.id < b.id
       |ORDER BY a_id, b_id""".stripMargin

  /** Registry: name → (spark program, oracle sql). */
  // --------------------------------------------------------------- q122
  /** Incremental IVF maintenance
    * ([[graft.operators.IvfIndex.appendToIndex]]): fit + save an index
    * on the BASE corpus only (`vec_id % 10 < 9` — a scale-invariant 90%
    * split), append the remaining 10% as a delta WITHOUT refit (delta
    * assigned to the existing centroids, files appended into the
    * touched cell directories), reload, and search the combined index.
    * The oracle replays fit-on-base + assign-everything-to-base-
    * centroids + search — exactly the documented append semantics, so
    * any append-path defect (delta hashed to wrong cells, stale
    * centroid read, partition mixup on the appended files) flips the
    * hash. Work scales with the delta: the weekly-embedding-batch
    * production shape, q107's incremental contract applied to ANN. */
  val q122IvfAppend: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val base = e.filter($"id" % 10 < 9)
    val delta = e.filter($"id" % 10 === 9)
    val cent = coarseFit(s, base)
    Scratch.withTempDir("graft_ivf_app") { idxDir =>
      IvfIndex.save(cent, IvfIndex.assign(base, cent), idxDir)
      IvfIndex.appendToIndex(s, delta, idxDir)
      ivfServe(s, e, idxDir)
        .localCheckpoint() // materialize before the scratch dir is deleted
    }
  }
  val q122Sql: String =
    s"""WITH $eCte,
       |$baseDeltaCtes,
       |${lloydIdxSql("base", "8")},
       |$deltaIdxSql,
       |allidx AS (SELECT * FROM idx UNION ALL SELECT * FROM didx),
       |$qsCte,
       |${ivfServeSql("allidx")}""".stripMargin

  // ---------------------------------------------------------------- q218
  /** GLOBAL REFIT of a flat IVF store
    * ([[graft.operators.IvfIndex.refitIndex]]) — the probe-selection
    * restoration verb the sf10 decade probes demanded: recursive
    * local splits keep cells bounded but decay the GLOBAL centroid
    * ranking a probe relies on (measured: the split-chain store
    * needed nProbe 128 of 316 cells to hold its recall floor; the
    * same corpus under a fresh global fit needed 16). The verb's
    * contract is `refit(store, k) ≡ build(all stored vectors, k)`
    * EXACTLY — orderedMean Lloyd is ingestion-order-independent, so
    * the store's file order (base cells + appended delta files)
    * cannot leak into the fit. Gate: k=8 base build + 10% append
    * (q122's lifecycle), then refit to k=4 and serve — the oracle is
    * the DIRECT k=4 build over the full corpus + the q122 search
    * replay; any order-dependence, stale-read or partial-rewrite
    * defect in the refit path flips the hash. */
  val q218IvfRefit: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val base = e.filter($"id" % 10 < 9)
    val delta = e.filter($"id" % 10 === 9)
    val cent = coarseFit(s, base)
    try Scratch.withTempDir("graft_ivf_refit") { idxDir =>
      IvfIndex.save(cent, IvfIndex.assign(base, cent), idxDir)
      IvfIndex.appendToIndex(s, delta, idxDir)
      IvfIndex.refitIndex(s, idxDir, k = 4)
      ivfServe(s, e, idxDir)
        .localCheckpoint() // materialize before the scratch dir is deleted
    } finally cent.unpersist(): Unit
  }
  val q218Sql: String =
    s"""WITH $eCte,
       |${lloydIdxSql("e", "4")},
       |$qsCte,
       |${ivfServeSql("idx")}""".stripMargin

  // ---------------------------------------------------------------- q129
  /** IVF recall@k instrumentation
    * ([[graft.operators.IvfIndex.recallAtK]]) — the accuracy/cost dial
    * behind every nProbe choice, gated: q39's [[coarseFit]] (k=8
    * cells, 1 ordered-mean Lloyd step), 10 queries, exact
    * brute-force top-10 as ground truth, and the IVF probe evaluated at
    * widths 1, 2, 4 and 8. One row per width: query count, EXACT
    * total-intersection count, rounded avg/min per-query recall.
    * Probing all 8 cells IS brute force, so the n_probe=8 row must show
    * recall 1.0 — the gate encodes the convergence invariant, and the
    * oracle replays fit, truth, every probe width and the intersection
    * arithmetic. Monotonicity in nProbe is spec-pinned
    * (`SimilaritySpec`). */
  val q129IvfRecall: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent)
      .localCheckpoint() // feeds truth + 4 probe-width searches
    IvfIndex.recallAtK(s, querySample(e), indexed, cent, k = 10,
        nProbes = Seq(1, 2, 4, 8))
      .orderBy($"n_probe")
  }
  /** Shared oracle machinery of q129/q134: the full recall WITH-chain
    * (fit, truth, probes, per-width IVF top-k) and the per-width recall
    * union — ONE text for both gates so the SQL cannot drift from the
    * Scala semantics in just one of them (the bpeCtes pattern). */
  private def recallOracleParts(widths: Seq[Int]): (String, String) = {
    val perWidth = widths.map { np =>
      s"""SELECT $np AS n_probe, count(*) AS n_queries,
         |  CAST(sum(n_hit) AS BIGINT) AS total_hits,
         |  round(avg(n_hit / 10.0), 4) AS avg_recall,
         |  round(min(n_hit / 10.0), 4) AS min_recall
         |FROM (
         |  SELECT qs.q_id,
         |    (SELECT count(*) FROM ivf$np i
         |     WHERE i.q_id = qs.q_id
         |       AND i.n_id IN (SELECT n_id FROM truth t WHERE t.q_id = qs.q_id)) AS n_hit
         |  FROM qs)""".stripMargin
    }.mkString("\nUNION ALL\n")
    // MATERIALIZED on every multiply-referenced heavy CTE: DuckDB
    // inlines plain CTEs per reference, so the Lloyd chain and the
    // per-width candidate sets would otherwise re-execute once per
    // consumer — at the sf1.0 corpus that blowup OOMs the oracle
    // (semantics unchanged; the hint only forces single execution)
    val ivfCtes = widths.map { np =>
      s"""cand$np AS MATERIALIZED (
         |  SELECT p.q_id, i.id AS n_id,
         |         ${dotSql("p.qv", "i.v")} / sqrt(${norm2Sql("p.qv")} * ${norm2Sql("i.v")}) AS cos
         |  FROM (SELECT q_id, qv, cluster FROM probes WHERE rn <= $np) p
         |  JOIN idx i USING (cluster)),
         |ivf$np AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
         |    FROM cand$np)
         |  WHERE rank <= 10)""".stripMargin
    }.mkString(",\n")
    val ctes =
      s"""$eCte,
         |${lloydIdxSql("e", "8")},
         |$qsMatCte,
         |truth AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, i.id AS n_id,
         |           row_number() OVER (PARTITION BY q.q_id ORDER BY
         |             ${dotSql("q.qv", "i.v")} / sqrt(${norm2Sql("q.qv")} * ${norm2Sql("i.v")}) DESC,
         |             i.id ASC) AS rank
         |    FROM qs q CROSS JOIN idx i)
         |  WHERE rank <= 10),
         |qscored AS (
         |  SELECT q.q_id, q.qv, c.cluster,
         |         ${dotSql("q.qv", "c.centroid")} / sqrt(${norm2Sql("q.qv")} * ${norm2Sql("c.centroid")}) AS cos
         |  FROM qs q CROSS JOIN cent c),
         |probes AS MATERIALIZED (
         |  SELECT q_id, qv, cluster, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cluster ASC) AS rn
         |  FROM qscored),
         |$ivfCtes""".stripMargin
    (ctes, perWidth)
  }

  val q129Sql: String = {
    val (ctes, perWidth) = recallOracleParts(Seq(1, 2, 4, 8))
    s"""WITH $ctes
       |$perWidth
       |ORDER BY n_probe""".stripMargin
  }

  // ---------------------------------------------------------------- q134
  /** Recall-driven nProbe AUTO-TUNING
    * ([[graft.operators.IvfIndex.tuneNProbe]]) — q129 measured the
    * accuracy/cost dial; this gate turns it: the q129 index is saved to
    * disk (the q106 persist lifecycle), a held-out query sample drives
    * one recall pass over widths 1/2/4/8, the CHEAPEST width with avg
    * recall ≥ 0.9 is chosen (widest as fallback) and the whole tuning
    * table is persisted WITH the index. The gate reads the PERSISTED
    * table back — so the store round-trip, the per-width recall
    * arithmetic AND the argmin choice are all on the hash — and the
    * oracle replays every width plus the choice rule over its own
    * replayed recalls. `SimilaritySpec` pins floor/minimality semantics
    * and the [[graft.operators.IvfIndex.loadTunedNProbe]] round-trip. */
  val q134IvfAutotune: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).localCheckpoint()
    Scratch.withTempDir("q134_ivf") { idxDir =>
      IvfIndex.save(cent, indexed, idxDir)
      IvfIndex.tuneNProbe(s, idxDir, querySample(e),
        k = 10, nProbes = Seq(1, 2, 4, 8), recallFloor = 0.9): Unit
      s.read.parquet(s"$idxDir/tuning")
        .select($"n_probe", $"n_queries", $"total_hits",
          $"avg_recall", $"min_recall", $"chosen")
        .orderBy($"n_probe")
        .localCheckpoint() // materialize before the scratch dir is deleted
    }
  }
  val q134Sql: String = {
    val (ctes, perWidth) = recallOracleParts(Seq(1, 2, 4, 8))
    s"""WITH $ctes,
       |rec AS MATERIALIZED (
       |$perWidth)
       |SELECT r.n_probe, r.n_queries, r.total_hits, r.avg_recall, r.min_recall,
       |       r.n_probe = coalesce(
       |         (SELECT min(n_probe) FROM rec WHERE avg_recall >= 0.9),
       |         (SELECT max(n_probe) FROM rec)) AS chosen
       |FROM rec r
       |ORDER BY n_probe""".stripMargin
  }

  // ---------------------------------------------------------------- q137
  /** IVF + SQ8 two-tier ANN ([[graft.operators.Quantize]] +
    * [[graft.operators.IvfIndex.searchSq8]]): per-dimension global
    * bounds fitted in one pass, the corpus quantized to 0..255 code
    * arrays (the ~8× smaller fast tier), queries probe 2 of 8 IVF
    * cells AGAINST THE CODES (cosine on the reconstruction), the top
    * 10 approximate candidates per query are reranked exactly against
    * the full-precision tier, and the final top-5 carries both scores.
    * The oracle replays the min/max fit, the encode/decode affine maps,
    * the Lloyd fit, both scoring stages and both rankings — all
    * fixed-order double arithmetic, so codes and cosines are
    * bit-identical cross-engine. */
  val q137Sq8Ann: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val mm = graft.operators.Quantize.fitMinMax(e).localCheckpoint()
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).persist(StorageLevel.MEMORY_AND_DISK)
    val codesIdx = indexed.crossJoin(broadcast(mm))
      .select($"cluster", $"id",
        graft.operators.Quantize.encodeSq8($"v", $"lo", $"hi").as("codes"))
    IvfIndex.searchSq8(s, querySample(e), codesIdx, fullTier(indexed),
        cent, mm, k = 5, rerank = 10, nProbe = 2)
      .orderBy($"q_id", $"rank")
  }
  val q137Sql: String =
    s"""WITH $eCte,
       |mm AS (
       |  SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
       |  FROM (SELECT dim, min(x) AS lo, max(x) AS hi
       |        FROM (SELECT unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x FROM e)
       |        GROUP BY dim)),
       |${lloydIdxSql("e", "8")},
       |codes AS (
       |  SELECT i.cluster, i.id,
       |         list_transform(generate_series(1, len(i.v)), j ->
       |           CASE WHEN m.hi[j] > m.lo[j]
       |                THEN CAST(least(255, greatest(0,
       |                       floor((i.v[j] - m.lo[j]) / (m.hi[j] - m.lo[j]) * 255.0 + 0.5))) AS BIGINT)
       |                ELSE 0 END) AS codes
       |  FROM idx i CROSS JOIN mm m),
       |dec AS (
       |  SELECT c.cluster, c.id,
       |         list_transform(generate_series(1, len(c.codes)), j ->
       |           m.lo[j] + c.codes[j] / 255.0 * (m.hi[j] - m.lo[j])) AS dv
       |  FROM codes c CROSS JOIN mm m),
       |$qsCte,
       |$probesSql,
       |acand AS (
       |  SELECT p.q_id, d.id,
       |         ${dotSql("p.qv", "d.dv")} / sqrt(${norm2Sql("p.qv")} * ${norm2Sql("d.dv")}) AS acos
       |  FROM probes p JOIN dec d USING (cluster)),
       |atop AS (
       |  SELECT q_id, id, acos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY acos DESC, id ASC) AS rn FROM acand)
       |  WHERE rn <= 10),
       |rcand AS (
       |  SELECT a.q_id, a.id AS n_id, a.acos,
       |         ${dotSql("q.qv", "i.v")} / sqrt(${norm2Sql("q.qv")} * ${norm2Sql("i.v")}) AS cos
       |  FROM atop a JOIN qs q ON q.q_id = a.q_id JOIN idx i ON i.id = a.id),
       |ranked AS (
       |  SELECT q_id, n_id, acos, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
       |  FROM rcand)
       |SELECT q_id, rank, n_id, round(acos, 4) AS acos, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q139
  /** DuckDB fragment: squared L2 of `$a` vs `$b` as the same
    * 0.0-seeded sequential fold as [[graft.operators.PqIndex.l2Sq]]. */
  private def l2SqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))," +
      " (x, y) -> x + y)"

  /** Shared CTE chain replaying [[graft.operators.PqIndex]]'s
    * deterministic fit + encode over source relation `$src` (m=4
    * subspaces × ks=16 codewords, 1 Lloyd iteration, L2 metric,
    * id-ordered means, lower-code tie-breaks, dense renumber):
    * `subs → pq_subv → pq_seeds → pq_s0 → pq_a0 → pq_upd → pq_cb0 →
    * pq_cb(sub, code, centroid) → pq_s1 → pq_asg →
    * pq_codes(id, codes)`. `pq_`-prefixed so it composes with
    * [[lloydIdxSql]] in one query (q141). ONE text for q139/q141 so
    * the SQL cannot drift from the Scala semantics in just one. */
  private def pqCodebookSql(src: String, encodeSrc: String = "",
                            p: String = ""): String = {
    val enc = if (encodeSrc.isEmpty) src else encodeSrc
    s"""${p}subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |${p}pq_subv AS (
       |  SELECT $src.id, s.sub, list_slice($src.v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
       |  FROM $src CROSS JOIN ${p}subs s),
       |${p}pq_seeds AS (
       |  SELECT sub, rn - 1 AS code, sv AS centroid FROM (
       |    SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY id) AS rn FROM ${p}pq_subv)
       |  WHERE rn <= 16),
       |${p}pq_s0 AS (
       |  SELECT t.id, t.sub, t.sv, sd.code, ${l2SqSql("t.sv", "sd.centroid")} AS d2
       |  FROM ${p}pq_subv t JOIN ${p}pq_seeds sd USING (sub)),
       |${p}pq_a0 AS (
       |  SELECT id, sub, sv, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id, sub ORDER BY d2 ASC, code ASC) AS rn FROM ${p}pq_s0)
       |  WHERE rn = 1),
       |${p}pq_upd AS (
       |  SELECT sub, code, dim,
       |         list_reduce(list_prepend(0.0, list(x ORDER BY id)), (a, b) -> a + b)
       |           / count(*) AS mv
       |  FROM (SELECT id, sub, code, unnest(generate_series(1, len(sv))) AS dim, unnest(sv) AS x FROM ${p}pq_a0)
       |  GROUP BY sub, code, dim),
       |${p}pq_cb0 AS (SELECT sub, code, list(mv ORDER BY dim) AS centroid FROM ${p}pq_upd GROUP BY sub, code),
       |${p}pq_cb AS (SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY code) - 1 AS code, centroid FROM ${p}pq_cb0),
       |${p}pq_encsubv AS (
       |  SELECT $enc.id, s.sub, list_slice($enc.v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
       |  FROM $enc CROSS JOIN ${p}subs s),
       |${p}pq_s1 AS (
       |  SELECT t.id, t.sub, c.code, ${l2SqSql("t.sv", "c.centroid")} AS d2
       |  FROM ${p}pq_encsubv t JOIN ${p}pq_cb c USING (sub)),
       |${p}pq_asg AS (
       |  SELECT id, sub, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY id, sub ORDER BY d2 ASC, code ASC) AS rn FROM ${p}pq_s1)
       |  WHERE rn = 1),
       |${p}pq_codes AS (SELECT id, list(code ORDER BY sub) AS codes FROM ${p}pq_asg GROUP BY id)""".stripMargin
  }

  /** The raw-vector query-side distance tables (`pq_dtab(q_id, dtab)`
    * against `pq_cb`, from the `qs` CTE); q144's residual variant has
    * its own per-(q_id, cluster) tables in its query text. `p`
    * prefixes every CTE name and `qsRel` names the query relation so
    * q203 can build tables for TWO query samples over the same
    * codebooks in one query. */
  private def pqDtabSqlFor(p: String, qsRel: String,
                           cbp: String = ""): String =
    s"""${p}pq_qsub AS (
       |  SELECT q.q_id, s.sub, list_slice(q.qv, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
       |  FROM $qsRel q CROSS JOIN ${cbp}subs s),
       |${p}pq_dt AS (
       |  SELECT t.q_id, t.sub, c.code, ${l2SqSql("t.sv", "c.centroid")} AS d2
       |  FROM ${p}pq_qsub t JOIN ${cbp}pq_cb c USING (sub)),
       |${p}pq_drows AS (SELECT q_id, sub, list(d2 ORDER BY code) AS drow FROM ${p}pq_dt GROUP BY q_id, sub),
       |${p}pq_dtab AS (SELECT q_id, list(drow ORDER BY sub) AS dtab FROM ${p}pq_drows GROUP BY q_id)""".stripMargin

  private val pqDtabSql: String = pqDtabSqlFor("", "qs")

  private def pqFitSql(src: String): String =
    pqCodebookSql(src) + ",\n" + pqDtabSql

  /** Product quantization + ADC search ([[graft.operators.PqIndex]]):
    * 4 subspaces × 16 codewords fitted in one keyed Lloyd pass
    * (L2 metric, ordered means, dense renumber), the corpus encoded
    * to 4 codeword ids per vector (~4 bytes against 512 full
    * precision — the tier past q137's SQ8), 10 queries score the
    * whole corpus via per-query distance-table lookups and keep the
    * ascending top-5. The oracle replays subvector split, seeding,
    * both assignments, ordered means, dense renumbering, distance
    * tables and the lookup fold — fixed-order doubles throughout. */
  val q139PqAdc: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cb = PqIndex.fitCodebooks(s, e, m = 4, ks = 16, iterations = 1)
    val codes = PqIndex.encode(e, cb, m = 4, subDim = 16)
    PqIndex.adcSearch(s, querySample(e), codes, cb, m = 4, subDim = 16, k = 5)
      .orderBy($"q_id", $"rank")
  }
  val q139Sql: String =
    s"""WITH $eCte,
       |$qsCte,
       |${pqFitSql("e")},
       |cand AS (
       |  SELECT d.q_id, c.id AS n_id,
       |         $adcDistSql AS ad2
       |  FROM pq_codes c CROSS JOIN pq_dtab d),
       |ranked AS (
       |  SELECT q_id, n_id, ad2,
       |         row_number() OVER (PARTITION BY q_id ORDER BY ad2 ASC, n_id ASC) AS rank
       |  FROM cand)
       |SELECT q_id, rank, n_id, round(ad2, 4) + 0.0 AS ad2
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q141
  /** IVF + PQ + ADC + exact rerank
    * ([[graft.operators.PqIndex.ivfAdcSearch]]) — the full production
    * ANN composition (FAISS IVFADC shape): coarse probe picks 2 of 8
    * IVF cells per query, ADC scores only the PQ codes of vectors in
    * the probed cells (4 table lookups per candidate against the
    * broadcast per-query distance tables), the top 10 approximate
    * candidates rerank exactly against the full-precision tier, final
    * top-5 carries both distances. The engine side is
    * [[twoTierBuild]]; the oracle composes [[lloydIdxSql]] with the
    * q139 PQ replay ([[pqCodebookSql]]) plus [[ivfAdcSql]]'s
    * probe/ADC/rerank stages, so neither side can drift alone.
    *
    * Shuffle shape of the codes⋈cluster construction: `encode` ends in
    * a groupBy(id), so its output is already id-hash-partitioned and
    * the join back to `indexed` reuses it (AQE); the side that DOES
    * shuffle carries only narrow `(id, cluster)` pairs, never vectors
    * or codes. */
  val q141IvfPqAdc: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val (cent, indexed, cb, codesIdx) = twoTierBuild(s, e)
    PqIndex.ivfAdcSearch(s, querySample(e), codesIdx, fullTier(indexed),
        cent, cb, m = 4, subDim = 16, k = 5, rerank = 10, nProbe = 2)
      .orderBy($"q_id", $"rank")
  }
  val q141Sql: String =
    s"""WITH $eCte,
       |$qsCte,
       |${pqFitSql("e")},
       |${lloydIdxSql("e", "8")},
       |${ivfAdcSql("idx")}""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Two-tier index LIFECYCLE: the q141 fit saved to parquet
    * ([[graft.operators.PqIndex.saveTwoTier]] — centroids + codebooks
    * + BOTH tiers cluster-partitioned), reloaded, and searched. The
    * oracle is exactly q141's in-memory replay: parquet round-trips
    * doubles and int codes binary-exact, so the persisted-index search
    * must equal the in-memory search bit-for-bit — any loss in the
    * save/load path (schema drift, partition-column typing, code
    * array encoding) breaks the hash. The cluster-partitioned layout
    * on BOTH tiers is the serving story: a probe reads nProbe cell
    * directories of the m-byte hot tier, rerank reads the same cells
    * of the cold tier. */
  val q142TwoTierPersist: Q = (s, dir) => {
    import s.implicits._
    // session-owned store ([[Scratch.session]]): a serving deployment
    // builds+persists the index ONCE and answers every later query
    // from the parquet store — the steady bench pass models that
    // (fit+save amortized away, load+probe+rerank measured); Bench
    // clears the session before cold passes so cold still carries the
    // full fit+save lifecycle.
    val e = corpus(s, dir)
    val idxDir = Scratch.session("graft_pq", dir) { p =>
      val (cent, indexed, cb, codesIdx) = twoTierBuild(s, e)
      PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed), p)
      p
    }
    twoTierServe(s, e, idxDir).orderBy($"q_id", $"rank")
  }
  /** Same oracle as q141 — the lifecycle must be invisible. */
  val q142Sql: String = q141Sql

  // ---------------------------------------------------------------- q144
  /** RESIDUAL IVFADC ([[graft.operators.PqIndex.ivfAdcSearch]] with
    * `residual = true`) — the canonical FAISS form: PQ codebooks are
    * fitted on `v − centroid(cluster)` ([[graft.operators.PqIndex
    * .residuals]]; the code budget encodes only within-cell variance —
    * the standard recall win on clustered corpora, though this
    * near-uniform synthetic corpus cannot show it),
    * the index stores residual codes, and the query side subtracts
    * each PROBED cell's centroid before building its distance tables —
    * one table per (query, probed cell), still metadata-sized and
    * broadcast. Same exact-rerank tail as q141 ([[adcRerankSql]]).
    * The oracle reuses [[lloydIdxSql]] and [[pqCodebookSql]] (fed the
    * [[residSql]] relation) plus the per-cell query tables. */
  val q144IvfPqResidual: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).persist(StorageLevel.MEMORY_AND_DISK)
    val (cb, codesIdx) = pqTier(s,
      PqIndex.residuals(indexed, cent).select($"id", $"v"), indexed)
    PqIndex.ivfAdcSearch(s, querySample(e), codesIdx, fullTier(indexed),
        cent, cb, m = 4, subDim = 16, k = 5, rerank = 10, nProbe = 2,
        residual = true)
      .orderBy($"q_id", $"rank")
  }
  val q144Sql: String =
    s"""WITH $eCte,
       |$qsCte,
       |${lloydIdxSql("e", "8")},
       |resid AS (
       |${residSql("idx")}),
       |${pqCodebookSql("resid")},
       |$probesSql,
       |rq AS (
       |  SELECT p.q_id, p.cluster,
       |         list_transform(generate_series(1, len(p.qv)), j -> p.qv[j] - c.centroid[j]) AS qv
       |  FROM probes p JOIN cent c USING (cluster)),
       |rqsub AS (
       |  SELECT q_id, cluster, s.sub, list_slice(qv, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
       |  FROM rq CROSS JOIN subs s),
       |rdt AS (
       |  SELECT t.q_id, t.cluster, t.sub, c.code, ${l2SqSql("t.sv", "c.centroid")} AS d2
       |  FROM rqsub t JOIN pq_cb c USING (sub)),
       |rdrows AS (SELECT q_id, cluster, sub, list(d2 ORDER BY code) AS drow FROM rdt GROUP BY q_id, cluster, sub),
       |rdtab AS (SELECT q_id, cluster, list(drow ORDER BY sub) AS dtab FROM rdrows GROUP BY q_id, cluster),
       |acand AS (
       |  SELECT p.q_id, i.id,
       |         $adcDistSql AS ad2
       |  FROM probes p
       |  JOIN idx i USING (cluster)
       |  JOIN pq_codes c ON c.id = i.id
       |  JOIN rdtab d ON d.q_id = p.q_id AND d.cluster = p.cluster),
       |${adcRerankSql("idx")}
       |$adcTop5Select""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Johnson–Lindenstrauss dimensionality reduction
    * ([[graft.operators.Similarity.projectJL]]): the corpus projected
    * 64 → 16 dims through the deterministic ±1 Rademacher matrix
    * (md5-derived, seed-free — the q35 hyperplane machinery reused as
    * a projection), then exact cosine top-5 IN THE PROJECTED SPACE —
    * the 4× cheaper serving index JL's distance-preservation bound
    * licenses. The projection is a pure per-row scan (reducing a
    * 100 TB store is one pass); the oracle replays the matrix as
    * literals and both folds. Output cosines are −0.0-normalized
    * (near-orthogonal projected pairs round to ±0.0000). */
  val q145JlProject: Q = (s, dir) => {
    import s.implicits._
    val planes = Similarity.hyperplanes(nPlanes = 16, dim = 64)
    val e = Tables.embeddings(s, dir).select($"vec_id",
      Similarity.projectJL($"embedding".cast("array<double>"), planes).as("pv"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"pv".as("qv"))
    val corpus = e.filter($"vec_id" >= 10)
      .select($"vec_id".as("n_id"), $"pv".as("cv"))
    Similarity.bruteForceTopKAgg(s, queries, corpus, 5)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("pcos"))
      .orderBy($"q_id", $"rank")
  }
  val q145Sql: String = {
    val planes = Similarity.hyperplanes(nPlanes = 16, dim = 64)
    val planeLits = planes.zipWithIndex.map { case (p, j) =>
      s"[${p.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")}] AS p$j"
    }.mkString(",\n         ")
    val projExpr = planes.indices.map(j =>
      s"${dotSql("v", s"pl.p$j")} / sqrt(16.0)")
      .mkString("[", ",\n           ", "]")
    s"""WITH pl AS (SELECT $planeLits),
       |e AS (SELECT vec_id, $vecFromEmbeddings),
       |proj AS (SELECT vec_id, $projExpr AS pv FROM e CROSS JOIN pl),
       |q AS (SELECT vec_id AS q_id, pv AS qv FROM proj WHERE vec_id < 10),
       |c AS (SELECT vec_id AS n_id, pv AS cv FROM proj WHERE vec_id >= 10),
       |$bruteRankedSql
       |SELECT q_id, rank, n_id, round(cos, 4) + 0.0 AS pcos
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q146
  /** Two-tier index APPEND
    * ([[graft.operators.PqIndex.appendToTwoTier]]): the q141 fit built
    * on 90% of the corpus and persisted, the remaining 10% appended
    * WITHOUT refit (assigned to the persisted centroids, encoded with
    * the persisted codebooks, both tiers' cluster partitions
    * appended), then searched through the reloaded index. With models
    * fixed, append ≡ full rebuild with the same models exactly — the
    * oracle fits on the base relation and encodes/probes the FULL
    * corpus (the [[pqCodebookSql]] encode-source parameter), so a
    * wrong append path (refit, missed partition, residual/raw mix-up)
    * breaks the hash. */
  val q146TwoTierAppend: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    // session cache as in q142: the base fit + save + delta append run
    // once per session (the store is deterministic, so the cached
    // post-append store searches bit-identically); cold passes rebuild
    // after Bench clears the cache and so still price the append path
    val idxDir = Scratch.session("graft_pq_app", dir) { p =>
      val (cent, indexed, cb, codesIdx) =
        twoTierBuild(s, e.filter($"id" % 10 < 9))
      PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed), p)
      PqIndex.appendToTwoTier(s, e.filter($"id" % 10 === 9), p,
        m = 4, subDim = 16)
      p
    }
    twoTierServe(s, e, idxDir).orderBy($"q_id", $"rank")
  }
  /** q146's oracle text with an optional live-row predicate on the
    * union index — "" replays the plain append (q146); q201 passes
    * the takedown filter so the stream-append + interleaved
    * delete+compact end state replays as ADC serving over the
    * filtered union (append ≡ rebuild composed with
    * delete ≡ rebuild-without-ids). Codebooks fit on the unfiltered
    * base either way (fit parameters are unchanged by document
    * removal); only live rows are encoded and served — the
    * post-compaction store's exact shape. */
  private def twoTierAppendSqlWith(liveWhere: String): String = {
    val live = if (liveWhere.isEmpty) "" else s" $liveWhere"
    s"""WITH $appendPrefixSql,
       |allidx AS (
       |  SELECT * FROM (SELECT * FROM idx UNION ALL SELECT * FROM didx)$live),
       |${pqCodebookSql("base", "allidx")},
       |${pqDtabSql},
       |${ivfAdcSql("allidx")}""".stripMargin
  }
  val q146Sql: String = twoTierAppendSqlWith("")
  private[graft] val q201Sql: String =
    twoTierAppendSqlWith("WHERE id % 10 <> 3")

  // ---------------------------------------------------------------- q213
  /** TIME-TRAVEL serving of the generational two-tier store
    * ([[graft.operators.PqIndex.loadTwoTierAt]] /
    * [[graft.operators.PqIndex.committedTwoTierGenerations]]) — the
    * q212 contract on the ANN side: after a periodic REFRESH commits
    * a new generation (models refitted on the grown corpus), serve
    * the SAME queries against the retained pre-refresh generation and
    * the head — pre/post-refresh recall attribution, audit replay of
    * an old batch's retrieval, byte-for-byte. g1 = fit + encode on
    * the base corpus (the q141 constants: k=8 cells, m=4×ks=16
    * codebooks, one Lloyd step each), g2 = the refresh (same fit
    * recipe over the FULL corpus), both under `retainGenerations = 2`
    * — the retention dial that keeps g1 readable. The result is both
    * generations' IVFADC top-5 tagged by generation plus a live
    * `gens` row (count + sum of readable generations, computed from
    * store metadata at serve time). The oracle runs TWO independent
    * fit/encode/serve replays — the prefixed [[lloydIdxSql]] /
    * [[pqCodebookSql]] instantiated per generation (prefixes emit
    * byte-identical text at "" so the q39/q100/q122/q139-family
    * oracles are untouched) — and the vacuumed-generation refusal +
    * tombstones-on-history semantics are spec-pinned
    * (`StoreLifecycleSpec`).
    *
    * Scale shape: history is one retained generation DIRECTORY (no
    * copy; vacuum reclaims it on the normal dial); a historic search
    * prices exactly like a head search — same broadcast probe join
    * into the cluster-partitioned layout, same bounded-heap trims.
    * The `gens` row is one directory listing. */
  val q213TwoTierTimeTravel: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val idxDir = Scratch.session("graft_pq_tt", dir) { p =>
      def fitSave(rel: DataFrame): Unit = {
        val (cent, indexed, cb, codesIdx) = twoTierBuild(s, rel)
        try PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed),
          p, retainGenerations = 2)
        finally { cent.unpersist(); indexed.unpersist(): Unit }
      }
      fitSave(e.filter($"id" % 10 < 9)) // g1: the base-era fit
      fitSave(e)                        // g2: the periodic refresh
      p
    }
    val queries = querySample(e)
    val gens = graft.operators.PqIndex.committedTwoTierGenerations(idxDir)
    def at(g: Long) = {
      val (c, cb, codes, full) =
        graft.operators.PqIndex.loadTwoTierAt(s, idxDir, Some(g))
      graft.operators.PqIndex.ivfAdcSearch(s, queries, codes, full, c, cb,
          m = 4, subDim = 16, k = 5, rerank = 10, nProbe = 2)
        .select(lit(g).as("gen"), $"q_id", $"rank", $"n_id", $"ad2", $"d2")
    }
    val gensRow = Seq((0L, -1L, gens.size, gens.sum, 0.0, 0.0))
      .toDF("gen", "q_id", "rank", "n_id", "ad2", "d2")
    at(1L).unionByName(at(2L)).unionByName(gensRow)
      .orderBy($"gen", $"q_id", $"rank")
  }

  val q213Sql: String = {
    // one generation's IVFADC serve replay (probe 2 cells, ADC top-10,
    // exact-L2 rerank to top-5 — the q146 serving arithmetic) over
    // that generation's own fit relations
    def serve(p: String, centRel: String, idxRel: String,
              codesRel: String, dtabRel: String): String =
      s"""${probeSql(s"${p}qsc", s"${p}pr", "qs", centRel, 2)},
         |${p}ac AS (
         |  SELECT pp.q_id, i.id,
         |         $adcDistSql AS ad2
         |  FROM ${p}pr pp
         |  JOIN $idxRel i USING (cluster)
         |  JOIN $codesRel c ON c.id = i.id
         |  JOIN $dtabRel d ON d.q_id = pp.q_id),
         |${p}at AS (
         |  SELECT q_id, id, ad2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ad2 ASC, id ASC) AS rn FROM ${p}ac)
         |  WHERE rn <= 10),
         |${p}rc AS (
         |  SELECT a.q_id, a.id AS n_id, a.ad2, ${l2SqSql("q.qv", "i.v")} AS d2
         |  FROM ${p}at a JOIN qs q ON q.q_id = a.q_id JOIN $idxRel i ON i.id = a.id),
         |${p}out AS (
         |  SELECT q_id, rank, n_id, round(ad2, 4) + 0.0 AS ad2, round(d2, 4) + 0.0 AS d2 FROM (
         |    SELECT q_id, n_id, ad2, d2,
         |           row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id ASC) AS rank
         |    FROM ${p}rc)
         |  WHERE rank <= 5)""".stripMargin
    s"""WITH $eCte,
       |base AS MATERIALIZED (SELECT * FROM e WHERE id % 10 < 9),
       |$qsMatCte,
       |${lloydIdxSql("base", "8")},
       |${pqCodebookSql("base")},
       |${pqDtabSqlFor("", "qs")},
       |${lloydIdxSql("e", "8", "r")},
       |${pqCodebookSql("e", "", "r")},
       |${pqDtabSqlFor("r", "qs", "r")},
       |${serve("a", "cent", "idx", "pq_codes", "pq_dtab")},
       |${serve("b", "rcent", "ridx", "rpq_codes", "rpq_dtab")}
       |SELECT gen, q_id, rank, n_id, ad2, d2 FROM (
       |  SELECT CAST(1 AS BIGINT) AS gen, * FROM aout
       |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM bout
       |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
       |            CAST(2 AS INT), CAST(3 AS BIGINT), 0.0, 0.0)
       |ORDER BY gen, q_id, rank""".stripMargin
  }

  /** q207 oracle (streaming refit-during-ingest): coarse centroids fit
    * on the base and KEPT through the refit; codebooks REFIT over
    * base ∪ the first two keyed micro-batches (`(id // 10) % 4 IN
    * (0, 1)` of the delta — the corpus state at the batch-1 refit);
    * every live row encoded under the refit codebooks (the refit
    * re-encoded base + early batches, the post-swap appends encoded
    * batches 2-3); the reset `codebook_fit` baseline is the
    * ordered-fold error of exactly the refit-time rows under the
    * refit codebooks. */
  private[graft] val q207Sql: String =
    s"""WITH $appendPrefixSql,
       |allidx AS MATERIALIZED (
       |  SELECT * FROM idx UNION ALL SELECT * FROM didx),
       |fitset AS MATERIALIZED (
       |  SELECT id, v FROM base UNION ALL
       |  SELECT id, v FROM delta WHERE (id // 10) % 4 IN (0, 1)),
       |${pqCodebookSql("fitset", "allidx")},
       |${pqDtabSql},
       |${adcRankedSql("allidx")},
       |idxf AS (
       |  SELECT * FROM allidx WHERE id % 10 < 9 OR (id // 10) % 4 IN (0, 1)),
       |${fitBaselineSql("idxf")}
       |SELECT phase, q_id, rank, n_id, ad2, d2, mean_qerr, n_rows FROM (
       |  SELECT 'serve' AS phase, q_id, CAST(rank AS INT) AS rank, n_id,
       |         round(ad2, 4) + 0.0 AS ad2, round(d2, 4) + 0.0 AS d2,
       |         CAST(NULL AS DOUBLE) AS mean_qerr, CAST(NULL AS BIGINT) AS n_rows
       |  FROM ranked WHERE rank <= 5
       |  UNION ALL
       |  SELECT 'fit_baseline', CAST(NULL AS BIGINT), CAST(NULL AS INT),
       |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |         q.mean_qerr, q.n_rows
       |  FROM qfit q)
       |ORDER BY phase, q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q184
  /** Partitioned-NSW graph search ([[graft.operators.NswIndex]]) — the
    * graph tier closing the ANN ladder: per-cell neighbor graphs
    * (degree 4) built once over the q39 coarse cells, one entry point
    * per cell (argmax cosine to centroid), and a batched greedy beam
    * walk (nProbe 2, ef 8, 2 rounds) whose per-round work is
    * query-bounded (frontier ⋈ graph ⋈ vectors, beam re-trimmed by the
    * bounded heap) instead of cell-sized. Every trim breaks ties
    * (score desc, id asc) and the scoring is fixed-order doubles, so
    * the ENTIRE walk — fit, graph, entries, probes, both expansion
    * rounds, final top-5 — replays verbatim in the oracle's CTE chain.
    * `NswSpec` separately pins recall ≥ the IVF+PQ-ADC tier at the
    * same probe budget. */
  val q184NswSearch: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).localCheckpoint()
    val graph = graft.operators.NswIndex.fitGraph(indexed, degree = 4)
      .localCheckpoint()
    val entries = graft.operators.NswIndex.entryPoints(indexed, cent)
    graft.operators.NswIndex.search(s, querySample(e), graph, indexed, cent, entries,
        k = 5, nProbe = 2, ef = 8, rounds = 2)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  /** Shared NSW-walk oracle tail over an index relation `idxRel`
    * `(id, v, cluster)` — ONE text for q184/q185/q186 (the bpeCtes
    * pattern: the gates' walk semantics cannot drift apart). Emits the
    * graph build, entries, probes, seed, both beam rounds and the
    * final top-5. Multiply-referenced CTEs MATERIALIZED (the q134
    * lesson). */
  private def nswWalkSql(idxRel: String): String =
    s"""${nswWalkCtes(idxRel)}
       |SELECT q_id, rank, id AS n_id, round(cos, 4) + 0.0 AS cos FROM (
       |  SELECT q_id, id, cos, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, id ASC) AS INT) AS rank FROM nv2)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** The walk's CTE chain alone (through the final visited set `nv2`)
    * — q193 appends a predicate-restricted trim instead of the plain
    * one. */
  private def nswWalkCtes(idxRel: String): String =
    s"""${nswWalkBaseCtes(idxRel)},
       |${nswRoundCtes(idxRel, 1, "v0", "v0", 8, "")},
       |${nswRoundCtes(idxRel, 2, "nv1", "nf1", 8, "")}""".stripMargin

  private[graft] def nswCos(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${norm2Sql(a)} * ${norm2Sql(b)})"

  /** One beam round of the walk replay, CTE names prefixed with `p` so
    * q194 can instantiate several (ef, rounds) settings over the SAME
    * graph/probes/v0 base in one query. */
  private[graft] def nswRoundCtes(idxRel: String, i: Int, prevV: String,
                           prevF: String, ef: Int, p: String,
                           graphRel: String = "graph",
                           qsRel: String = "qs"): String =
    s"""${p}nx$i AS (
       |  SELECT DISTINCT f.q_id, g.cluster, g.dst AS id
       |  FROM $prevF f JOIN $graphRel g ON g.cluster = f.cluster AND g.src = f.id),
       |${p}ns$i AS (
       |  SELECT x.q_id, x.cluster, x.id, ${nswCos("q.qv", "i.v")} AS cos
       |  FROM ${p}nx$i x JOIN $qsRel q USING (q_id)
       |  JOIN $idxRel i ON i.cluster = x.cluster AND i.id = x.id),
       |${p}nv$i AS MATERIALIZED (
       |  SELECT q_id, cluster, id, max(cos) AS cos
       |  FROM (SELECT * FROM $prevV UNION ALL SELECT * FROM ${p}ns$i)
       |  GROUP BY 1, 2, 3),
       |${p}nf$i AS (
       |  SELECT v.* FROM ${p}nv$i v JOIN (
       |    SELECT q_id, id FROM (
       |      SELECT q_id, id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, id ASC) AS rn FROM ${p}nv$i)
       |    WHERE rn <= $ef) t USING (q_id, id))""".stripMargin

  /** The walk's setting-independent base: graph build, entries, probes
    * and the seeded visited set `v0`. `p` prefixes every CTE name so
    * q199 can instantiate the chain for TWO corpus states (base and
    * post-append) in one query; `qsRel`/`centRel` name the query
    * sample and centroid relations the instance reads. `structRel`
    * (default: `idxRel`, emitting byte-identical text — the q213
    * prefix convention) names the relation the graph STRUCTURE
    * (pairs, entries) builds from when it differs from the relation
    * vectors are scored against: q214's historic replay builds the
    * graph on the FULL pre-delete corpus while scoring only live
    * vectors — a dead neighbor or entry point then drops exactly
    * where the engine's ledger scrub drops it, because a scrubbed
    * citation and a citation whose vector no longer exists are the
    * same absence to the walk. */
  private[graft] def nswWalkBaseCtes(idxRel: String, p: String = "",
                              qsRel: String = "qs",
                              centRel: String = "cent",
                              structRel: String = ""): String = {
    val sRel = if (structRel.isEmpty) idxRel else structRel
    s"""${p}pairs AS (
       |  SELECT a.cluster, a.id AS src, b.id AS dst, ${nswCos("a.v", "b.v")} AS cos
       |  FROM $sRel a JOIN $sRel b ON a.cluster = b.cluster AND a.id <> b.id),
       |${p}graph AS MATERIALIZED (
       |  SELECT cluster, src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cluster, src
       |      ORDER BY cos DESC, dst ASC) AS rn FROM ${p}pairs)
       |  WHERE rn <= 4),
       |${p}entries AS (
       |  SELECT cluster, id AS entry FROM (
       |    SELECT i.cluster, i.id, row_number() OVER (PARTITION BY i.cluster
       |      ORDER BY ${nswCos("i.v", "c.centroid")} DESC, i.id ASC) AS rn
       |    FROM $sRel i JOIN $centRel c USING (cluster))
       |  WHERE rn = 1),
       |${p}qscored AS (
       |  SELECT q.q_id, q.qv, c.cluster, ${nswCos("q.qv", "c.centroid")} AS cos
       |  FROM $qsRel q CROSS JOIN $centRel c),
       |${p}probes AS (
       |  SELECT q_id, cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, cluster ASC) AS rn FROM ${p}qscored)
       |  WHERE rn <= 2),
       |${p}v0 AS MATERIALIZED (
       |  SELECT p.q_id, en.cluster, en.entry AS id, ${nswCos("q.qv", "i.v")} AS cos
       |  FROM ${p}probes p JOIN ${p}entries en USING (cluster)
       |  JOIN $idxRel i ON i.cluster = en.cluster AND i.id = en.entry
       |  JOIN $qsRel q ON q.q_id = p.q_id)""".stripMargin
  }

  val q184Sql: String =
    s"""WITH $eCte,
       |$qsCte,
       |${lloydIdxSql("e", "8")},
       |${nswWalkSql("idx")}""".stripMargin

  // ---------------------------------------------------------------- q185
  /** NSW tier persist lifecycle ([[graft.operators.NswIndex.saveNsw]]/
    * [[graft.operators.NswIndex.loadNsw]]): the q184 graph + entry
    * points saved generationally (cluster-partitioned graph, shared
    * manifest commit), reloaded, and searched. Longs and arrays
    * round-trip parquet exactly, so the persisted-graph walk must equal
    * the in-memory walk bit-for-bit — same oracle as q184 (the
    * lifecycle must be invisible), the q142 contract applied to the
    * graph tier. */
  val q185NswPersist: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).localCheckpoint()
    Scratch.withTempDir("graft_nsw") { idxDir =>
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(indexed, degree = 4),
        graft.operators.NswIndex.entryPoints(indexed, cent), idxDir)
      val (graph, entries) = graft.operators.NswIndex.loadNsw(s, idxDir)
      graft.operators.NswIndex.search(s, querySample(e), graph, indexed, cent, entries,
          k = 5, nProbe = 2, ef = 8, rounds = 2)
        .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
        .orderBy($"q_id", $"rank")
        .localCheckpoint() // materialize before the scratch dir is deleted
    }
  }

  // ---------------------------------------------------------------- q186
  /** NSW graph APPEND ([[graft.operators.NswIndex.appendToNsw]]): the
    * graph tier's q146 — base fit + save, the remaining 10% folded in
    * WITHOUT refit. The merge is EXACT, not approximate: an existing
    * node's new top-degree list is the trimmed merge of its stored
    * score-carrying list with its scored delta cell-mates (top-k of a
    * union = trimmed merge of per-part top-ks), new nodes compute
    * directly, entry points merge by stored `escore` — so
    * `append(store(base), delta) ≡ fitGraph(base ∪ delta)`
    * bit-for-bit, and the oracle replays the walk over the FULL
    * corpus assigned to base-fitted centroids. Pair work is
    * delta-bounded (|delta|·|cell| per touched cell, not |cell|²). */
  val q186NswAppend: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir)
    // session-owned lifecycle cache (the q142 contract, round 15): the
    // base fit + graph save + exact delta append run ONCE per session,
    // with the flat union index and centroids persisted as aux tables
    // BESIDE the graph store (serve inputs the NSW store itself does
    // not carry); steady passes price the persisted walk — q185 proves
    // walk-from-parquet ≡ in-memory bit-for-bit — cold passes the full
    // lifecycle
    val idxDir = Scratch.session("graft_nsw_app", dir) { p =>
      val base = e.filter($"id" % 10 < 9)
      val delta = e.filter($"id" % 10 === 9)
      val cent = coarseFit(s, base)
      val idxBase = IvfIndex.assign(base, cent).localCheckpoint()
      val idxDelta = IvfIndex.assign(delta, cent).localCheckpoint()
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(idxBase, degree = 4),
        graft.operators.NswIndex.entryPoints(idxBase, cent), p)
      graft.operators.NswIndex.appendToNsw(s, p, idxBase, idxDelta, cent,
        degree = 4)
      cent.write.mode("overwrite").parquet(s"$p/aux_cent")
      idxBase.unionByName(idxDelta).repartition(col("cluster"))
        .write.mode("overwrite").parquet(s"$p/aux_idx")
      p
    }
    val cent2 = s.read.parquet(s"$idxDir/aux_cent")
    val idxAll = s.read.parquet(s"$idxDir/aux_idx")
    val (graph, entries) = graft.operators.NswIndex.loadNsw(s, idxDir)
    graft.operators.NswIndex.search(s, querySample(e), graph, idxAll, cent2, entries,
        k = 5, nProbe = 2, ef = 8, rounds = 2)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  /** q186's oracle text with an optional live-row predicate applied to
    * the union index — "" replays the plain append (q186/q187);
    * q202 passes the takedown filter so the stream-append +
    * interleaved-delete end state replays as a direct walk over the
    * filtered union (append ≡ rebuild composed with
    * delete ≡ rebuild-without-ids). */
  private def nswAppendSqlWith(liveWhere: String): String = {
    val live = if (liveWhere.isEmpty) "" else s" $liveWhere"
    s"""WITH $appendPrefixSql,
       |allidx AS MATERIALIZED (
       |  SELECT * FROM (SELECT * FROM idx UNION ALL SELECT * FROM didx)$live),
       |${nswWalkSql("allidx")}""".stripMargin
  }
  val q186Sql: String = nswAppendSqlWith("")
  private[graft] val q202Sql: String = nswAppendSqlWith("WHERE id % 10 <> 3")

  // ---------------------------------------------------------------- q188
  /** NSW cell-size-cap maintenance
    * ([[graft.operators.NswIndex.splitOversizedNswCells]]) — the gate
    * closing the graph tier's scale story: Σ|cell|² construction is
    * only bounded if an oversized cell can be SPLIT and its sub-cell
    * graphs rebuilt without touching the rest of the store. Fixture
    * forces the degenerate worst case: a k=1 coarse fit puts the whole
    * corpus in ONE cell, the flat index + NSW store are built and
    * persisted on that layout, then the cap (half the corpus) triggers
    * the split. Because the oversized cell IS the corpus, its k=2
    * sub-fit is bit-identical to a direct k=2 Lloyd fit of the corpus,
    * and the remap (sub-cell 0 keeps old id 0, sub-cell 1 takes fresh
    * id 1) is the identity — so the post-split store must equal the
    * DIRECT k=2 build, and the oracle is exactly the q184 walk replay
    * over a k=2 fit (`lloydIdxSql(e, 2)` + the shared `nswWalkSql`
    * text): the whole maintenance lifecycle must be invisible to the
    * search. `NswSpec` separately pins the untouched-cells-kept merge
    * on a multi-cell fixture. Corpus is the `id % 4 = 0` quarter so
    * the deliberately-degenerate one-cell graph build stays affordable
    * at every probed SF (documented cap; the operator itself is
    * maintenance-sized, not corpus-sized). Above sf1.0 the fixture
    * ALSO keeps only the first ten ScaleUp replicas
    * (`vec_id < 10·10⁹`; replica keys shift by 10⁹ per copy — the q34
    * declared-cap pattern): the pre-split ONE-cell graph build is
    * quadratic BY CONSTRUCTION (that is the worst case the gate
    * exists to force), so an uncapped sf10 fixture spends ~45 min
    * single-threaded building the degenerate input, not measuring the
    * operator. No-op at the three gate SFs AND at sf1.0 (ids there
    * are < 10¹⁰), so every committed hash and bench number is
    * unchanged; at sf10 it bounds the fixture at sf1.0 size. */
  val q188NswSplit: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir).filter($"id" % 4 === 0 && $"id" < 10000000000L)
    // session-owned lifecycle cache (the q142 contract): the
    // deliberately-degenerate one-cell build + the split run ONCE per
    // session; steady bench passes price the post-maintenance SERVE
    // (load + walk), cold passes the full lifecycle
    val store = Scratch.session("graft_nswsplit", dir) { p =>
      val eM = e.localCheckpoint()
      val n = eM.count()
      val cent1 = graft.operators.IvfIndex
        .fitCentroids(s, eM, k = 1, iterations = 1, orderedMean = true)
        .localCheckpoint()
      val idx1 = graft.operators.IvfIndex.assign(eM, cent1).localCheckpoint()
      graft.operators.IvfIndex.save(cent1, idx1, s"$p/flat")
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(idx1, degree = 4),
        graft.operators.NswIndex.entryPoints(idx1, cent1), s"$p/nsw")
      val split = graft.operators.NswIndex.splitOversizedNswCells(
        s, s"$p/flat", s"$p/nsw", maxCellSize = math.max(2L, n / 2), degree = 4)
      require(split == 1, s"fixture must force exactly one split, got $split")
      p
    }
    val (cent2, idx2) = graft.operators.IvfIndex.load(s, s"$store/flat")
    val (graph, entries) = graft.operators.NswIndex.loadNsw(s, s"$store/nsw")
    val queries = e.filter($"id" < 40).select($"id".as("q_id"), $"v".as("qv"))
    graft.operators.NswIndex.search(s, queries, graph,
        idx2.select($"id", $"v", $"cluster"), cent2, entries,
        k = 5, nProbe = 2, ef = 8, rounds = 2)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  val q188Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 10000000000),
       |qs AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 40),
       |${lloydIdxSql("e", "2")},
       |${nswWalkSql("idx")}""".stripMargin

  // ---------------------------------------------------------------- q190
  /** Two-tier store DELETE
    * ([[graft.operators.PqIndex.deleteFromTwoTier]]) — the removal
    * verb (takedown / retraction / right-to-be-forgotten) on the
    * IVFADC store: the q142 store is built and persisted, every
    * `id % 10 = 3` document is tombstoned (an O(|ids|) append, no
    * store rewrite), and the reloaded search must equal an index
    * REBUILT WITHOUT those documents — same centroids and codebooks
    * (fit parameters don't change when documents are removed), the
    * oracle replaying the full fit on the corpus and serving from the
    * filtered index relation. Also exercises [[graft.operators
    * .PqIndex.compactTwoTier]]: after folding the tombstones into a
    * rewritten generation the same search must still hash-match. */
  val q190TwoTierDelete: Q = (s, dir) => {
    import s.implicits._
    // session-owned lifecycle cache (the q142 contract): fit + save +
    // tombstone + compact run ONCE per session; steady passes price
    // serving from the compacted generation, cold the full lifecycle.
    // NOTE the gate still covers BOTH read paths on every cold pass:
    // the tombstone-anti-join read is exercised inside the builder
    // (loadTwoTier between delete and compact, via compactTwoTier).
    val e = corpus(s, dir)
    val idxDir = Scratch.session("graft_pq_del", dir) { p =>
      val (cent, indexed, cb, codesIdx) = twoTierBuild(s, e)
      PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed), p)
      val deleted = Tables.embeddings(s, dir)
        .select($"vec_id".as("id")).filter($"id" % 10 === 3)
      PqIndex.deleteFromTwoTier(s, p, deleted)
      // fold the tombstones in, then serve from the compacted
      // generation: compaction must be invisible to the search
      PqIndex.compactTwoTier(s, p)
      p
    }
    twoTierServe(s, e, idxDir).orderBy($"q_id", $"rank")
  }
  val q190Sql: String =
    s"""WITH $eCte,
       |$qsCte,
       |${pqFitSql("e")},
       |${lloydIdxSql("e", "8")},
       |idxd AS MATERIALIZED (SELECT * FROM idx WHERE id % 10 <> 3),
       |${ivfAdcSql("idxd")}""".stripMargin

  // ---------------------------------------------------------------- q191
  /** NSW store DELETE ([[graft.operators.NswIndex.deleteFromNsw]]) —
    * the removal verb on the graph tier, where lazy tombstones CANNOT
    * work (a survivor's neighbor list may cite a deleted id and its
    * replacement lies beyond the stored top-degree): the q184
    * flat+graph stores are built and persisted, every `id % 10 = 3`
    * vector is deleted via the cell-local rebuild (affected cells'
    * partitions rewritten, their graph rows and entry points
    * recomputed, untouched cells kept verbatim, new generation
    * committed), and the persisted walk must equal a graph built
    * DIRECTLY on the corpus minus the deleted ids under the same
    * centroids — the oracle replays exactly that. Above sf1.0 the
    * fixture keeps only the first ten ScaleUp replicas (the q188/q34
    * declared-cap pattern): with the oracle-replayable pinned k=8 the
    * per-cell graph build is quadratic in |cell| (measured: the
    * uncapped sf10 fixture spills past 75 GB of disk); the at-scale
    * posture is corpus-scaled k (~250 vectors/cell, ProbeNsw), which
    * the pinned-k gate fixture deliberately does not use. No-op at
    * the three gate SFs and sf1.0. */
  val q191NswDelete: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir).filter($"id" < 10000000000L)
    // session-owned lifecycle cache (the q142 contract): build + save +
    // cell-local delete-rebuild run ONCE per session; steady passes
    // price the post-delete SERVE, cold passes the full lifecycle
    val store = Scratch.session("graft_nswdel", dir) { p =>
      val cent = coarseFit(s, e)
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      IvfIndex.save(cent, indexed, s"$p/flat")
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(indexed, degree = 4),
        graft.operators.NswIndex.entryPoints(indexed, cent), s"$p/nsw")
      val rebuilt = graft.operators.NswIndex.deleteFromNsw(s, s"$p/flat",
        s"$p/nsw", e.filter($"id" % 10 === 3).select($"id"), degree = 4)
      require(rebuilt >= 1, s"fixture must touch at least one cell, got $rebuilt")
      p
    }
    val (cent2, idx2) = IvfIndex.load(s, s"$store/flat")
    val (graph, entries) = graft.operators.NswIndex.loadNsw(s, s"$store/nsw")
    graft.operators.NswIndex.search(s, querySample(e), graph,
        idx2.select($"id", $"v", $"cluster"), cent2, entries,
        k = 5, nProbe = 2, ef = 8, rounds = 2)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  val q191Sql: String =
    s"""WITH $eCappedCte,
       |$qsCte,
       |${lloydIdxSql("e", "8")},
       |idxd AS MATERIALIZED (SELECT * FROM idx WHERE id % 10 <> 3),
       |${nswWalkSql("idxd")}""".stripMargin

  // ---------------------------------------------------------------- q214
  /** TIME-TRAVEL reads of the generational NSW store
    * ([[graft.operators.NswIndex.loadNswAt]] /
    * [[graft.operators.NswIndex.committedNswGenerations]]) — the
    * q212/q213 historic-read contract on the LAST store family
    * without it: build the q184 flat+graph stores (k=8 cells,
    * degree 4) under `retainGenerations = 2` (g1), delete every
    * `id % 10 = 3` vector via the eager cell-local rebuild (g2), then
    * walk the SAME queries against BOTH generations — pre/post-delete
    * recall attribution, audit replay of what the old graph served.
    *
    * The deletion semantics differ from the sibling families by
    * construction, and the gate pins exactly that: the HEAD (g2) is
    * an exact rebuild (q191's contract — neighbor lists backfilled
    * from surviving cell-mates), while the HISTORIC read (g1) applies
    * the generation-scoped deletion ledger lazily — deleted ids lose
    * their node rows, their citations in survivors' neighbor lists
    * (scrubbed, NOT backfilled: the replacement lies beyond the
    * stored top-degree), and any entry-point seat. A historic walk
    * therefore serves the pre-delete graph TOPOLOGY minus the deleted
    * content — never the deleted ids themselves (tombstones apply to
    * every generation; history is not an escape hatch). The oracle
    * replays both walks: the head as a direct build on the live
    * relation (q191's text), the historic as the full-corpus graph
    * walked with only live vectors — equivalent to the engine's scrub
    * because a scrubbed citation and a citation whose vector no
    * longer exists are the same absence to the walk. A live `gens`
    * row (count + sum over [[graft.operators.NswIndex
    * .committedNswGenerations]]) pins the retention contract; the
    * vacuumed-generation refusal and ledger no-resurrection semantics
    * are spec-pinned (`StoreLifecycleSpec`).
    *
    * Scale shape: history is one retained generation directory (no
    * copy); a historic read adds one explode/re-aggregate over that
    * generation's cluster-partitioned graph — delta-priced by the
    * ledger size, zero cost on head reads (the ledger never touches
    * them). Above sf1.0 the fixture keeps the first ten ScaleUp
    * replicas (the q188/q34/q191 declared-cap pattern — pinned k=8
    * makes the graph build quadratic in |cell|); no-op at the three
    * gate SFs and sf1.0. */
  val q214NswTimeTravel: Q = (s, dir) => {
    import s.implicits._
    val e = corpus(s, dir).filter($"id" < 10000000000L)
    val store = Scratch.session("graft_nswtt", dir) { p =>
      val cent = coarseFit(s, e)
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      IvfIndex.save(cent, indexed, s"$p/flat")
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(indexed, degree = 4),
        graft.operators.NswIndex.entryPoints(indexed, cent), s"$p/nsw",
        retainGenerations = 2)
      val rebuilt = graft.operators.NswIndex.deleteFromNsw(s, s"$p/flat",
        s"$p/nsw", e.filter($"id" % 10 === 3).select($"id"), degree = 4,
        retainGenerations = 2)
      require(rebuilt >= 1, s"fixture must touch at least one cell, got $rebuilt")
      p
    }
    val nswDir = s"$store/nsw"
    val (cent2, idx2) = IvfIndex.load(s, s"$store/flat")
    val queries = querySample(e)
    val gens = graft.operators.NswIndex.committedNswGenerations(nswDir)
    def at(g: Long) = {
      val (graph, entries) =
        graft.operators.NswIndex.loadNswAt(s, nswDir, Some(g))
      graft.operators.NswIndex.search(s, queries, graph,
          idx2.select($"id", $"v", $"cluster"), cent2, entries,
          k = 5, nProbe = 2, ef = 8, rounds = 2)
        .select(lit(g).as("gen"), $"q_id", $"rank", $"n_id",
          ($"cos" + 0.0).as("cos"))
    }
    val gensRow = Seq((0L, -1L, gens.size, gens.sum, 0.0))
      .toDF("gen", "q_id", "rank", "n_id", "cos")
    at(1L).unionByName(at(2L)).unionByName(gensRow)
      .orderBy($"gen", $"q_id", $"rank")
  }

  val q214Sql: String = {
    def trim(src: String, gen: Int): String =
      s"""SELECT CAST($gen AS BIGINT) AS gen, q_id, rank, id AS n_id,
         |         round(cos, 4) + 0.0 AS cos FROM (
         |    SELECT q_id, id, cos, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, id ASC) AS INT) AS rank FROM $src)
         |  WHERE rank <= 5""".stripMargin
    s"""WITH $eCappedCte,
       |$qsCte,
       |${lloydIdxSql("e", "8")},
       |idxd AS MATERIALIZED (SELECT * FROM idx WHERE id % 10 <> 3),
       |${nswWalkBaseCtes("idxd")},
       |${nswRoundCtes("idxd", 1, "v0", "v0", 8, "")},
       |${nswRoundCtes("idxd", 2, "nv1", "nf1", 8, "")},
       |${nswWalkBaseCtes("idxd", "h", structRel = "idx")},
       |${nswRoundCtes("idxd", 1, "hv0", "hv0", 8, "h", "hgraph")},
       |${nswRoundCtes("idxd", 2, "hnv1", "hnf1", 8, "h", "hgraph")}
       |SELECT gen, q_id, rank, n_id, cos FROM (
       |  ${trim("hnv2", 1)}
       |  UNION ALL
       |  ${trim("nv2", 2)}
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(2 AS INT),
       |         CAST(3 AS BIGINT), 0.0)
       |ORDER BY gen, q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q192
  /** FILTERED flat-tier ANN search
    * ([[graft.operators.IvfIndex.searchFiltered]]) — the standard
    * production serving shape, attribute predicate ∧ vector top-k
    * (`WHERE label < 3 ORDER BY cosine LIMIT 5`): the label attribute
    * rides beside the vectors in the index relation, the predicate
    * applies INSIDE the probed cells BEFORE the trim, and the answer
    * is the exact top-5 of the matching members of the 2 probed cells
    * — a selective predicate can never starve the top-k the way
    * post-filtering a plain top-k does (with ~30% selectivity, plain
    * top-5-then-filter would average < 2 survivors). Oracle = the q39
    * probe replay with the filter on the candidate set. */
  val q192IvfFiltered: Q = (s, dir) => {
    import s.implicits._
    val (e, cent, indexed) = labeledIndex(s, dir)
    IvfIndex.searchFiltered(s, querySample(e), indexed, cent,
        k = 5, nProbe = 2, pred = $"label" < 3)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  val q192Sql: String =
    s"""WITH $eCte,
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |${lloydIdxSql("e", "8")},
       |$qsCte,
       |$probesSql,
       |cand AS (
       |  SELECT p.q_id, i.id AS n_id,
       |         ${dotSql("p.qv", "i.v")} / sqrt(${norm2Sql("p.qv")} * ${norm2Sql("i.v")}) AS cos
       |  FROM probes p JOIN idx i USING (cluster)
       |  JOIN lab ON lab.id = i.id
       |  WHERE lab.label < 3),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rank
       |  FROM cand)
       |SELECT q_id, rank, n_id, round(cos, 4) + 0.0 AS cos
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q193
  /** FILTERED NSW graph search
    * ([[graft.operators.NswIndex.searchFiltered]]) — the predicate on
    * the graph tier: the WALK stays unfiltered (beam connectivity must
    * not depend on the predicate — filtering the traversal disconnects
    * it exactly when the filter is selective), and the predicate
    * restricts the RESULT trim, so no non-matching row occupies a
    * result slot. The walk is deterministic, so the oracle replays the
    * full q184 CTE chain and applies the label filter to the final
    * visited set. */
  val q193NswFiltered: Q = (s, dir) => {
    import s.implicits._
    val (e, cent, indexed) = labeledIndex(s, dir)
    val graph = graft.operators.NswIndex.fitGraph(indexed, degree = 4)
      .localCheckpoint()
    val entries = graft.operators.NswIndex.entryPoints(indexed, cent)
    graft.operators.NswIndex.searchFiltered(s, querySample(e), graph, indexed, cent,
        entries, k = 5, nProbe = 2, ef = 8, rounds = 2, pred = $"label" < 3)
      .select($"q_id", $"rank", $"n_id", ($"cos" + 0.0).as("cos"))
      .orderBy($"q_id", $"rank")
  }
  val q193Sql: String =
    s"""WITH $eCte,
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |$qsCte,
       |${lloydIdxSql("e", "8")},
       |${nswWalkCtes("idx")}
       |SELECT q_id, rank, id AS n_id, round(cos, 4) + 0.0 AS cos FROM (
       |  SELECT v.q_id, v.id, v.cos, CAST(row_number() OVER (PARTITION BY v.q_id
       |    ORDER BY v.cos DESC, v.id ASC) AS INT) AS rank
       |  FROM nv2 v JOIN lab ON lab.id = v.id WHERE lab.label < 3)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q194
  /** NSW serving AUTO-TUNE ([[graft.operators.NswIndex.tuneWalk]]) —
    * the q134 pattern applied to the graph walk's two serving dials:
    * the q184 flat + graph stores are persisted, a held-out query
    * sample drives one recall@10 pass per candidate `(ef, rounds)`
    * setting (one shared brute-force truth), the CHEAPEST setting
    * (cost = ef·rounds, the walk's scored-vector budget) with avg
    * recall ≥ 0.6 is chosen — highest-recall fallback when none meets
    * the floor — and the whole tuning table persists WITH the graph
    * store. The gate reads the PERSISTED table back, so the store
    * round-trip, every walk's recall arithmetic AND the choice rule
    * are all on the hash; the oracle replays all four walks over the
    * shared base CTEs plus the choice. */
  val q194NswAutotune: Q = (s, dir) => {
    import s.implicits._
    // session-owned lifecycle cache (the q142 contract): build + save +
    // the four-setting tuning grid run ONCE per session; steady passes
    // read the PERSISTED tuning table (the serving artifact the gate
    // hashes), cold passes re-run the whole grid
    val nswDir = Scratch.session("q194", dir) { p =>
      val e = corpus(s, dir)
      val cent = coarseFit(s, e)
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      val fDir = s"$p/flat"
      val nDir = s"$p/nsw"
      IvfIndex.save(cent, indexed, fDir)
      graft.operators.NswIndex.saveNsw(
        graft.operators.NswIndex.fitGraph(indexed, degree = 4),
        graft.operators.NswIndex.entryPoints(indexed, cent), nDir)
      graft.operators.NswIndex.tuneWalk(s, fDir, nDir, querySample(e),
        k = 10, nProbe = 2,
        settings = Seq((10, 1), (10, 2), (16, 2), (16, 3)),
        recallFloor = 0.6): Unit
      nDir
    }
    s.read.parquet(s"$nswDir/tuning")
      .select($"ef", $"rounds", $"cost", $"n_queries", $"total_hits",
        $"avg_recall", $"min_recall", $"chosen")
      .orderBy($"ef", $"rounds")
  }
  val q194Sql: String = {
    val settings = Seq((10, 1), (10, 2), (16, 2), (16, 3))
    val chains = settings.zipWithIndex.map { case ((ef, ro), n) =>
      val p = s"t${n}_"
      val rounds = (1 to ro).map { i =>
        val (pv, pf) = if (i == 1) ("v0", "v0") else (s"${p}nv${i - 1}", s"${p}nf${i - 1}")
        nswRoundCtes("idx", i, pv, pf, ef, p)
      }.mkString(",\n")
      val recRow =
        s"""${p}top AS (
           |  SELECT q_id, id FROM (
           |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos DESC, id ASC) AS rn FROM ${p}nv$ro)
           |  WHERE rn <= 10),
           |${p}hit AS (
           |  SELECT q.q_id, count(t.id) AS n_hit
           |  FROM qs q LEFT JOIN (
           |    SELECT tt.q_id, tt.id FROM ${p}top tt
           |    JOIN truth tr ON tr.q_id = tt.q_id AND tr.n_id = tt.id) t
           |    ON t.q_id = q.q_id
           |  GROUP BY q.q_id)""".stripMargin
      val row =
        s"""SELECT CAST($ef AS INT) AS ef, CAST($ro AS INT) AS rounds,
           |       CAST(${ef.toLong * ro} AS BIGINT) AS cost,
           |       count(*) AS n_queries, CAST(sum(n_hit) AS BIGINT) AS total_hits,
           |       round(avg(n_hit / 10.0), 4) AS avg_recall,
           |       round(min(n_hit / 10.0), 4) AS min_recall
           |FROM ${p}hit""".stripMargin
      (s"$rounds,\n$recRow", row)
    }
    s"""WITH $eCte,
       |$qsMatCte,
       |${lloydIdxSql("e", "8")},
       |${nswWalkBaseCtes("idx")},
       |truth AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, i.id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${nswCos("q.qv", "i.v")} DESC, i.id ASC) AS rank
       |    FROM qs q CROSS JOIN idx i)
       |  WHERE rank <= 10),
       |${chains.map(_._1).mkString(",\n")},
       |rec AS MATERIALIZED (
       |${chains.map(_._2).mkString("\nUNION ALL\n")}),
       |pick AS (
       |  SELECT ef, rounds FROM rec
       |  ORDER BY (CASE WHEN avg_recall >= 0.6 THEN 0 ELSE 1 END),
       |           (CASE WHEN avg_recall >= 0.6 THEN CAST(cost AS DOUBLE)
       |                 ELSE -avg_recall END),
       |           cost, ef, rounds
       |  LIMIT 1)
       |SELECT r.ef, r.rounds, r.cost, r.n_queries, r.total_hits,
       |       r.avg_recall, r.min_recall,
       |       (r.ef = p.ef AND r.rounds = p.rounds) AS chosen
       |FROM rec r CROSS JOIN pick p
       |ORDER BY r.ef, r.rounds""".stripMargin
  }

  // ---------------------------------------------------------------- q197
  /** FILTERED IVFADC serving
    * ([[graft.operators.PqIndex.ivfAdcSearchFiltered]]) — the
    * predicate on the full production composition, completing the
    * filtered ladder (q192 flat, q193 graph, this tier): the label
    * predicate restricts the ADC candidates inside the probed cells
    * BEFORE the approximate trim, so matching rows own every ADC and
    * rerank slot. Oracle = [[ivfAdcSql]] over the filtered
    * index relation (candidates and rerank both filter — the exact
    * q190 idxd pattern with an attribute join instead of an id set). */
  val q197AdcFiltered: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables.embeddings(s, dir)
    val e = idVectors(raw)
    val (cent, indexed, cb, codesIdx) = twoTierBuild(s, e)
    val fullAttr = fullTier(indexed)
      .join(raw.select($"vec_id".as("id"), $"label"), Seq("id"))
      .select($"cluster", $"id", $"v", $"label")
    PqIndex.ivfAdcSearchFiltered(s, querySample(e), codesIdx,
        fullAttr, cent, cb, m = 4, subDim = 16, k = 5, rerank = 10,
        nProbe = 2, pred = $"label" < 3)
      .orderBy($"q_id", $"rank")
  }
  val q197Sql: String =
    s"""WITH $eCte,
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |$qsCte,
       |${pqFitSql("e")},
       |${lloydIdxSql("e", "8")},
       |idxf AS MATERIALIZED (
       |  SELECT i.* FROM idx i JOIN lab ON lab.id = i.id WHERE lab.label < 3),
       |${ivfAdcSql("idxf")}""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Operating-point STALENESS REFRESH
    * ([[graft.operators.NswIndex.refreshWalkTuning]]) — closing the
    * q194 loop: a tuned `(ef, rounds)` point is only valid for the
    * corpus it was measured on, and lifecycle verbs silently
    * invalidate it. The gate: tune on the base corpus (floor-meeting
    * cheapest point chosen), append a DRIFTING delta (every vector
    * re-appears under a new id with +0.1 added to every component — a
    * shifted distribution that doubles cell density), then refresh
    * against the drifted workload (the shifted twins of the original
    * sample): the stored point's recall@10 is re-measured, found
    * below the floor, logged to the `tuning_check` audit table, and
    * the full settings grid re-measured and re-chosen. Output =
    * base tuning ∪ check row ∪ refreshed tuning, so the store
    * round-trips, every walk's recall arithmetic, the staleness rule
    * AND both choice rules are all on the hash; the oracle replays
    * all of it (two corpus states × the settings grid, the q186
    * append ≡ rebuild invariant collapsing the append to a direct
    * graph build over the union). */
  val q199NswRetune: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.{IvfIndex, NswIndex}
    def phaseRows(df: DataFrame, phase: String, flag: org.apache.spark.sql.Column) =
      df.select(lit(phase).as("phase"), $"ef", $"rounds", $"cost",
        $"avg_recall", $"min_recall", flag.as("flag"))
    // session-owned lifecycle cache (the q142 contract): a deployment
    // tunes ONCE and every later session reads the persisted operating
    // point + audit trail — the steady bench pass models that (the
    // fit/tune/append/refresh lifecycle amortized away, the table
    // reads measured); Bench clears this before cold passes so cold
    // still prices the full lifecycle. The pre-refresh base tuning is
    // part of the audit trail the steady read needs, so the builder
    // snapshots it beside the store before the refresh overwrites it.
    val nswDir = Scratch.session("graft_retune", dir) { p =>
      // q191's declared replica cap (no-op at gate SFs + sf1.0): the
      // pinned-k graph fixture is per-cell quadratic above sf1.0
      val e = corpus(s, dir).filter($"id" < 10000000000L)
      val cent = coarseFit(s, e)
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      val flatDir = s"$p/flat"
      val nsw = s"$p/nsw"
      IvfIndex.save(cent, indexed, flatDir)
      NswIndex.saveNsw(NswIndex.fitGraph(indexed, degree = 4),
        NswIndex.entryPoints(indexed, cent), nsw)
      val settings = Seq((8, 1), (16, 2), (24, 3))
      NswIndex.tuneWalk(s, flatDir, nsw, querySample(e), k = 5, nProbe = 2,
        settings, recallFloor = 0.65): Unit
      phaseRows(s.read.parquet(s"$nsw/tuning"), "base", $"chosen")
        .coalesce(1).write.mode("overwrite").parquet(s"$nsw/bench_base_tuning")
      val delta = driftDelta(e)
      val idxDelta = IvfIndex.assign(delta, cent).localCheckpoint()
      idxDelta.write.mode("append").partitionBy("cluster")
        .parquet(s"$flatDir/index")
      s.catalog.refreshByPath(s"$flatDir/index")
      NswIndex.appendToNsw(s, nsw, indexed, idxDelta, cent, degree = 4)
      // the workload drifts WITH the corpus: the shifted twins of the
      // original held-out sample drive the staleness check
      NswIndex.refreshWalkTuning(s, flatDir, nsw, Some(driftSample(delta))): Unit
      nsw
    }
    val base = s.read.parquet(s"$nswDir/bench_base_tuning")
    val check = phaseRows(s.read.parquet(s"$nswDir/tuning_check"),
      "check", $"stale")
    val fin = phaseRows(s.read.parquet(s"$nswDir/tuning"), "final", $"chosen")
    base.unionByName(check).unionByName(fin)
      .orderBy($"phase", $"ef", $"rounds")
  }

  /** q199 oracle: the q194 replay machinery instantiated TWICE — the
    * base corpus (prefix-free CTEs) and the post-append corpus
    * (`d`-prefixed, with the appended graph collapsed to a direct
    * build over `idx2` by the q186 append ≡ rebuild invariant) — plus
    * the staleness rule (the stored point's drifted recall vs the
    * floor) and the conditional final table (refreshed when stale,
    * untouched otherwise). */
  val q199Sql: String = {
    val settings = Seq((8, 1), (16, 2), (24, 3))
    val floor = "0.65"
    def chains(sp: String, idxRel: String, qsRel: String, truthRel: String,
               v0Rel: String, graphRel: String): (String, String) = {
      val parts = settings.zipWithIndex.map { case ((ef, ro), n) =>
        val p = s"${sp}t${n}_"
        val rounds = (1 to ro).map { i =>
          val (pv, pf) =
            if (i == 1) (v0Rel, v0Rel)
            else (s"${p}nv${i - 1}", s"${p}nf${i - 1}")
          nswRoundCtes(idxRel, i, pv, pf, ef, p, graphRel, qsRel)
        }.mkString(",\n")
        val recRow =
          s"""${p}top AS (
             |  SELECT q_id, id FROM (
             |    SELECT q_id, id, row_number() OVER (PARTITION BY q_id
             |      ORDER BY cos DESC, id ASC) AS rn FROM ${p}nv$ro)
             |  WHERE rn <= 5),
             |${p}hit AS (
             |  SELECT q.q_id, count(t.id) AS n_hit
             |  FROM $qsRel q LEFT JOIN (
             |    SELECT tt.q_id, tt.id FROM ${p}top tt
             |    JOIN $truthRel tr ON tr.q_id = tt.q_id AND tr.n_id = tt.id) t
             |    ON t.q_id = q.q_id
             |  GROUP BY q.q_id)""".stripMargin
        val row =
          s"""SELECT CAST($ef AS INT) AS ef, CAST($ro AS INT) AS rounds,
             |       CAST(${ef.toLong * ro} AS BIGINT) AS cost,
             |       round(avg(n_hit / 5.0), 4) AS avg_recall,
             |       round(min(n_hit / 5.0), 4) AS min_recall
             |FROM ${p}hit""".stripMargin
        (s"$rounds,\n$recRow", row)
      }
      (parts.map(_._1).mkString(",\n"),
        parts.map(_._2).mkString("\nUNION ALL\n"))
    }
    def pickSql(rec: String): String =
      s"""SELECT ef, rounds FROM $rec
         |ORDER BY (CASE WHEN avg_recall >= $floor THEN 0 ELSE 1 END),
         |         (CASE WHEN avg_recall >= $floor THEN CAST(cost AS DOUBLE)
         |               ELSE -avg_recall END),
         |         cost, ef, rounds
         |LIMIT 1""".stripMargin
    val (bChains, bRows) = chains("b", "idx", "qs", "truth", "v0", "graph")
    val (dChains, dRows) = chains("d", "idx2", "qs2", "dtruth", "dv0", "dgraph")
    s"""WITH $eCappedCte,
       |$qsMatCte,
       |${lloydIdxSql("e", "8")},
       |${nswWalkBaseCtes("idx")},
       |truth AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, i.id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${nswCos("q.qv", "i.v")} DESC, i.id ASC) AS rank
       |    FROM qs q CROSS JOIN idx i)
       |  WHERE rank <= 5),
       |$bChains,
       |brec AS MATERIALIZED (
       |$bRows),
       |bpick AS (${pickSql("brec")}),
       |$driftDeltaCte,
       |$driftIdxSql,
       |qs2 AS MATERIALIZED (SELECT id AS q_id, v AS qv FROM delta WHERE id < 100010),
       |${nswWalkBaseCtes("idx2", "d", "qs2", "cent")},
       |dtruth AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, i.id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${nswCos("q.qv", "i.v")} DESC, i.id ASC) AS rank
       |    FROM qs2 q CROSS JOIN idx2 i)
       |  WHERE rank <= 5),
       |$dChains,
       |drec AS MATERIALIZED (
       |$dRows),
       |dpick AS (${pickSql("drec")}),
       |stale AS (
       |  SELECT (d.avg_recall < $floor) AS st
       |  FROM drec d JOIN bpick p ON d.ef = p.ef AND d.rounds = p.rounds)
       |SELECT phase, ef, rounds, cost, avg_recall, min_recall, flag FROM (
       |  SELECT 'base' AS phase, r.ef, r.rounds, r.cost, r.avg_recall, r.min_recall,
       |         (r.ef = p.ef AND r.rounds = p.rounds) AS flag
       |  FROM brec r CROSS JOIN bpick p
       |  UNION ALL
       |  SELECT 'check', d.ef, d.rounds, d.cost, d.avg_recall, d.min_recall, s.st
       |  FROM drec d JOIN bpick p ON d.ef = p.ef AND d.rounds = p.rounds
       |  CROSS JOIN stale s
       |  UNION ALL
       |  SELECT 'final', r.ef, r.rounds, r.cost, r.avg_recall, r.min_recall,
       |         (r.ef = p.ef AND r.rounds = p.rounds)
       |  FROM drec r CROSS JOIN dpick p CROSS JOIN stale s WHERE s.st
       |  UNION ALL
       |  SELECT 'final', r.ef, r.rounds, r.cost, r.avg_recall, r.min_recall,
       |         (r.ef = p.ef AND r.rounds = p.rounds)
       |  FROM brec r CROSS JOIN bpick p CROSS JOIN stale s WHERE NOT s.st)
       |ORDER BY phase, ef, rounds""".stripMargin
  }

  // ---------------------------------------------------------------- q203
  /** Two-tier operating-point + CODEBOOK staleness refresh
    * ([[graft.operators.PqIndex.refreshTwoTierTuning]]) — the q199
    * loop closed on the PQ tier, which drifts on TWO surfaces: the
    * probe width tuned at build time ([[graft.operators.PqIndex
    * .tuneTwoTierNProbe]]) and the codebook fit itself
    * ([[graft.operators.PqIndex.appendToTwoTier]] appends WITHOUT
    * refitting, so the fixed code budget reconstructs drifted mass
    * progressively worse). The gate: build + tune on the base corpus
    * (cheapest floor-meeting width chosen; fit-time mean quantization
    * error persisted as the codebook baseline), append the q199
    * drifting delta (every vector's shifted twin, +0.1 per
    * component), then refresh against the drifted workload: the
    * stored width's recall@5 is re-measured and audited, the staleness
    * rule re-tunes the grid when it fell below the floor, and the
    * live store's mean quantization error vs the baseline gates the
    * REFIT RECOMMENDATION flag. Output = base tuning ∪ check row
    * (with the drifted error) ∪ drift row (baseline + refit flag) ∪
    * final tuning — store round-trip, every search's recall
    * arithmetic, both choice rules, the staleness rule AND the
    * refit rule all on one hash. The oracle replays both corpus
    * states (append ≡ rebuild with the same models collapses the
    * appended store to a direct encode of the union under the
    * base-fitted codebooks) and both ordered-fold error means. */
  /** q203's shared fixture parameters — ONE definition for the Scala
    * side and the oracle text. `rerank` is set high enough that the
    * exact rerank absorbs the ADC approximation and recall@5 becomes
    * a clean function of probe COVERAGE (the width dial the tuning
    * grid actually turns); with the q139 rerank=10 the curve is flat
    * in width (ADC quality bottlenecks it) and no floor separates the
    * grid. */
  private val q203Widths = Seq(1, 2, 4)
  private val q203Rerank = 40
  private val q203Floor = 0.8

  private def ttRecRows(df: DataFrame, phase: String,
                        flag: org.apache.spark.sql.Column): DataFrame =
    df.select(lit(phase).as("phase"), col("n_probe"), col("avg_recall"),
      col("min_recall"), lit(null).cast("double").as("mean_qerr"),
      flag.as("flag"))

  /** Shared builder for the two-tier retune-triad fixtures (q203 raw
    * regime / q205 residual regime): build + tune the store at the
    * regime, snapshot the pre-refresh base tuning beside it, append
    * the drifting delta (shifted twins), refresh against the drifted
    * sample. Builds at `store` (a [[Scratch.session]] dir) and
    * returns it. Session-owned lifecycle cache —
    * the q199/q142 contract: cold bench passes price the full
    * fit/tune/append/refresh lifecycle, the steady pass reads the
    * persisted operating point + audit trail a long-lived deployment
    * serves from. */
  private def ttRetuneFixture(s: SparkSession, dir: String, store: String,
                              residual: Boolean): String = {
    val e = corpus(s, dir)
    ttBuildTuned(s, e, store, residual)
    ttRecRows(s.read.parquet(s"$store/tuning"), "base", col("chosen"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$store/bench_base_tuning")
    val delta = ttAppendDrift(s, e, store, residual)
    // the workload drifts WITH the corpus: shifted twins of the
    // original held-out sample drive the staleness check
    PqIndex.refreshTwoTierTuning(s, store, Some(driftSample(delta))): Unit
    store
  }

  /** The build → tune prefix of the q203–q206 fixtures: the
    * [[coarseFit]] over `e`, its checkpointed cell assignment, the
    * [[pqTier]] of the raw vectors or (residual regime, q144) of
    * `v − centroid`, the store saved at `store` and its probe width
    * tuned over the [[querySample]]. */
  private def ttBuildTuned(s: SparkSession, e: DataFrame, store: String,
                           residual: Boolean): Unit = {
    val cent = coarseFit(s, e)
    val indexed = IvfIndex.assign(e, cent).localCheckpoint()
    val encSrc =
      if (residual) PqIndex.residuals(indexed, cent).select(col("id"), col("v"))
      else e
    val (cb, codesIdx) = pqTier(s, encSrc, indexed)
    PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed), store)
    PqIndex.tuneTwoTierNProbe(s, store, querySample(e), k = 5,
      rerank = q203Rerank, nProbes = q203Widths, recallFloor = q203Floor,
      m = 4, subDim = 16, residual = residual): Unit
  }

  /** Appends the [[driftDelta]] of `e` to the two-tier store at
    * `store` without refit and returns the delta. */
  private def ttAppendDrift(s: SparkSession, e: DataFrame, store: String,
                            residual: Boolean): DataFrame = {
    val delta = driftDelta(e)
    PqIndex.appendToTwoTier(s, delta, store, m = 4, subDim = 16,
      residual = residual): Unit
    delta
  }

  /** Phase-row assembly shared by q203/q205: base tuning snapshot ∪
    * staleness-check row ∪ drift/refit row ∪ final tuning. */
  private def ttRetunePhases(s: SparkSession, p: String): DataFrame = {
    import s.implicits._
    val base = s.read.parquet(s"$p/bench_base_tuning")
    val ck = s.read.parquet(s"$p/tuning_check")
    val check = ck.select(lit("check").as("phase"), $"n_probe",
      $"avg_recall", $"min_recall", $"mean_qerr", $"stale".as("flag"))
    val drift = ck.select(lit("drift").as("phase"),
      lit(null).cast("int").as("n_probe"),
      lit(null).cast("double").as("avg_recall"),
      lit(null).cast("double").as("min_recall"),
      $"fit_qerr".as("mean_qerr"), $"refit_recommended".as("flag"))
    val fin = ttRecRows(s.read.parquet(s"$p/tuning"), "final", $"chosen")
    base.unionByName(check).unionByName(drift).unionByName(fin)
      .orderBy($"phase", $"n_probe")
  }

  val q203TwoTierRetune: Q = (s, dir) => {
    val p = Scratch.session("graft_ttretune", dir)(
      ttRetuneFixture(s, dir, _, residual = false))
    ttRetunePhases(s, p)
  }

  /** One probe→ADC→rerank→top-5 chain of the two-tier serving replay
    * at probe width `nProbe`, CTE names `p`-prefixed so q203 can
    * instantiate the tuning grid over BOTH corpus states in one
    * query (the [[nswRoundCtes]] pattern; same arithmetic text as
    * [[ivfAdcSql]] — fixed-order lookup folds, same tie-breaks). */
  private def adcTopKCtes(p: String, idxRel: String, qsRel: String,
                          dtabRel: String, nProbe: Int,
                          rerank: Int): String =
    s"""${probeSql(s"${p}qsc", s"${p}pr", qsRel, "cent", nProbe)},
       |${p}ac AS (
       |  SELECT pp.q_id, i.id,
       |         $adcDistSql AS ad2
       |  FROM ${p}pr pp
       |  JOIN $idxRel i USING (cluster)
       |  JOIN pq_codes c ON c.id = i.id
       |  JOIN $dtabRel d ON d.q_id = pp.q_id),
       |${adcTopKRerankCtes(p, idxRel, qsRel, rerank)}""".stripMargin

  /** The exact-rerank tail of [[adcTopKCtes]] and [[adcTopKResidCtes]]:
    * the ADC top-`rerank` of `${p}ac`, reranked by exact L2 against
    * `idxRel`, trimmed to the top-5 `${p}top(q_id, n_id)`. */
  private def adcTopKRerankCtes(p: String, idxRel: String, qsRel: String,
                                rerank: Int): String =
    s"""${p}at AS (
       |  SELECT q_id, id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ad2 ASC, id ASC) AS rn FROM ${p}ac)
       |  WHERE rn <= $rerank),
       |${p}rc AS (
       |  SELECT a.q_id, a.id AS n_id, ${l2SqSql("q.qv", "i.v")} AS d2
       |  FROM ${p}at a JOIN $qsRel q ON q.q_id = a.q_id JOIN $idxRel i ON i.id = a.id),
       |${p}top AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d2 ASC, n_id ASC) AS rank FROM ${p}rc)
       |  WHERE rank <= 5)""".stripMargin

  /** The RESIDUAL-regime twin of [[adcTopKCtes]] (q144's serving
    * arithmetic under the q203 grid machinery): the query side
    * subtracts each PROBED cell's centroid before building its
    * distance tables, so the tables are keyed `(q_id, cluster)` and
    * built inside the chain (they depend on the probed cells — there
    * is no shared query-level `dtab` relation to pass in). Same
    * exact-rerank tail as the raw chain. */
  private def adcTopKResidCtes(p: String, idxRel: String, qsRel: String,
                               nProbe: Int, rerank: Int): String =
    s"""${probeSql(s"${p}qsc", s"${p}pr", qsRel, "cent", nProbe)},
       |${p}rq AS (
       |  SELECT pp.q_id, pp.cluster,
       |         list_transform(generate_series(1, len(pp.qv)), j -> pp.qv[j] - c.centroid[j]) AS qv
       |  FROM ${p}pr pp JOIN cent c USING (cluster)),
       |${p}rqsub AS (
       |  SELECT q_id, cluster, s.sub, list_slice(qv, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
       |  FROM ${p}rq CROSS JOIN subs s),
       |${p}rdt AS (
       |  SELECT t.q_id, t.cluster, t.sub, c.code, ${l2SqSql("t.sv", "c.centroid")} AS d2
       |  FROM ${p}rqsub t JOIN pq_cb c USING (sub)),
       |${p}rdrows AS (SELECT q_id, cluster, sub, list(d2 ORDER BY code) AS drow FROM ${p}rdt GROUP BY q_id, cluster, sub),
       |${p}rdtab AS (SELECT q_id, cluster, list(drow ORDER BY sub) AS dtab FROM ${p}rdrows GROUP BY q_id, cluster),
       |${p}ac AS (
       |  SELECT pp.q_id, i.id,
       |         $adcDistSql AS ad2
       |  FROM ${p}pr pp
       |  JOIN $idxRel i USING (cluster)
       |  JOIN pq_codes c ON c.id = i.id
       |  JOIN ${p}rdtab d ON d.q_id = pp.q_id AND d.cluster = pp.cluster),
       |${adcTopKRerankCtes(p, idxRel, qsRel, rerank)}""".stripMargin

  /** Tuning-grid chains for a two-tier oracle replay: one serving
    * chain + recall row per width in [[q203Widths]]. `chain(p, np)`
    * supplies the prefixed probe→ADC→rerank→top-5 CTE text at width
    * `np` ([[adcTopKCtes]] for the raw regime, [[adcTopKResidCtes]]
    * for residual) — shared by q203/q205 so the grid text cannot
    * drift between regimes. */
  private def ttGridChains(sp: String, qsRel: String, truthRel: String,
                           chain: (String, Int) => String): (String, String) = {
    val parts = q203Widths.map { np =>
      val p = s"${sp}w${np}_"
      val hit =
        s"""${p}hit AS (
           |  SELECT q.q_id, count(t.n_id) AS n_hit
           |  FROM $qsRel q LEFT JOIN (
           |    SELECT tt.q_id, tt.n_id FROM ${p}top tt
           |    JOIN $truthRel tr ON tr.q_id = tt.q_id AND tr.n_id = tt.n_id) t
           |    ON t.q_id = q.q_id
           |  GROUP BY q.q_id)""".stripMargin
      val row =
        s"""SELECT CAST($np AS INT) AS n_probe,
           |       round(avg(n_hit / 5.0), 4) AS avg_recall,
           |       round(min(n_hit / 5.0), 4) AS min_recall
           |FROM ${p}hit""".stripMargin
      (s"${chain(p, np)},\n$hit", row)
    }
    (parts.map(_._1).mkString(",\n"),
      parts.map(_._2).mkString("\nUNION ALL\n"))
  }

  /** tuneTwoTierNProbe's choice rule: cheapest width whose ROUNDED avg
    * recall meets the floor, else the widest. */
  private def ttPickSql(rec: String): String = {
    val floor = q203Floor.toString
    s"""SELECT n_probe FROM $rec
       |ORDER BY (CASE WHEN avg_recall >= $floor THEN 0 ELSE 1 END),
       |         (CASE WHEN avg_recall >= $floor THEN n_probe
       |               ELSE -n_probe END)
       |LIMIT 1""".stripMargin
  }

  private def ttTruthSql(name: String, qsRel: String, idxRel: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, i.id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${l2SqSql("q.qv", "i.v")} ASC, i.id ASC) AS rank
       |    FROM $qsRel q CROSS JOIN $idxRel i)
       |  WHERE rank <= 5)""".stripMargin

  /** Ordered-fold mean quantization error over `idxRel`'s rows:
    * per-cell id-ordered partial sums, then a cluster-ordered fold
    * (reads `qe_row` built from the shared `pq_s1`). */
  private def ttQerrSql(p: String, idxRel: String): String =
    s"""${qCellSql(p, idxRel)},
       |${p}qfit AS (
       |  SELECT round(list_reduce(list_prepend(0.0, list(s ORDER BY cluster)), (a, b) -> a + b)
       |           / sum(n), 4) AS mean_qerr
       |  FROM ${p}q_cell)""".stripMargin

  /** The retune-triad tail shared by q203/q205: the staleness rule at
    * the stored point, the refit rule over the two error means, and
    * the base ∪ check ∪ drift ∪ final phase rows. */
  private def ttRetuneTailSql: String = {
    val floor = q203Floor.toString
    s"""stale AS (
       |  SELECT (d.avg_recall < $floor) AS st
       |  FROM drec d JOIN bpick p ON d.n_probe = p.n_probe),
       |refit AS (SELECT (u.mean_qerr > 1.05 * b.mean_qerr) AS rf
       |          FROM uqfit u CROSS JOIN bqfit b)
       |SELECT phase, n_probe, avg_recall, min_recall, mean_qerr, flag FROM (
       |  SELECT 'base' AS phase, r.n_probe, r.avg_recall, r.min_recall,
       |         CAST(NULL AS DOUBLE) AS mean_qerr,
       |         (r.n_probe = p.n_probe) AS flag
       |  FROM brec r CROSS JOIN bpick p
       |  UNION ALL
       |  SELECT 'check', d.n_probe, d.avg_recall, d.min_recall, u.mean_qerr, s.st
       |  FROM drec d JOIN bpick p ON d.n_probe = p.n_probe
       |  CROSS JOIN uqfit u CROSS JOIN stale s
       |  UNION ALL
       |  SELECT 'drift', CAST(NULL AS INT), CAST(NULL AS DOUBLE),
       |         CAST(NULL AS DOUBLE), b.mean_qerr, r.rf
       |  FROM bqfit b CROSS JOIN refit r
       |  UNION ALL
       |  SELECT 'final', r.n_probe, r.avg_recall, r.min_recall,
       |         CAST(NULL AS DOUBLE), (r.n_probe = p.n_probe)
       |  FROM drec r CROSS JOIN dpick p CROSS JOIN stale s WHERE s.st
       |  UNION ALL
       |  SELECT 'final', r.n_probe, r.avg_recall, r.min_recall,
       |         CAST(NULL AS DOUBLE), (r.n_probe = p.n_probe)
       |  FROM brec r CROSS JOIN bpick p CROSS JOIN stale s WHERE NOT s.st)
       |ORDER BY phase, n_probe""".stripMargin
  }

  /** The q203/q205 oracle body after the corpus states: both exact-L2
    * truths, the base (`b`) and drifted (`d`) tuning grids of
    * [[ttGridChains]] with their recall tables and choice rules, both
    * quantization-error means and [[ttRetuneTailSql]]. */
  private def ttRetuneSql(b: (String, String), d: (String, String)): String =
    s"""${ttTruthSql("btruth", "qs", "idx")},
       |${ttTruthSql("dtruth", "qs2", "idx2")},
       |${b._1},
       |brec AS MATERIALIZED (
       |${b._2}),
       |bpick AS (${ttPickSql("brec")}),
       |${d._1},
       |drec AS MATERIALIZED (
       |${d._2}),
       |dpick AS (${ttPickSql("drec")}),
       |$qeRowSql,
       |${ttQerrSql("b", "idx")},
       |${ttQerrSql("u", "idx2")},
       |$ttRetuneTailSql""".stripMargin

  /** The q204/q206 result: the re-tuned grid `rrec` flagged by `rpick`
    * ∪ the reset baseline `qfit`. */
  private def ttRefitSelectSql: String =
    """SELECT phase, n_probe, avg_recall, min_recall, mean_qerr, n_rows, flag FROM (
      |  SELECT 'refit_tuning' AS phase, r.n_probe, r.avg_recall, r.min_recall,
      |         CAST(NULL AS DOUBLE) AS mean_qerr, CAST(NULL AS BIGINT) AS n_rows,
      |         (r.n_probe = p.n_probe) AS flag
      |  FROM rrec r CROSS JOIN rpick p
      |  UNION ALL
      |  SELECT 'refit_baseline', CAST(NULL AS INT), CAST(NULL AS DOUBLE),
      |         CAST(NULL AS DOUBLE), q.mean_qerr, q.n_rows, FALSE
      |  FROM qfit q)
      |ORDER BY phase, n_probe""".stripMargin

  /** q203 oracle: the q141 fit replay instantiated once (fit on the
    * base, ENCODE over the union — append ≡ rebuild with the same
    * models), the tuning grid chains over both corpus states, exact-L2
    * truths, both recall tables, both choice rules, the staleness
    * rule, and the two ordered-fold quantization-error means feeding
    * the refit rule. */
  val q203Sql: String = {
    val bGrid = ttGridChains("b", "qs", "btruth",
      (p, np) => adcTopKCtes(p, "idx", "qs", "pq_dtab", np, q203Rerank))
    val dGrid = ttGridChains("d", "qs2", "dtruth",
      (p, np) => adcTopKCtes(p, "idx2", "qs2", "dpq_dtab", np, q203Rerank))
    s"""WITH $eCte,
       |$qsMatCte,
       |$driftDeltaCte,
       |u AS MATERIALIZED (SELECT * FROM e UNION ALL SELECT * FROM delta),
       |qs2 AS MATERIALIZED (SELECT id AS q_id, v AS qv FROM delta WHERE id < 100010),
       |${pqCodebookSql("e", "u")},
       |${pqDtabSqlFor("", "qs")},
       |${pqDtabSqlFor("d", "qs2")},
       |${lloydIdxSql("e", "8")},
       |$driftIdxSql,
       |${ttRetuneSql(bGrid, dGrid)}""".stripMargin
  }

  // ---------------------------------------------------------------- q205
  /** RESIDUAL-regime staleness triad — q203's detect → recommend loop
    * run through q144's encoding ([[graft.operators.PqIndex]] with
    * `residual = true`): codebooks fitted on `v − centroid(cluster)`,
    * the index stores residual codes, and every serving pass builds
    * per-(query, probed-cell) distance tables. The more fragile
    * regime — the distance tables are keyed by cluster, so a stale
    * operating point and a drifted codebook fit surface through
    * different arithmetic than the raw path; this gate pins the whole
    * loop (base grid, stale check at the stored point, refit flag
    * against the residual-error baseline, re-chosen table) on one
    * hash. The oracle replays BOTH corpus states in the residual
    * arithmetic: fit on base residuals, encode over union residuals
    * (append ≡ rebuild with the same models), residual grid chains,
    * and both ordered-fold residual-reconstruction error means. */
  val q205TwoTierResidRetune: Q = (s, dir) => {
    val p = Scratch.session("graft_ttrretune", dir)(
      ttRetuneFixture(s, dir, _, residual = true))
    ttRetunePhases(s, p)
  }

  val q205Sql: String = {
    val bGrid = ttGridChains("b", "qs", "btruth",
      (p, np) => adcTopKResidCtes(p, "idx", "qs", np, q203Rerank))
    val dGrid = ttGridChains("d", "qs2", "dtruth",
      (p, np) => adcTopKResidCtes(p, "idx2", "qs2", np, q203Rerank))
    s"""WITH $eCte,
       |$qsMatCte,
       |$driftDeltaCte,
       |qs2 AS MATERIALIZED (SELECT id AS q_id, v AS qv FROM delta WHERE id < 100010),
       |${lloydIdxSql("e", "8")},
       |$driftIdxSql,
       |bresid AS MATERIALIZED (
       |${residSql("idx")}),
       |dresid AS (
       |${residSql("didx")}),
       |uresid AS MATERIALIZED (
       |  SELECT * FROM bresid UNION ALL SELECT * FROM dresid),
       |${pqCodebookSql("bresid", "uresid")},
       |${ttRetuneSql(bGrid, dGrid)}""".stripMargin
  }

  // ---------------------------------------------------------------- q204
  /** Two-tier codebook REFIT ([[graft.operators.PqIndex
    * .refitTwoTier]]) — the automated remedy q203's refit
    * recommendation names, closing the drift loop end-to-end:
    * detect (q203) → recommend → REFIT. The gate: build + tune on the
    * base corpus, append the drifting delta (q199's shifted twins —
    * the state whose quantization error q203 proves exceeds the
    * baseline), then refit: NEW codebooks fitted over the live union
    * (coarse centroids unchanged — they are the cell layout), every
    * row re-encoded, a new generation committed, the drift baseline
    * RESET to the fresh fit, and the width re-tuned at the persisted
    * provenance over the persisted held-out sample. After the refit
    * the store must equal a DIRECT build over the union with a fresh
    * codebook fit — so the oracle needs NO trace of the pre-refit
    * codebooks: it replays the union fit (seeds from the union's
    * first ids), the full tuning grid under the new codebooks, the
    * choice rule, and the new ordered-fold error baseline. Output =
    * post-refit tuning table ∪ baseline row on one hash. */
  /** Shared builder for the two-tier refit fixtures (q204 raw / q206
    * residual): build + tune at the regime, append the drifting
    * delta, then [[graft.operators.PqIndex.refitTwoTier]]. Builds
    * at and returns `store`. Session-cache contract as [[ttRetuneFixture]]:
    * cold passes price the full build/tune/append/refit lifecycle,
    * steady reads the post-refit store a deployment serves from. */
  private def ttRefitFixture(s: SparkSession, dir: String, store: String,
                             residual: Boolean): String = {
    val e = corpus(s, dir)
    ttBuildTuned(s, e, store, residual)
    ttAppendDrift(s, e, store, residual): Unit
    PqIndex.refitTwoTier(s, store, m = 4, subDim = 16, ks = 16,
      iterations = 1, residual = residual)
    store
  }

  /** Post-refit phase rows shared by q204/q206: re-tuned grid ∪ the
    * reset drift baseline. */
  private def ttRefitPhases(s: SparkSession, p: String): DataFrame = {
    import s.implicits._
    val fin = s.read.parquet(s"$p/tuning")
      .select(lit("refit_tuning").as("phase"), $"n_probe", $"avg_recall",
        $"min_recall", lit(null).cast("double").as("mean_qerr"),
        lit(null).cast("long").as("n_rows"), $"chosen".as("flag"))
    val baseline = s.read.parquet(s"$p/codebook_fit")
      .select(lit("refit_baseline").as("phase"),
        lit(null).cast("int").as("n_probe"),
        lit(null).cast("double").as("avg_recall"),
        lit(null).cast("double").as("min_recall"),
        $"mean_qerr", $"n_rows", lit(false).as("flag"))
    fin.unionByName(baseline).orderBy($"phase", $"n_probe")
  }

  val q204TwoTierRefit: Q = (s, dir) => {
    val p = Scratch.session("graft_ttrefit", dir)(
      ttRefitFixture(s, dir, _, residual = false))
    ttRefitPhases(s, p)
  }

  /** q204 oracle: the union-state machinery of q203 with the codebook
    * fit ITSELF over the union (refit ≡ direct build with a fresh
    * fit — the pre-refit codebooks leave no trace): union fit+encode,
    * the tuning grid under the new codebooks over the persisted base
    * sample, the choice rule, and the reset ordered-fold baseline. */
  val q204Sql: String = {
    val floor = q203Floor.toString
    val (chains, rows) = ttGridChains("r", "qs", "rtruth",
      (p, np) => adcTopKCtes(p, "idx2", "qs", "pq_dtab", np, q203Rerank))
    s"""WITH $eCte,
       |$qsMatCte,
       |$driftDeltaCte,
       |u AS MATERIALIZED (SELECT * FROM e UNION ALL SELECT * FROM delta),
       |${pqCodebookSql("u")},
       |${pqDtabSqlFor("", "qs")},
       |${lloydIdxSql("e", "8")},
       |$driftIdxSql,
       |${ttTruthSql("rtruth", "qs", "idx2")},
       |$chains,
       |rrec AS MATERIALIZED (
       |$rows),
       |rpick AS (
       |  SELECT n_probe FROM rrec
       |  ORDER BY (CASE WHEN avg_recall >= $floor THEN 0 ELSE 1 END),
       |           (CASE WHEN avg_recall >= $floor THEN n_probe
       |                 ELSE -n_probe END)
       |  LIMIT 1),
       |${fitBaselineSql("idx2")}
       |$ttRefitSelectSql""".stripMargin
  }

  // ---------------------------------------------------------------- q206
  /** RESIDUAL-regime codebook REFIT — q204's automated remedy run
    * through q144's encoding, closing the loop q205 opens: after the
    * drifting append, [[graft.operators.PqIndex.refitTwoTier]] with
    * `residual = true` fits NEW codebooks over the live union's
    * RESIDUALS (coarse centroids unchanged — the residuals' reference
    * frame survives the refit, which is exactly why centroids are fit
    * parameters), re-encodes every live row, resets the residual-error
    * baseline, and re-tunes at the persisted residual provenance.
    * After the refit the store must equal a direct residual-regime
    * build over the union with a fresh fit — the oracle replays the
    * union residual fit (no trace of the pre-refit codebooks), the
    * residual grid chains under the new codebooks over the persisted
    * base sample, the choice rule, and the reset ordered-fold
    * residual baseline. */
  val q206TwoTierResidRefit: Q = (s, dir) => {
    val p = Scratch.session("graft_ttrrefit", dir)(
      ttRefitFixture(s, dir, _, residual = true))
    ttRefitPhases(s, p)
  }

  val q206Sql: String = {
    val (chains, rows) = ttGridChains("r", "qs", "rtruth",
      (p, np) => adcTopKResidCtes(p, "idx2", "qs", np, q203Rerank))
    s"""WITH $eCte,
       |$qsMatCte,
       |$driftDeltaCte,
       |${lloydIdxSql("e", "8")},
       |$driftIdxSql,
       |uresid AS MATERIALIZED (
       |${residSql("idx2")}),
       |${pqCodebookSql("uresid")},
       |${ttTruthSql("rtruth", "qs", "idx2")},
       |$chains,
       |rrec AS MATERIALIZED (
       |$rows),
       |rpick AS (${ttPickSql("rrec")}),
       |${fitBaselineSql("idx2")}
       |$ttRefitSelectSql""".stripMargin
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q33_knn_brute", q33KnnBrute, Some(q33Sql)),
    ("q34_embed_neardup", q34EmbedNearDup, Some(q34Sql)),
    ("q35_ann_lsh", q35AnnLsh, Some(q35Sql)),
    ("q39_ann_ivf", q39AnnIvf, Some(q39Sql)),
    ("q100_semantic_dedup", q100SemanticDedup, Some(q100Sql)),
    ("q106_ivf_persist", q106IvfPersist, Some(q106Sql)),
    ("q114_mrl_truncate", q114MrlTruncate, Some(q114Sql)),
    ("q115_sql_surface", q115SqlSurface, Some(q115Sql)),
    ("q122_ivf_append", q122IvfAppend, Some(q122Sql)),
    ("q129_ivf_recall", q129IvfRecall, Some(q129Sql)),
    ("q134_ivf_autotune", q134IvfAutotune, Some(q134Sql)),
    ("q137_sq8_ann", q137Sq8Ann, Some(q137Sql)),
    ("q139_pq_adc", q139PqAdc, Some(q139Sql)),
    ("q141_ivf_pq_adc", q141IvfPqAdc, Some(q141Sql)),
    ("q142_two_tier_persist", q142TwoTierPersist, Some(q142Sql)),
    ("q144_ivf_pq_residual", q144IvfPqResidual, Some(q144Sql)),
    ("q145_jl_project", q145JlProject, Some(q145Sql)),
    ("q146_two_tier_append", q146TwoTierAppend, Some(q146Sql)),
    ("q213_twotier_time_travel", q213TwoTierTimeTravel, Some(q213Sql)),
    ("q184_nsw_search", q184NswSearch, Some(q184Sql)),
    // persisted-graph walk must equal the in-memory walk: q184's oracle
    ("q185_nsw_persist", q185NswPersist, Some(q184Sql)),
    ("q186_nsw_append", q186NswAppend, Some(q186Sql)),
    ("q188_nsw_split", q188NswSplit, Some(q188Sql)),
    ("q190_twotier_delete", q190TwoTierDelete, Some(q190Sql)),
    ("q191_nsw_delete", q191NswDelete, Some(q191Sql)),
    ("q214_nsw_time_travel", q214NswTimeTravel, Some(q214Sql)),
    ("q192_ivf_filtered", q192IvfFiltered, Some(q192Sql)),
    ("q218_ivf_refit", q218IvfRefit, Some(q218Sql)),
    ("q193_nsw_filtered", q193NswFiltered, Some(q193Sql)),
    ("q194_nsw_autotune", q194NswAutotune, Some(q194Sql)),
    ("q197_adc_filtered", q197AdcFiltered, Some(q197Sql)),
    ("q199_nsw_retune", q199NswRetune, Some(q199Sql)),
    ("q203_twotier_retune", q203TwoTierRetune, Some(q203Sql)),
    ("q204_twotier_refit", q204TwoTierRefit, Some(q204Sql)),
    ("q205_twotier_resid_retune", q205TwoTierResidRetune, Some(q205Sql)),
    ("q206_twotier_resid_refit", q206TwoTierResidRefit, Some(q206Sql)),
  )
}
