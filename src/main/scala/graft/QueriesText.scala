package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Curation, TextDedup}

/** Text-analysis + near-duplicate-detection query catalog over the
  * `documents` table (driver brief: the training-data-pipeline operator
  * set — token counting, quality scoring, language ID, fingerprinting,
  * exact/Jaccard/MinHash-LSH/SimHash dedup).
  *
  * Near-dup queries run against a corpus of the documents plus a
  * perturbed copy (`doc_id + 100000`, two boilerplate tokens appended) —
  * the deterministic stand-in for a re-crawl, guaranteeing every doc has
  * exactly one true near-duplicate to find.
  *
  * All hash functions are md5-based so the DuckDB oracle reproduces
  * every value bit-for-bit (see TextDedup doc for the scale trade-off).
  *
  * The shared text-dedup gate parts open the object. On the engine
  * side, [[plantedArrivals]] plants the dedup-ingest delta (fresh
  * arrivals plus exact, perturbed and in-batch copies) for a text
  * (`zzQq`) or a vector (`scaled101`) payload. On the oracle side:
  * [[normSql]], [[md5Bits32Sql]] (the `hashBucket` decode),
  * [[minhashMinsSql]]/[[bandHashesSql]]/[[agreeSumSql]] (the md5-lane
  * MinHash), [[ingestSigCtes]], [[storeDeltaSigCtes]] and
  * [[storeNearCtes]] (the store filter-then-verify step), and the
  * `bkt`/`corpus`/`delta` bodies [[docBucketsSql]],
  * [[storeCorpusSql]], [[plantedDeltaSql]] with their vector twins
  * [[vecBucketsSql]] and [[plantedVecDeltaSql]]. The dedup-ingest
  * gates here and in [[QueriesStreaming]] and [[QueriesPipeline]]
  * build from them, and a new dedup gate should too.
  */
object QueriesText {
  import Queries.Q

  // ------------------------------------- shared text-dedup gate parts
  // One copy each of the pieces the dedup and dedup-ingest gates (here
  // and in QueriesStreaming, QueriesPipeline, QueriesSelect,
  // QueriesCurate, QueriesScale and tools.SemStreamScale) build from.
  // The vals sit above every gate: an object's vals initialise in
  // source order.

  /** Normalization as a DuckDB SQL fragment — mirrors
    * [[TextAnalysis.normalizeText]] exactly. The one copy every oracle
    * text uses. */
  private[graft] final val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""

  /** [[TextAnalysis.qualityScore]] of `text` as a DuckDB expression,
    * rounded to 4 places and aliased `q`. */
  private[graft] val qualitySql: String =
    s"""round(0.4 * least(
       |        len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|a|in|that)\\b'))
       |          / greatest(len(string_split($normSql, ' ')), 1.0) * 4.0, 1.0)
       |      + 0.3 * least(len(string_split($normSql, ' ')) / 50.0, 1.0)
       |      + 0.3 * (1.0 - least(
       |          length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
       |            / greatest(length(text), 1.0) * 5.0, 1.0)), 4) AS q""".stripMargin

  /** The first 32 bits of the md5 hex digest `hexExpr` as a DuckDB
    * integer, decoded by digit-position arithmetic (DuckDB has no
    * `conv()`): the oracle mirror of
    * [[graft.operators.Sampling.hashBucket]] and of the md5-prefix
    * token hashes. `joiner` separates the eight digit terms. */
  private[graft] def md5Bits32Sql(hexExpr: String, joiner: String = " + "): String =
    (1 to 8).map { p =>
      s"(instr('0123456789abcdef', substr($hexExpr, $p, 1)) - 1) * ${1L << (4 * (8 - p))}"
    }.mkString(joiner)

  /** The k=8 md5-lane MinHash minima `h0`…`h7` over shingles `s`, the
    * [[TextDedup]] signature scheme: four 32-bit lanes per md5 call,
    * the second block salted with "1:". */
  private[graft] val minhashMinsSql: String = (0 until 8).map { j =>
    val src = if (j / 4 == 0) "md5(s)" else "md5('1:' || s)"
    s"min(substr($src, ${(j % 4) * 8 + 1}, 8)) AS h$j"
  }.mkString(",\n    ")

  /** The four band keys (2 rows per band) over `h0`…`h7`. */
  private[graft] val bandHashesSql: String =
    (0 until 4).map(b => s"md5(h${2 * b} || h${2 * b + 1})").mkString(", ")

  /** Signature-lane agreement count between a delta row (`dm`) and a
    * store row (`sm`) — the MinHash verification of
    * [[TextDedup.ingestFlags]] (`minAgree` lanes). */
  private[graft] val agreeSumSql: String = (0 until 8)
    .map(j => s"(CASE WHEN dm.h$j = sm.h$j THEN 1 ELSE 0 END)").mkString("\n    + ")

  /** The [[TextDedup.ingestFlags]] signature chain as prefixed CTEs
    * over `src` `(doc_id, text)`: shingles → md5-lane minhash
    * signature → band keys. */
  private[graft] def ingestSigCtes(pre: String, src: String): String =
    s"""${pre}shd AS (
       |  SELECT DISTINCT id, s FROM (
       |    SELECT doc_id AS id, unnest(list_transform(
       |      generate_series(1, len(string_split($normSql, ' '))-4),
       |      i -> array_to_string(list_slice(string_split($normSql, ' '), i, i+4), ' '))) AS s
       |    FROM $src)),
       |${pre}mh AS (
       |  SELECT id, $minhashMinsSql
       |  FROM ${pre}shd GROUP BY id),
       |${pre}bands AS (
       |  SELECT id, b, h FROM (
       |    SELECT id, unnest([0, 1, 2, 3]) AS b, unnest([$bandHashesSql]) AS h
       |    FROM ${pre}mh))""".stripMargin

  /** The store's fingerprints `sfp` and the signature CTEs of the
    * store `store` (prefix `s_`) and of the planted `delta` (`d_`). */
  private[graft] def storeDeltaSigCtes(store: String): String =
    s"""sfp AS (SELECT DISTINCT md5($normSql) AS fp FROM $store),
       |${ingestSigCtes("s_", store)},
       |${ingestSigCtes("d_", "delta")}""".stripMargin

  /** The MinHash filter-then-verify step of [[TextDedup.ingestFlags]]
    * over [[storeDeltaSigCtes]]: `cand` holds the (delta, store) pairs
    * that share a band key, `near` the delta ids with a candidate that
    * agrees on at least 4 of 8 lanes. */
  private[graft] def storeNearCtes(cand: String, near: String): String =
    s"""$cand AS (
       |  SELECT DISTINCT d.id AS d_id, s.id AS s_id
       |  FROM d_bands d JOIN s_bands s ON d.b = s.b AND d.h = s.h),
       |$near AS (
       |  SELECT DISTINCT c.d_id AS id
       |  FROM $cand c JOIN d_mh dm ON dm.id = c.d_id JOIN s_mh sm ON sm.id = c.s_id
       |  WHERE $agreeSumSql >= 4)""".stripMargin

  /** `bkt` CTE body: every document with its hash bucket `bk` =
    * hashBucket(doc_id, 10). */
  private[graft] val docBucketsSql: String =
    s"""SELECT doc_id, text, (${md5Bits32Sql("h")}) % 10 AS bk
       |  FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)""".stripMargin

  /** `corpus` CTE body: the store side, buckets 0–7 of `bkt`. */
  private[graft] val storeCorpusSql: String = "SELECT doc_id, text FROM bkt WHERE bk < 8"

  /** Planted `delta` CTE body over `bkt` and `corpus`, the oracle twin
    * of [[plantedArrivals]] with the ` zz qq` perturbation. */
  private[graft] val plantedDeltaSql: String =
    """  SELECT doc_id, text FROM bkt WHERE bk >= 8
      |  UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM corpus WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 300000 AS doc_id, text || ' zz qq' AS text
      |    FROM corpus WHERE doc_id % 11 = 0
      |  UNION ALL SELECT doc_id + 400000 AS doc_id, text
      |    FROM bkt WHERE bk >= 8 AND doc_id % 13 = 0""".stripMargin

  /** `eb` CTE body: the embeddings with `vec_id < cap`, as `v` with
    * their hash bucket `bk` = hashBucket(vec_id, 10). */
  private[graft] def vecBucketsSql(cap: String): String =
    s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         (${md5Bits32Sql("h")}) % 10 AS bk
       |  FROM (SELECT vec_id, embedding,
       |               md5(CAST(vec_id AS VARCHAR)) AS h FROM embeddings
       |        WHERE vec_id < $cap)""".stripMargin

  /** Planted `delta` rows over `eb`, the oracle twin of
    * [[plantedArrivals]] with the ×1.01 perturbation. */
  private[graft] val plantedVecDeltaSql: String =
    """  SELECT vec_id AS id, v FROM eb WHERE bk >= 8
      |  UNION ALL SELECT vec_id + 200000 AS id, v FROM eb
      |    WHERE bk < 8 AND vec_id % 7 = 0
      |  UNION ALL SELECT vec_id + 300000 AS id,
      |    list_transform(v, x -> x * 1.01) AS v FROM eb
      |    WHERE bk < 8 AND vec_id % 11 = 0
      |  UNION ALL SELECT vec_id + 400000 AS id, v FROM eb
      |    WHERE bk >= 8 AND vec_id % 13 = 0""".stripMargin

  /** The text perturbation of a planted near copy: two tokens appended. */
  private[graft] val zzQq: Column => Column = concat(_, lit(" zz qq"))

  /** The vector perturbation of a planted near copy: ×1.01, which keeps
    * every cosine. */
  private[graft] val scaled101: Column => Column = transform(_, x => x * 1.01)

  /** The planted arrivals of the dedup-ingest gates, drawn from `t`,
    * which carries the id column `id`, the payload column `payload` and
    * `b` = hashBucket(id, 10):
    *   - fresh arrivals (`b >= 8`);
    *   - exact copies of store rows (`b < 8`, `id % 7 = 0`, `+200000`);
    *   - perturbed copies of store rows (`b < 8`, `id % 11 = 0`,
    *     `+300000`, the payload through `perturb`);
    *   - in-batch copies of fresh arrivals (`b >= 8`, `id % 13 = 0`,
    *     `+400000`).
    * Every copy's id is congruent mod 4 with its original's. The oracle
    * twins are [[plantedDeltaSql]] and [[plantedVecDeltaSql]]; a gate
    * unions its own extra lanes onto the result. */
  private[graft] def plantedArrivals(t: DataFrame, id: String, payload: String,
                                     perturb: Column => Column): DataFrame = {
    val (i, b, p) = (col(id), col("b"), col(payload))
    t.filter(b >= 8).select(i, p)
      .unionByName(t.filter(b < 8 && i % 7 === 0).select((i + 200000L).as(id), p))
      .unionByName(t.filter(b < 8 && i % 11 === 0)
        .select((i + 300000L).as(id), perturb(p).as(payload)))
      .unionByName(t.filter(b >= 8 && i % 13 === 0).select((i + 400000L).as(id), p))
  }

  /** corpus = documents ∪ perturbed copy (Spark side). Shared with the
    * composed pipeline gate ([[QueriesPipeline]] plants the same
    * re-crawl copies its dedup stages then remove). */
  private[graft] def corpus(s: SparkSession, dir: String, perturb: Boolean): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"doc_id", $"text")
    val copy = Tables.documents(s, dir).select(
      ($"doc_id" + 100000L).as("doc_id"),
      (if (perturb) concat($"text", lit(" zz qq")) else $"text").as("text"))
    d.unionByName(copy)
  }

  /** corpus as a DuckDB CTE body. */
  private[graft] def corpusSql(perturb: Boolean): String = {
    val copyText = if (perturb) "text || ' zz qq'" else "text"
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, $copyText AS text FROM documents""".stripMargin
  }

  /** Shared shingle-table CTEs (5-shingles over the corpus), mirroring
    * [[TextDedup.shingleTable]]: norm → tokens → distinct shingles with
    * the per-doc distinct count riding along. `corpusBody` is the CTE
    * body providing `(doc_id, text)` — parameterized so the composed
    * pipeline gate can shingle its post-filter survivors with the SAME
    * text (the q203 one-text discipline). */
  private[graft] def shingleSqlOver(corpusBody: String): String =
    shingleSqlPrefixed("", corpusBody)

  /** [[shingleSqlOver]] with every CTE name prefixed — so several
    * instantiations (one per micro-batch slice in the q209 streaming
    * pipeline oracle) coexist in one WITH chain. `pre = ""` emits the
    * q30/q58 text byte-identically. */
  private[graft] def shingleSqlPrefixed(pre: String, corpusBody: String): String =
    s"""${pre}corpus AS (
       |  $corpusBody),
       |${pre}toks AS (SELECT doc_id AS id, string_split($normSql, ' ') AS w FROM ${pre}corpus),
       |${shinglesOfToksSql(pre)}""".stripMargin

  /** The distinct 5-shingles `<pre>sh(id, s, n_shingles)` (via
    * `<pre>shd`) of the token lists `<pre>toks(id, w)`. */
  private def shinglesOfToksSql(pre: String): String =
    s"""${pre}shd AS (
       |  SELECT DISTINCT id, s FROM (
       |    SELECT id, unnest(list_transform(generate_series(1, len(w)-4),
       |             i -> array_to_string(list_slice(w, i, i+4), ' '))) AS s
       |    FROM ${pre}toks)),
       |${pre}sh AS (
       |  SELECT ${pre}shd.id, ${pre}shd.s, sz.n_shingles
       |  FROM ${pre}shd JOIN (SELECT id, count(*) AS n_shingles FROM ${pre}shd GROUP BY id) sz
       |    ON ${pre}shd.id = sz.id)""".stripMargin

  private def shingleSql(perturb: Boolean): String =
    shingleSqlOver(corpusSql(perturb))

  // ---------------------------------------------------------------- q24
  /** Token counting + quality scoring: one codegen'd scan, no shuffle
    * (the order-by is for the deterministic dump only).
    *
    * Staged projections on purpose: the lowered text and each regex
    * count are aliased once and referenced by name downstream —
    * Catalyst does not share non-cheap subexpressions across output
    * columns, so the inlined form re-ran every regex stack per column
    * (measured 2.5× slower). Same values, same oracle. */
  val q24TokenStats: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", lower($"text").as("lo"))
      .select($"doc_id", $"text",
        size(split(trim(regexp_replace($"lo", "\\s+", " ")), " ")).as("n_ws"),
        size(regexp_extract_all($"lo", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe"),
        length(regexp_replace($"lo", "[a-z0-9\\s]", "")).as("n_punct"),
        size(regexp_extract_all($"lo",
          lit("\\b(" + TextAnalysis.stopEn.mkString("|") + ")\\b"), lit(0))).as("stop_hits"))
      .select($"doc_id", $"n_ws", $"n_bpe", $"n_punct", $"stop_hits",
        round(lit(0.4) * least($"stop_hits".cast("double")
            / greatest($"n_ws".cast("double"), lit(1.0)) * lit(4.0), lit(1.0))
          + lit(0.3) * least($"n_ws".cast("double") / lit(50.0), lit(1.0))
          + lit(0.3) * (lit(1.0) - least($"n_punct".cast("double")
            / greatest(length($"text").cast("double"), lit(1.0)) * lit(5.0), lit(1.0))),
          4).as("quality"))
      .orderBy($"doc_id")
  }
  val q24Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    len(string_split($normSql, ' ')) AS n_ws,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
       |    length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
       |    len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|a|in|that)\\b')) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, n_ws, n_bpe, n_punct, stop_hits,
       |  round(0.4 * least(stop_hits / greatest(n_ws, 1.0) * 4.0, 1.0)
       |      + 0.3 * least(n_ws / 50.0, 1.0)
       |      + 0.3 * (1.0 - least(n_punct / greatest(length(text), 1.0) * 5.0, 1.0)),
       |      4) AS quality
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Corpus quality profile per language tag. */
  val q25QualityByLang: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("q", TextAnalysis.qualityScore($"text"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"q"), 4).as("avg_quality"),
        count(when($"q" >= 0.5, 1)).as("n_good"))
      .orderBy($"lang")
  }
  val q25Sql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    $qualitySql
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs, round(avg(q), 4) AS avg_quality,
       |       count(CASE WHEN q >= 0.5 THEN 1 END) AS n_good
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Language-ID confusion matrix: heuristic stopword-argmax prediction
    * vs the labeled lang column. */
  val q26LangId: Q = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("predicted", TextAnalysis.predictLang($"text"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }
  val q26Sql: String = {
    def hits(words: Seq[String]) =
      s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
    s"""WITH sc AS (
       |  SELECT lang,
       |    ${hits(TextAnalysis.stopEn)} AS s_en, ${hits(TextAnalysis.stopEs)} AS s_es,
       |    ${hits(TextAnalysis.stopDe)} AS s_de, ${hits(TextAnalysis.stopFr)} AS s_fr
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de'
       |       ELSE 'fr' END AS predicted,
       |  count(*) AS n
       |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q27
  /** Document fingerprinting: md5 content fingerprint, order-sensitive
    * polynomial rolling hash, and the distinct 5-shingle count. */
  val q27Fingerprint: Q = (s, dir) => {
    import s.implicits._
    // staged projections: the normalize regex runs once per row, the
    // whitespace split once — not once per consuming output column
    Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.normalizeText($"text").as("norm"))
      .select($"doc_id", md5($"norm").as("fp"), split($"norm", " ").as("toks"))
      .select($"doc_id", $"fp",
        TextAnalysis.rollingFingerprintFromTokens($"toks").as("rolling_fp"),
        size(array_distinct(TextAnalysis.wordShinglesFromTokens($"toks", 5)))
          .as("n_shingles"))
      .orderBy($"doc_id")
  }
  val q27Sql: String = {
    // h(t): first 32 md5 bits (md5Bits32Sql)
    val tokenHash = md5Bits32Sql("md5(t)")
    s"""SELECT doc_id, md5($normSql) AS fp,
       |  list_reduce(
       |    list_prepend(0, list_transform(string_split($normSql, ' '),
       |      t -> $tokenHash)),
       |    (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_fp,
       |  len(list_distinct(list_transform(
       |    generate_series(1, len(string_split($normSql, ' '))-4),
       |    i -> array_to_string(list_slice(string_split($normSql, ' '), i, i+4), ' '))))
       |    AS n_shingles
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q28
  /** Exact dedup over corpus + identical copy: hash-groupBy on the
    * content fingerprint, canonical id = min. */
  val q28DedupExact: Q = (s, dir) => {
    import s.implicits._
    TextDedup.exactDedup(corpus(s, dir, perturb = false), "doc_id", "text")
      .orderBy($"keep_id")
  }
  val q28Sql: String =
    s"""WITH corpus AS (
       |  ${corpusSql(perturb = false)})
       |SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Exact pairwise n-gram Jaccard ≥ 0.3 via shingle inverted-index
    * join (no cross join; shuffle keys are shingles). */
  val q29JaccardPairs: Q = (s, dir) => {
    import s.implicits._
    // persisted: both sides of the pair self-join read the same shingle
    // table — without the cache the whole tokenize→shingle→explode
    // chain runs once per side
    val sh = TextDedup.shingleTable(corpus(s, dir, perturb = true), "doc_id", "text", 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TextDedup.jaccardPairs(sh, 0.3).orderBy($"a_id", $"b_id")
  }
  val q29Sql: String =
    s"""WITH ${shingleSql(perturb = true)},
       |inter AS (
       |  SELECT a.id AS a_id, b.id AS b_id, count(*) AS i,
       |         min(a.n_shingles) AS na, min(b.n_shingles) AS nb
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, round(i * 1.0 / (na + nb - i), 4) AS jaccard
       |FROM inter WHERE i * 1.0 / (na + nb - i) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q30
  /** MinHash(k=8) + LSH(4 bands × 2 rows) candidates, then exact
    * Jaccard verification of candidates only. */
  val q30MinHashLsh: Q = (s, dir) => {
    import s.implicits._
    // persisted: the shingle table feeds the signature pass AND both
    // sides of the candidate-verification join (3 consumers)
    val sh = TextDedup.shingleTable(corpus(s, dir, perturb = true), "doc_id", "text", 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the pair table is persisted under the SAME canonical plan q58
    // derives its edges from, so within one session the signature/band/
    // verify chain runs once for both queries (CacheManager matches
    // canonicalized plans)
    // maxBandDf = the production skew guard, sized as a no-op here (the
    // perturbed corpus collides in groups of 2; TextDedupSpec proves the
    // degenerate-bucket behavior) so the gate certifies the capped plan
    TextDedup.minHashLshPairs(sh, k = 8, rowsPerBand = 2, threshold = 0.3,
        maxBandDf = Some(1024))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy($"a_id", $"b_id")
  }
  /** Shared MinHash-LSH CTE chain (shingles → signatures → bands →
    * verified intersections), mirroring [[TextDedup.minHashLshPairs]]'s
    * md5-lane scheme: four 32-bit lanes per md5 call, second block
    * salted with "1:". Used by q30 (pairs), q58 (components), and —
    * via the `corpusBody` parameterization — the composed pipeline
    * gate's near-dup stage ([[QueriesPipeline]]). */
  private[graft] def minhashCtesOver(corpusBody: String): String =
    minhashCtesPrefixed("", corpusBody)

  /** [[minhashCtesOver]] with every CTE name prefixed (the
    * [[shingleSqlPrefixed]] contract); `pre = ""` is byte-identical to
    * the q30/q58/q208 text. */
  private[graft] def minhashCtesPrefixed(pre: String, corpusBody: String): String =
    s"""${shingleSqlPrefixed(pre, corpusBody)},
       |${pre}mh AS (
       |  SELECT id, $minhashMinsSql
       |  FROM ${pre}sh GROUP BY id),
       |${pre}bands AS (
       |  SELECT id, b, h FROM (
       |    SELECT id, unnest([0, 1, 2, 3]) AS b,
       |           unnest([$bandHashesSql]) AS h
       |    FROM ${pre}mh)),
       |${pre}cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM ${pre}bands a JOIN ${pre}bands b ON a.b = b.b AND a.h = b.h AND a.id < b.id),
       |${pre}inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS i,
       |         min(x.n_shingles) AS na, min(y.n_shingles) AS nb
       |  FROM ${pre}cand c JOIN ${pre}sh x ON x.id = c.a_id
       |              JOIN ${pre}sh y ON y.id = c.b_id AND x.s = y.s
       |  GROUP BY 1, 2)""".stripMargin

  private def minhashCtes(perturb: Boolean): String =
    minhashCtesOver(corpusSql(perturb))

  val q30Sql: String =
    s"""WITH ${minhashCtes(perturb = true)}
       |SELECT a_id, b_id, round(i * 1.0 / (na + nb - i), 4) AS jaccard
       |FROM inter WHERE i * 1.0 / (na + nb - i) >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** Shared SimHash CTEs: token hash from md5 hex prefix (decoded by
    * [[md5Bits32Sql]] — DuckDB has no conv()), 32 signed bit
    * votes, sign → bit. Mirrors [[TextDedup.simHash32]]. */
  private def simhashSql(corpusBody: String): String = {
    val hexDigits = md5Bits32Sql("md5(tk)", "\n        + ")
    val bitSums = (0 until 32).map(j =>
      s"sum(2 * ((h // ${1L << j}) % 2) - 1) AS s$j").mkString(",\n    ")
    val simBits = (0 until 32).map(j =>
      s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString("\n    + ")
    s"""corpus AS (
       |  $corpusBody),
       |tok AS (SELECT doc_id AS id, unnest(string_split($normSql, ' ')) AS tk FROM corpus),
       |th AS (
       |  SELECT id, $hexDigits AS h
       |  FROM tok),
       |agg AS (
       |  SELECT id, $bitSums
       |  FROM th GROUP BY id),
       |simt AS (
       |  SELECT id, $simBits AS simhash
       |  FROM agg)""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  /** Per-document 32-bit SimHash signatures. */
  val q31SimHash: Q = (s, dir) => {
    import s.implicits._
    TextDedup.simHash32(
      Tables.documents(s, dir).select($"doc_id", $"text"), "doc_id", "text")
      .select($"id".as("doc_id"), $"simhash")
      .orderBy($"doc_id")
  }
  val q31Sql: String =
    s"""WITH ${simhashSql("SELECT doc_id, text FROM documents")}
       |SELECT id AS doc_id, simhash FROM simt ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** SimHash near-dup pairs (Hamming ≤ 3) over the perturbed corpus —
    * each doc's re-crawl copy differs by 2 tokens, so true pairs sit at
    * tiny Hamming distance while random 32-bit pairs almost never do.
    * Gated on the pigeonhole-banded form — the plan that survives 100 TB
    * (shuffle key = signature block, no cross join). The oracle SQL is
    * the all-pairs definition: banding is recall-1, so the result sets
    * are identical (also spec-proven vs [[TextDedup.hammingPairs]]). */
  val q32SimHashPairs: Q = (s, dir) => {
    import s.implicits._
    // persisted: the signature table feeds all maxHd+1 banded lanes
    val sim = TextDedup.simHash32(corpus(s, dir, perturb = true), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TextDedup.bandedHammingPairs(sim, maxHd = 3).orderBy($"a_id", $"b_id")
  }
  val q32Sql: String =
    s"""WITH ${simhashSql(corpusSql(perturb = true))}
       |SELECT a.id AS a_id, b.id AS b_id,
       |       bit_count(xor(a.simhash, b.simhash)) AS hd
       |FROM simt a JOIN simt b ON a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** The composed curation funnel ([[graft.operators.Curation]]): quality
    * gate → exact dedup → MinHash-LSH near-dup removal in ONE dataflow,
    * reported as per-stage (docs, tokens) funnel metrics. The corpus is
    * documents ∪ identical copy (+100000) ∪ perturbed copy (+200000), so
    * every stage has real work: quality drops short/noisy docs, exact
    * dedup collapses the identical copies, LSH catches the perturbed
    * ones. The oracle restates the whole chain in SQL (QUALIFY for the
    * canonical-id rule, the q30 band CTEs for LSH), so the gate covers
    * stage COMPOSITION — survivors of one stage feeding the next — not
    * just each operator alone. */
  val q49Curation: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"doc_id", $"text")
    val triCorpus = d
      .unionByName(d.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      .unionByName(d.select(($"doc_id" + 200000L).as("doc_id"),
        concat($"text", lit(" zz qq")).as("text")))
    Curation.funnel(triCorpus, "doc_id", "text")
  }
  val q49Sql: String =
    // the shared md5-lane minima and band keys (minhashMinsSql,
    // bandHashesSql: k=8, 4 bands × 2), as in q30
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id, text || ' zz qq' AS text FROM documents),
       |scored AS (
       |  SELECT doc_id AS id, text,
       |    len(string_split($normSql, ' ')) AS n_ws,
       |    $qualitySql
       |  FROM corpus),
       |qual AS (SELECT * FROM scored WHERE q >= 0.5 AND n_ws >= 10),
       |ex AS (
       |  SELECT * FROM qual
       |  QUALIFY id = min(id) OVER (PARTITION BY md5($normSql))),
       |toks AS (SELECT id, string_split($normSql, ' ') AS w FROM ex),
       |${shinglesOfToksSql("")},
       |mh AS (
       |  SELECT id, $minhashMinsSql
       |  FROM sh GROUP BY id),
       |bands AS (
       |  SELECT id, b, h FROM (
       |    SELECT id, unnest([0, 1, 2, 3]) AS b,
       |           unnest([$bandHashesSql]) AS h
       |    FROM mh)),
       |cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.h = b.h AND a.id < b.id),
       |inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS i,
       |         min(x.n_shingles) AS na, min(y.n_shingles) AS nb
       |  FROM cand c JOIN sh x ON x.id = c.a_id
       |              JOIN sh y ON y.id = c.b_id AND x.s = y.s
       |  GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT b_id FROM inter
       |  WHERE i * 1.0 / (na + nb - i) >= 0.3),
       |surv AS (SELECT * FROM ex WHERE id NOT IN (SELECT b_id FROM dropped))
       |SELECT stage, n_docs, n_tokens FROM (
       |  SELECT 's1_raw' AS stage, count(*) AS n_docs,
       |         CAST(coalesce(sum(n_ws), 0) AS BIGINT) AS n_tokens FROM scored
       |  UNION ALL
       |  SELECT 's2_quality', count(*), CAST(coalesce(sum(n_ws), 0) AS BIGINT) FROM qual
       |  UNION ALL
       |  SELECT 's3_exact', count(*), CAST(coalesce(sum(n_ws), 0) AS BIGINT) FROM ex
       |  UNION ALL
       |  SELECT 's4_neardup', count(*), CAST(coalesce(sum(n_ws), 0) AS BIGINT) FROM surv)
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Quota data selection: the top-3 quality documents per source, via
    * the bounded-heap [[graft.functions.TopKAgg]] UDAF instead of a
    * ranking window — partial aggregation trims every map partition to
    * k rows BEFORE the shuffle, where the window form shuffles every
    * candidate row (the difference that matters when selecting from
    * 100 TB into a fixed token budget). The oracle IS the naive window:
    * the gate proves heap-trim ≡ row_number semantics, ties and all. */
  val q56QuotaSelect: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TopKAgg
    Tables.documents(s, dir)
      .select($"source", $"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .groupBy($"source")
      .agg(TopKAgg(3, $"q", $"doc_id").as("top"))
      .select($"source", posexplode($"top.items"))
      .select($"source", (col("pos") + 1).as("rank"),
        $"col.id".as("doc_id"), round($"col.score", 4).as("quality"))
      .orderBy($"source", $"rank")
  }
  val q56Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    $qualitySql
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, q,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY q DESC, doc_id ASC) AS "rank"
       |  FROM t)
       |SELECT source, "rank", doc_id, round(q, 4) AS quality
       |FROM r WHERE "rank" <= 3 ORDER BY source, "rank"""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Train/test contamination audit: shingle-level overlap of each TEST
    * document against the union of TRAIN shingles, with the split
    * assignment coming from the deterministic hash splitter (q50). The
    * chain [[graft.operators.Sampling.hashSplit]] →
    * [[TextDedup.shingleTable]] → [[TextDedup.contamination]] shuffles
    * only on the shingle key; the oracle restates split + shingles +
    * semi-join in SQL. On this corpus the audit finds real leakage
    * (several test docs share >95% of shingles with a train doc) —
    * exactly what it exists to catch. */
  val q57Contamination: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val splits = graft.operators.Sampling.hashSplit(docs.select($"doc_id"), "doc_id")
      .select($"doc_id".as("id"), $"split")
    val sh = TextDedup.shingleTable(docs, "doc_id", "text", 5)
    TextDedup.contamination(sh, splits, from = "test", against = "train")
      .orderBy($"doc_id")
  }
  val q57Sql: String = {
    val digits = md5Bits32Sql("h")
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ($digits) % 100 < 80 THEN 'train'
       |         WHEN ($digits) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)),
       |toks AS (SELECT doc_id AS id, string_split($normSql, ' ') AS w FROM documents),
       |${shinglesOfToksSql("")},
       |train_sh AS (
       |  SELECT DISTINCT s FROM sh JOIN sp ON sh.id = sp.doc_id
       |  WHERE sp.split = 'train'),
       |test_sh AS (
       |  SELECT sh.* FROM sh JOIN sp ON sh.id = sp.doc_id
       |  WHERE sp.split = 'test'),
       |hits AS (
       |  SELECT id, count(*) AS n_hit FROM test_sh
       |  WHERE s IN (SELECT s FROM train_sh) GROUP BY id),
       |test_docs AS (SELECT DISTINCT id, n_shingles FROM test_sh)
       |SELECT d.id AS doc_id, d.n_shingles, coalesce(h.n_hit, 0) AS n_hit,
       |       round(coalesce(h.n_hit, 0) * 1.0 / d.n_shingles, 4) AS contamination
       |FROM test_docs d LEFT JOIN hits h ON d.id = h.id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q58
  /** Transitive dedup clusters: connected components of the MinHash-LSH
    * near-dup pair graph ([[graft.operators.Components]], iterated
    * min-label propagation — one shuffle-join per round, driver sees
    * only a convergence count). Every corpus doc gets its cluster's
    * minimum id as canonical (singletons map to themselves). The oracle
    * computes the same closure by a completely different route — a
    * recursive CTE — so the gate proves the distributed fixpoint equals
    * true transitive reachability. */
  val q58DedupClusters: Q = (s, dir) =>
    dedupClusters(s, dir)(graft.operators.Components.connectedComponents(_, _, _))

  /** q58/q96's cluster assignment: every corpus doc mapped to the
    * minimum id of its near-dup component, as `components(edges, src,
    * dst)` computes it over the q30 pair graph. */
  private def dedupClusters(s: SparkSession, dir: String)(
      components: (DataFrame, String, String) => DataFrame): DataFrame = {
    import s.implicits._
    val sh = TextDedup.shingleTable(corpus(s, dir, perturb = true), "doc_id", "text", 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same canonical plan as q30's persisted pair table (cap included) →
    // cache hit when both run in one session; standalone, it
    // materializes once
    val pairs = TextDedup.minHashLshPairs(sh, k = 8, rowsPerBand = 2, threshold = 0.3,
        maxBandDf = Some(1024))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comps = components(pairs, "a_id", "b_id").withColumnRenamed("id", "doc_id")
    corpus(s, dir, perturb = true).select($"doc_id")
      .join(comps, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("comp"))
      .orderBy($"doc_id")
  }
  val q58Sql: String =
    s"""WITH RECURSIVE ${minhashCtes(perturb = true)},
       |edges AS (
       |  SELECT a_id, b_id FROM inter WHERE i * 1.0 / (na + nb - i) >= 0.3),
       |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
       |        UNION ALL SELECT b_id, a_id FROM edges),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM sym
       |  UNION
       |  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.id)
       |SELECT c.doc_id, CAST(coalesce(m.comp, c.doc_id) AS BIGINT) AS comp
       |FROM (SELECT doc_id FROM corpus) c
       |LEFT JOIN (SELECT id, min(r) AS comp FROM reach GROUP BY id) m
       |  ON c.doc_id = m.id
       |ORDER BY c.doc_id""".stripMargin

  /** Two-lane (64-bit) SimHash CTEs mirroring [[TextDedup.simHash64]]:
    * lo lane = md5(tk), hi lane = md5('1:' || tk) — the same salt
    * scheme as the minhash lanes — 32 signed bit votes per lane,
    * packed into two 32-bit halves (portable: no sign-bit hazard). */
  private def simhash64Sql(corpusBody: String): String = {
    def hexDigits(lane: String) = md5Bits32Sql(s"md5($lane)", "\n        + ")
    def bitSums(h: String, pfx: String) = (0 until 32).map(j =>
      s"sum(2 * (($h // ${1L << j}) % 2) - 1) AS $pfx$j").mkString(",\n    ")
    def pack(pfx: String) = (0 until 32).map(j =>
      s"(CASE WHEN $pfx$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString("\n    + ")
    s"""corpus AS (
       |  $corpusBody),
       |tok AS (SELECT doc_id AS id, unnest(string_split($normSql, ' ')) AS tk FROM corpus),
       |th AS (
       |  SELECT id, ${hexDigits("tk")} AS hlo,
       |         ${hexDigits("'1:' || tk")} AS hhi
       |  FROM tok),
       |agg AS (
       |  SELECT id, ${bitSums("hlo", "l")},
       |    ${bitSums("hhi", "u")}
       |  FROM th GROUP BY id),
       |simt AS (
       |  SELECT id, ${pack("u")} AS sim_hi, ${pack("l")} AS sim_lo
       |  FROM agg)""".stripMargin
  }

  // ---------------------------------------------------------------- q97
  /** 64-bit SimHash near-dup pairs (Hamming ≤ 3), gated on the
    * 16-bit-block pigeonhole banding — the signature width that keeps
    * band buckets sparse at 10⁸+ docs (see [[TextDedup.simHash64]];
    * q32's 32-bit form has only 2⁸ band values, which densifies
    * quadratically). Oracle is the all-pairs definition over the same
    * two-lane signatures: banding is recall-1, results identical. */
  val q97SimHash64Pairs: Q = (s, dir) => {
    import s.implicits._
    val sim = TextDedup.simHash64(corpus(s, dir, perturb = true), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TextDedup.bandedHammingPairs64(sim, maxHd = 3).orderBy($"a_id", $"b_id")
  }
  val q97Sql: String =
    s"""WITH ${simhash64Sql(corpusSql(perturb = true))}
       |SELECT a.id AS a_id, b.id AS b_id,
       |       bit_count(xor(a.sim_lo, b.sim_lo))
       |         + bit_count(xor(a.sim_hi, b.sim_hi)) AS hd
       |FROM simt a JOIN simt b ON a.id < b.id
       |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
       |        + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q96
  /** q58's cluster assignment computed by the OTHER algorithm:
    * alternating small-star/large-star contraction
    * ([[graft.operators.Components.connectedComponentsContraction]],
    * the high-diameter-safe opt-in). Same edges, same recursive-CTE
    * oracle — the gate proves both distributed fixpoints equal true
    * transitive reachability, so a user can switch algorithms on graph
    * shape without a semantic change. */
  val q96DedupClustersContraction: Q = (s, dir) =>
    dedupClusters(s, dir)(
      graft.operators.Components.connectedComponentsContraction(_, _, _))

  // ---------------------------------------------------------------- q104
  /** Passage-level cross-document duplicate detection
    * ([[TextDedup.duplicatedPassagePairs]]): 200-char non-overlapping
    * passages, md5 fingerprints, inverted-index self-join on the
    * fingerprint with the `maxPassageDf` boilerplate cap ON (64 —
    * sized as a no-op here; `TextDedupSpec` proves the capping
    * behavior on a degenerate corpus). Catches documents that share
    * long verbatim spans without being document-level near-dups — on
    * this corpus every document longer than one passage pairs with
    * its re-crawl copy on their common full passages, while sub-
    * passage documents (single chunk, which the ' zz qq' suffix
    * perturbs) correctly produce none. The oracle restates chunk
    * arithmetic, md5, the HAVING cap, and the self-join in SQL, so a
    * boundary slip or cap bug anywhere breaks the pair set. */
  val q104PassageDup: Q = (s, dir) => {
    import s.implicits._
    TextDedup.duplicatedPassagePairs(corpus(s, dir, perturb = true),
        "doc_id", "text", size = 200, overlap = 0, maxPassageDf = Some(64))
      .orderBy($"a_id", $"b_id")
  }
  val q104Sql: String =
    s"""WITH corpus AS (
       |  ${corpusSql(perturb = true)}),
       |p AS (
       |  SELECT DISTINCT doc_id AS id,
       |         md5(substr(text, CAST(i * 200 + 1 AS INT), 200)) AS fp
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(0,
       |            CAST(greatest(ceil(length(text) / 200.0), 1) AS BIGINT) - 1)) AS i
       |        FROM corpus)),
       |kept AS (
       |  SELECT p.id, p.fp FROM p
       |  JOIN (SELECT fp FROM p GROUP BY fp HAVING count(*) <= 64) ok USING (fp))
       |SELECT a.id AS a_id, b.id AS b_id, count(*) AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY a.id, b.id
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Incremental snapshot-ingest dedup ([[TextDedup.dedupAgainstStore]]):
    * the "existing corpus" (md5 buckets 0–7 of documents) is reduced to
    * its persisted dedup store — distinct fingerprints + MinHash
    * signatures ([[TextDedup.buildDedupStore]]) — and a new delta shard
    * is classified against it without ever re-reading corpus text. The
    * delta ([[plantedArrivals]], replayed by [[plantedDeltaSql]]) is
    * built to exercise every verdict lane deterministically:
    * buckets 8–9 as the novel docs, exact copies of corpus docs
    * (doc_id ≡ 0 mod 7, shifted +200000) for `dup_exact`, perturbed
    * copies (≡ 0 mod 11, +300000, ' zz qq' suffix) for `dup_near`
    * (band-key hit + signature-lane agreement ≥ 4 of 8 — appending two
    * tokens moves few lane minima, so agreement stays high), and
    * in-shard duplicates of novel docs (≡ 0 mod 13, +400000) for
    * `shard_dup` (smallest delta id wins; NOT near-dups, the store
    * never saw them — the gate proves the three flags are independent).
    * The oracle replays the whole chain — bucket split, fingerprints,
    * both signature tables, banding, agreement count, in-shard min —
    * in SQL, so a drift anywhere in the store or ingest path breaks
    * the hash. maxBandDf is the production skew cap, sized as a no-op
    * here (same convention as q30). */
  val q107IncrementalDedup: Q = (s, dir) => {
    import s.implicits._
    val base = Tables.documents(s, dir).select($"doc_id", $"text")
    val bkt = base.withColumn("b", graft.operators.Sampling.hashBucket($"doc_id", 10))
    val corpusDocs = bkt.filter($"b" < 8).select($"doc_id", $"text")
    val delta = plantedArrivals(bkt, "doc_id", "text", zzQq)
    val (storeFp, storeSig) =
      TextDedup.buildDedupStore(corpusDocs, "doc_id", "text", shingleN = 5, k = 8)
    TextDedup.dedupAgainstStore(delta, "doc_id", "text", storeFp, storeSig,
        shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4, maxBandDf = Some(1024))
      .orderBy($"id")
  }
  val q107Sql: String =
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |corpus AS ($storeCorpusSql),
       |delta AS (
       |$plantedDeltaSql),
       |${storeDeltaSigCtes("corpus")},
       |${storeNearCtes("cand", "near")},
       |dfp AS (SELECT doc_id AS id, md5($normSql) AS fp FROM delta),
       |keepid AS (SELECT fp, min(id) AS keep_id FROM dfp GROUP BY fp)
       |SELECT f.id,
       |  sf.fp IS NOT NULL AS dup_exact,
       |  nr.id IS NOT NULL AS dup_near,
       |  f.id <> ki.keep_id AS shard_dup,
       |  (sf.fp IS NULL AND nr.id IS NULL AND f.id = ki.keep_id) AS keep
       |FROM dfp f
       |JOIN keepid ki ON f.fp = ki.fp
       |LEFT JOIN sfp sf ON f.fp = sf.fp
       |LEFT JOIN near nr ON f.id = nr.id
       |ORDER BY f.id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Benchmark decontamination ([[TextDedup.decontaminate]]): train =
    * md5 buckets 0–8 plus PLANTED copies of eval docs (≡ 0 mod 3,
    * +500000) — contaminated by construction; eval = bucket 9. A train
    * doc is dropped when ≥ 5 of its distinct 5-shingles occur anywhere
    * in the eval set. The scale asymmetry is the point: the eval
    * shingle set is broadcast (a benchmark is MBs, the corpus is TBs),
    * so the train side's explode → semi-probe → per-doc count runs
    * map-side with only the doc-id count merge shuffling. The planted
    * copies must all flag; organically shared 5-shingles across the
    * synthetic corpus flag only if they genuinely repeat. Oracle
    * restates bucket split, planting, both shingle sets, the overlap
    * count and the threshold. */
  val q113Decontaminate: Q = (s, dir) => {
    import s.implicits._
    val base = Tables.documents(s, dir).select($"doc_id", $"text")
    val bkt = base.withColumn("b", graft.operators.Sampling.hashBucket($"doc_id", 10))
    val evalSet = bkt.filter($"b" === 9).select($"doc_id", $"text")
    val train = bkt.filter($"b" < 9).select($"doc_id", $"text")
      .unionByName(evalSet.filter($"doc_id" % 3 === 0)
        .select(($"doc_id" + 500000L).as("doc_id"), $"text"))
    TextDedup.decontaminate(train, evalSet, "doc_id", "text", n = 5, minOverlap = 5)
      .orderBy($"id")
  }
  val q113Sql: String = {
    val shingles =
      s"""list_transform(generate_series(1, len(string_split($normSql, ' '))-4),
         |      i -> array_to_string(list_slice(string_split($normSql, ' '), i, i+4), ' '))""".stripMargin
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |ev AS (SELECT doc_id, text FROM bkt WHERE bk = 9),
       |train AS (
       |  SELECT doc_id, text FROM bkt WHERE bk < 9
       |  UNION ALL SELECT doc_id + 500000 AS doc_id, text FROM ev WHERE doc_id % 3 = 0),
       |esh AS (
       |  SELECT DISTINCT s FROM (SELECT unnest($shingles) AS s FROM ev)),
       |tsh AS (
       |  SELECT DISTINCT doc_id AS id, s
       |  FROM (SELECT doc_id, unnest($shingles) AS s FROM train)),
       |hits AS (
       |  SELECT id, count(*) AS n_overlap
       |  FROM tsh JOIN esh USING (s) GROUP BY id),
       |b AS (
       |  SELECT doc_id AS id, len(list_distinct($shingles)) AS n_shingles
       |  FROM train)
       |SELECT b.id, b.n_shingles,
       |       coalesce(h.n_overlap, 0) AS n_overlap,
       |       coalesce(h.n_overlap, 0) < 5 AS keep
       |FROM b LEFT JOIN hits h ON b.id = h.id
       |ORDER BY b.id""".stripMargin
  }

  // --------------------------------------------------------------- q118
  /** Unicode-fold exact dedup
    * ([[graft.operators.TextDedup.exactDedup]] with `unicodeFold`,
    * backed by the engine-native `unicode_normalize` NFKC expression):
    * every document gets TWO planted variants of the same final text —
    * one NFC + ASCII (`… café münchen abc`), one NFD + full-width
    * (`… cafe`+U+0301+` mu`+U+0308+`nchen ＡＢＣ`) — spelled
    * differently at the byte level, identical after NFKC + lowercase.
    * Per source the query reports total rows, distinct NFKC-folded
    * fingerprints, and distinct raw fingerprints: the folded count
    * collapses each pair (= docs), the raw count does not (= 2·docs) —
    * the half-recall failure mode the fold exists to fix, certified in
    * one gate. The oracle restates the fold for the planted characters
    * (`nfc_normalize` composes the NFD sequences; explicit full-width
    * replacement restates NFKC's compatibility folding) with all
    * Unicode characters built via `chr()` — no literal-encoding
    * ambiguity between engines. Scale shape: per-row expression chains
    * into one hash aggregation, nothing else. */
  val q118UnicodeDedup: Q = (s, dir) => {
    import s.implicits._
    graft.plans.GraftFunctions.register(s)
    val base = Tables.documents(s, dir).select($"doc_id", $"source", $"text")
    val nfc = base.select(($"doc_id" * 2).as("id"), $"source",
      concat($"text", lit(" caf\u00e9 m\u00fcnchen abc")).as("txt"))
    val nfd = base.select(($"doc_id" * 2 + 1).as("id"), $"source",
      concat($"text", lit(" cafe\u0301 mu\u0308nchen \uff21\uff22\uff23")).as("txt"))
    nfc.unionByName(nfd)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(TextAnalysis.fingerprintUnicode($"txt")).as("n_uniq_folded"),
        countDistinct(TextAnalysis.fingerprint($"txt")).as("n_uniq_raw"))
      .orderBy($"source")
  }
  val q118Sql: String = {
    // planted characters, all via chr(): é=233, combining acute=769,
    // ü=252, combining diaeresis=776, full-width A/B/C=65313..65315
    val foldedNorm =
      """lower(trim(regexp_replace(nfc_normalize(
        |    replace(replace(replace(txt, chr(65313), 'A'), chr(65314), 'B'),
        |            chr(65315), 'C')), '\s+', ' ', 'g')))""".stripMargin
    val rawNorm = """lower(trim(regexp_replace(txt, '\s+', ' ', 'g')))"""
    s"""WITH u AS (
       |  SELECT doc_id * 2 AS id, source,
       |         text || ' caf' || chr(233) || ' m' || chr(252) || 'nchen abc' AS txt
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id * 2 + 1 AS id, source,
       |         text || ' cafe' || chr(769) || ' mu' || chr(776) || 'nchen '
       |           || chr(65313) || chr(65314) || chr(65315) AS txt
       |  FROM documents)
       |SELECT source, count(*) AS n_rows,
       |       count(DISTINCT md5($foldedNorm)) AS n_uniq_folded,
       |       count(DISTINCT md5($rawNorm)) AS n_uniq_raw
       |FROM u GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q124
  /** BPE merge learning ([[graft.operators.BpeTrain]]) — tokenizer
    * TRAINING on the corpus's own word-frequency table: six rounds of
    * count-adjacent-pairs → merge-the-argmax, the published
    * byte-pair-encoding algorithm, run as iterated aggregation (corpus
    * scanned once; every round works on the vocabulary-sized table and
    * moves ONE row to the driver). The gate is the merge TRAJECTORY
    * `(step, left, right, pair_count)`: counts are exact integer sums,
    * ties break lexicographically, and the merge fold is greedy
    * left-to-right non-overlapping — all replayed by the oracle as six
    * unrolled MATERIALIZED CTE rounds (the q119 pattern), where a
    * wrong tie-break or fold in ANY round derails every later one. */
  val q124BpeTrain: Q = (s, dir) => {
    import s.implicits._
    val freqs = graft.operators.BpeTrain.wordFreqs(Tables.documents(s, dir), "text")
    graft.operators.BpeTrain.learnMerges(s, freqs, merges = 6)
      .map { case (st, l, r, c) => (st.toLong, l, r, c) }
      .toDF("step", "left", "right", "pair_count")
      .orderBy($"step")
  }
  /** Shared oracle CTE chain replaying [[graft.operators.BpeTrain]]'s
    * six learning rounds: `wf` → `w0` → per round `p$e` (pair counts),
    * `m$e` (argmax winner), `w$e` (post-merge vocabulary). ONE text
    * used by both BPE oracles (q124 trajectory, q125 encode) so the
    * SQL cannot drift from the Scala semantics in just one of them. */
  private def bpeCtes(rounds: Int): String =
    bpeCtesG(rounds, "", normSql, charSeedSql)

  /** Char-mode word→symbol-list seed. */
  private val charSeedSql: String => String =
    w => s"list_filter(string_split($w, ''), ch -> ch <> '')"

  /** Byte-level seed: one symbol per UTF-8 byte as a lowercase hex pair
    * — restates [[graft.operators.BpeTrain.seedSyms]] byte mode. */
  private val byteSeedSql: String => String =
    w => s"""list_transform(generate_series(1, octet_length(encode($w))),
            |      i -> lower(substr(hex(encode($w)), 2 * i - 1, 2)))""".stripMargin

  /** Generalized BPE-learning CTE chain: `prefix` namespaces the CTE
    * names so two chains (e.g. char- and byte-mode) can coexist in one
    * query; `txtSql` is the normalized-text expression the
    * word-frequency table tokenizes; `seedSql` renders a word column
    * into its symbol list. The merge rounds themselves are
    * representation-agnostic — symbols are just strings. */
  private def bpeCtesG(rounds: Int, prefix: String, txtSql: String,
                       seedSql: String => String): String = {
    val p = prefix
    val rs = (1 to rounds).map { e =>
      s"""${p}p$e AS MATERIALIZED (
         |  SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
         |          i -> {'l': s[i], 'r': s[i + 1]})) AS pr
         |        FROM ${p}w${e - 1}) GROUP BY pr.l, pr.r),
         |${p}m$e AS MATERIALIZED (
         |  SELECT l, r, cnt FROM ${p}p$e ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |${p}w$e AS MATERIALIZED (
         |  -- the winner rides the row via cross join: DuckDB lambdas
         |  -- may reference row columns but not subqueries
         |  SELECT list_reduce(list_transform(s, x -> [x]),
         |    (acc, xl) -> CASE WHEN len(acc) > 0
         |        AND acc[-1] = m.l AND xl[1] = m.r
         |      THEN list_append(acc[1:len(acc) - 1], m.l || m.r)
         |      ELSE list_append(acc, xl[1]) END) AS s, freq
         |  FROM ${p}w${e - 1}, ${p}m$e m)""".stripMargin
    }.mkString(",\n")
    s"""${p}wf AS MATERIALIZED (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest(string_split($txtSql, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |${p}w0 AS MATERIALIZED (
       |  SELECT ${seedSql("word")} AS s,
       |         CAST(freq AS BIGINT) AS freq
       |  FROM ${p}wf WHERE length(word) > 0),
       |$rs""".stripMargin
  }
  val q124Sql: String =
    s"""WITH ${bpeCtes(6)}
       |${(1 to 6).map(e =>
            s"SELECT CAST($e AS BIGINT) AS step, l AS \"left\", r AS \"right\", cnt AS pair_count FROM m$e")
          .mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY step""".stripMargin

  // --------------------------------------------------------------- q200
  /** BATCHED BPE merge learning
    * ([[graft.operators.BpeTrain.learnMergesBatched]]) — the
    * production-vocab-scale trainer: top-`batch` mutually
    * non-conflicting merges per count-scan, cutting heavy job count to
    * ~vocab/batch. Three sections on one hash:
    *
    *  - `seq_fixture` / `batched_fixture`: the EQUIVALENCE proof. The
    *    corpus's top-6 word frequencies are re-labeled onto disjoint
    *    two-letter words (one adjacent pair each, own alphabet), so
    *    merges can neither create nor destroy each other's occurrences
    *    and batched(2) ≡ sequential PROVABLY — both trajectories must
    *    equal the closed-form (cnt desc, l, r) rank the oracle states.
    *  - `batched_corpus`: the batched rule on the REAL word-frequency
    *    table, oracle-replayed in full generality — per round one pair
    *    count, argmax accept, the conflict-filtered second accept
    *    (blocked = {l, r, l||r} of the first), and the two-merge fold
    *    feeding the next round. */
  val q200BpeBatched: Q = (s, dir) => {
    import s.implicits._
    val wf = graft.operators.BpeTrain
      .wordFreqs(Tables.documents(s, dir), "text")
      .localCheckpoint() // feeds three trainings
    val fix = wf
      .select($"freq", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy($"freq".desc, $"word".asc)).as("rk"))
      .filter($"rk" <= 6)
      .select(expr("concat(char(95 + 2 * rk), char(96 + 2 * rk))").as("word"),
        $"freq")
      .localCheckpoint()
    val seqT = graft.operators.BpeTrain.learnMerges(s, fix, merges = 6)
    val batT = graft.operators.BpeTrain
      .learnMergesBatched(s, fix, merges = 6, batch = 2)
    val corT = graft.operators.BpeTrain
      .learnMergesBatched(s, wf, merges = 6, batch = 2)
    (seqT.map(("seq_fixture", _)) ++ batT.map(("batched_fixture", _)) ++
        corT.map(("batched_corpus", _)))
      .map { case (v, (st, l, r, c)) => (v, st.toLong, l, r, c) }
      .toDF("variant", "step", "left", "right", "pair_count")
      .orderBy($"variant", $"step")
  }
  val q200Sql: String = {
    def bround(e: Int, emitFold: Boolean): String = {
      val prev = if (e == 1) "w0" else s"bw${e - 1}"
      val sel =
        s"""b${e}p AS MATERIALIZED (
           |  SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
           |          i -> {'l': s[i], 'r': s[i + 1]})) AS pr
           |        FROM $prev) GROUP BY pr.l, pr.r),
           |b${e}a1 AS MATERIALIZED (
           |  SELECT l, r, cnt FROM b${e}p ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
           |b${e}a2 AS MATERIALIZED (
           |  -- loud structural assert: this unrolled oracle encodes
           |  -- EXACTLY two accepted merges per round; if the conflict
           |  -- filter ever leaves no second candidate the engine would
           |  -- accept one and recount (a different trajectory), so an
           |  -- empty candidate set must fail the oracle, not silently
           |  -- collapse the bw$e fold
           |  SELECT CASE WHEN c.l IS NULL THEN error(
           |           'q200 oracle: b${e}a2 empty - round $e accepted <2 merges; unrolled 2-per-round structure diverges from learnMergesBatched')
           |         ELSE c.l END AS l, c.r AS r, c.cnt AS cnt
           |  FROM (SELECT 1 AS one) LEFT JOIN (
           |    SELECT p.l, p.r, p.cnt FROM b${e}p p, b${e}a1 m
           |    WHERE p.l NOT IN (m.l, m.r, m.l || m.r)
           |      AND p.r NOT IN (m.l, m.r, m.l || m.r)
           |      AND p.l || p.r NOT IN (m.l, m.r, m.l || m.r)
           |    ORDER BY p.cnt DESC, p.l ASC, p.r ASC LIMIT 1) c ON true)""".stripMargin
      if (!emitFold) sel
      else sel + ",\n" +
        s"""bw$e AS MATERIALIZED (
           |  SELECT list_reduce(list_transform(
           |           list_reduce(list_transform(s, x -> [x]),
           |             (acc, xl) -> CASE WHEN len(acc) > 0
           |                 AND acc[-1] = m1.l AND xl[1] = m1.r
           |               THEN list_append(acc[1:len(acc) - 1], m1.l || m1.r)
           |               ELSE list_append(acc, xl[1]) END),
           |           x -> [x]),
           |         (acc, xl) -> CASE WHEN len(acc) > 0
           |             AND acc[-1] = m2.l AND xl[1] = m2.r
           |           THEN list_append(acc[1:len(acc) - 1], m2.l || m2.r)
           |           ELSE list_append(acc, xl[1]) END) AS s, freq
           |  FROM $prev, b${e}a1 m1, b${e}a2 m2)""".stripMargin
    }
    val corpusRows = (1 to 3).flatMap { e =>
      Seq(
        s"""SELECT 'batched_corpus' AS variant, CAST(${2 * e - 1} AS BIGINT) AS step,
           |       l AS "left", r AS "right", cnt AS pair_count FROM b${e}a1""".stripMargin,
        s"""SELECT 'batched_corpus', CAST(${2 * e} AS BIGINT), l, r, cnt FROM b${e}a2""")
    }.mkString("\nUNION ALL\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest(string_split($normSql, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |top6 AS (
       |  SELECT freq, rk FROM (
       |    SELECT freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS rk
       |    FROM wf)
       |  WHERE rk <= 6),
       |fixm AS (
       |  SELECT chr(CAST(95 + 2 * rk AS INTEGER)) AS l,
       |         chr(CAST(96 + 2 * rk AS INTEGER)) AS r,
       |         CAST(freq AS BIGINT) AS cnt
       |  FROM top6),
       |fixtraj AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS BIGINT) AS step,
       |         l, r, cnt
       |  FROM fixm),
       |w0 AS MATERIALIZED (
       |  SELECT ${charSeedSql("word")} AS s,
       |         CAST(freq AS BIGINT) AS freq
       |  FROM wf WHERE length(word) > 0),
       |${bround(1, emitFold = true)},
       |${bround(2, emitFold = true)},
       |${bround(3, emitFold = false)}
       |SELECT variant, step, "left", "right", pair_count FROM (
       |  SELECT 'seq_fixture' AS variant, step, l AS "left", r AS "right",
       |         cnt AS pair_count FROM fixtraj
       |  UNION ALL
       |  SELECT 'batched_fixture', step, l, r, cnt FROM fixtraj
       |  UNION ALL
       |$corpusRows)
       |ORDER BY variant, step""".stripMargin
  }

  // --------------------------------------------------------------- q133
  /** INCREMENTAL BPE vocabulary maintenance
    * ([[graft.operators.BpeTrain.mergeFreqs]]) — the production
    * tokenizer-refresh shape: the base corpus's word-frequency table is
    * the PERSISTED tokenizer state (vocabulary-sized parquet, the q107
    * store pattern); a delta shard arrives, only the DELTA is scanned
    * ([[graft.operators.BpeTrain.wordFreqs]] over the delta docs), the
    * two frequency tables merge additively, and the merge trajectory is
    * re-learned from the merged table without ever re-reading the base
    * corpus text. Because `wordFreqs` is a pure additive group-by,
    * `train(base) + update(delta) ≡ train(base ∪ delta)` EXACTLY — so
    * the oracle is q124's full-corpus replay (six unrolled CTE rounds
    * over ALL documents): any drift between the incremental path and a
    * full retrain flips the trajectory. */
  val q133BpeIncremental: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val bucket = graft.operators.Sampling.hashBucket($"doc_id", 10)
    // learnMerges returns the trajectory to the driver, so the result
    // frame never reads the state store after its dir is deleted
    val trajectory = Scratch.withTempDir("q133_freqs") { storeDir =>
      // state write: what a PRIOR training run would have persisted
      graft.operators.BpeTrain
        .wordFreqs(docs.filter(bucket < 8), "text")
        .write.mode("overwrite").parquet(storeDir)
      // refresh: delta scan + vocabulary-sized merge + re-learn
      val merged = graft.operators.BpeTrain.mergeFreqs(
        s.read.parquet(storeDir),
        graft.operators.BpeTrain.wordFreqs(docs.filter(bucket >= 8), "text"))
      graft.operators.BpeTrain.learnMerges(s, merged, merges = 6)
    }
    trajectory
      .map { case (st, l, r, c) => (st.toLong, l, r, c) }
      .toDF("step", "left", "right", "pair_count")
      .orderBy($"step")
  }

  // --------------------------------------------------------------- q125
  /** BPE ENCODE with the learned merges
    * ([[graft.operators.BpeTrain.encode]]) — the apply half of the
    * tokenizer loop: train six merges on the corpus (q124's
    * trajectory, memoized per sf), then tokenize every document by
    * replaying the merges in learned order as chained per-row folds.
    * Gated on the NATIVE kernel ([[graft.operators.BpeTrain.subwordCount]]
    * → [[graft.plans.BpeSubwordCount]]): one codegen'd scan, merge
    * list riding the plan as a reference object, no model join — the
    * production tokenizer path; the HOF fold chain is its spec-pinned
    * twin. Per source the gate reports word and subword totals —
    * subwords < raw characters proves the merges actually compress,
    * and a wrong merge ORDER (not just a wrong merge set) changes the
    * greedy pass output and flips the totals. The oracle replays
    * training AND encoding: the same six fold CTEs applied per
    * document token. */
  val q125BpeEncode: Q = (s, dir) => {
    import s.implicits._
    val merges = bpeMerges(s, dir)
    Tables.documents(s, dir)
      .select($"source",
        // NON-EMPTY tokens only, and docs with zero of them are dropped
        // below — the oracle's t0 filters w <> '' and takes n_docs from
        // t6, so a blank/whitespace-only document must not count as one
        // word here (wsTokens of "" is [""], size 1)
        size(filter(graft.functions.TextAnalysis.wsTokens($"text"),
          t => t =!= "")).as("w"),
        graft.operators.BpeTrain.subwordCount($"text", merges).as("sw"))
      .filter($"w" > 0)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"w").as("n_words"),
        sum($"sw").as("n_subwords"))
      .orderBy($"source")
  }
  /** The six merges learned on `dir`'s corpus (q124's trajectory) and
    * the vocabulary they induce: in-memory [[Scratch.session]] values,
    * trained once per session, so a cold pass carries the full
    * train-and-apply cost instead of a cache hit. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    Scratch.session("bpe_merges", dir)(_ =>
      graft.operators.BpeTrain.learnMerges(s,
        graft.operators.BpeTrain.wordFreqs(Tables.documents(s, dir), "text"),
        merges = 6).map { case (_, l, r, _) => (l, r) })
  private def bpeVocab(s: SparkSession, dir: String): Map[String, Int] =
    Scratch.session("bpe_vocab", dir)(_ =>
      graft.operators.BpeTrain.buildVocab(
        graft.operators.BpeTrain.wordFreqs(Tables.documents(s, dir), "text"),
        bpeMerges(s, dir)))
  val q125Sql: String = {
    val applyRounds = (1 to 6).map { e =>
      s"""t$e AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, xl) -> CASE WHEN len(acc) > 0
         |          AND acc[-1] = m.l AND xl[1] = m.r
         |        THEN list_append(acc[1:len(acc) - 1], m.l || m.r)
         |        ELSE list_append(acc, xl[1]) END) AS s
         |  FROM t${e - 1}, m$e m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeCtes(6)},
       |t0 AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         list_filter(string_split(w, ''), ch -> ch <> '') AS s
       |  FROM (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS w
       |        FROM documents)
       |  WHERE w <> ''),
       |$applyRounds
       |SELECT source, count(DISTINCT doc_id) AS n_docs,
       |       count(*) AS n_words,
       |       CAST(sum(len(s)) AS BIGINT) AS n_subwords
       |FROM t6 GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q126
  /** Token-id training pipeline END-TO-END — text → BPE token-id
    * arrays ([[graft.operators.BpeTrain.encodeIds]], the native
    * [[graft.plans.BpeEncodeIds]] kernel: one codegen'd scan, vocab and
    * merges riding the plan as reference objects) → token-budget FFD
    * packing ([[graft.operators.Packing.ffdPack]], capacity 512) →
    * per-bin training-example assembly
    * ([[graft.operators.Packing.assembleSequences]]). The gate row is
    * one TRAINING EXAMPLE (a packed bin): doc count, id-sequence span,
    * total token count, and an md5 digest of the concatenated id
    * sequences in doc order — so a single wrong token id, a doc in the
    * wrong bin, or a wrong assembly order anywhere in the corpus flips
    * at least one hash. The oracle replays the ENTIRE pipeline:
    * training (six unrolled CTE rounds), the deterministic vocabulary
    * (base symbols in binary order, merge products appended in learned
    * order, first assignment wins), per-doc encoding (nested
    * list_reduce per word, word order preserved), id lookup, the FFD
    * fold, and the per-bin string_agg digest.
    *
    * Scale shape: encode is a shuffle-free scan; packing is the q121
    * two-shuffle bucket fold with corpus-proportional bucket count;
    * assembly is one hash aggregation keyed by bin. Nothing
    * corpus-sized ever reaches the driver — the vocab collect is
    * alphabet+merges rows. */
  val q126TokenPipeline: Q = (s, dir) => {
    import s.implicits._
    val merges = bpeMerges(s, dir)
    val vocab = bpeVocab(s, dir)
    // tokenize ONCE, into SCRATCH PARQUET rather than an eager cache:
    // the encoded-ids table is corpus-sized (one ids string per doc),
    // and three consumers read it (bucket-sizing count, packing fold,
    // ids_str join). A heap checkpoint of that table churns block
    // memory at scale (measured: 100× probe runs degraded run-over-run
    // as cached blocks accumulated); the production shape is exactly
    // this write — tokenizer output lands in storage once, downstream
    // stages scan it. The small final result is materialized before
    // the scratch dir is deleted (the q106 lifecycle pattern).
    Scratch.withTempDir("graft_tokids") { idsDir =>
      // the eligible-doc count (sizes the FFD buckets) rides the write
      // pass as an observed metric — zero extra scans of the scratch
      // table, vs a separate count() job re-reading it
      val elig = org.apache.spark.sql.Observation("q126_eligible")
      Tables.documents(s, dir)
        .select($"doc_id",
          graft.operators.BpeTrain.encodeIds($"text", merges, vocab).as("ids"))
        .select($"doc_id", array_join($"ids", ",").as("ids_str"),
          size($"ids").cast("long").as("n_toks"))
        .observe(elig, coalesce(sum(
          when($"n_toks" > 0 && $"n_toks" <= 512, 1L).otherwise(0L)),
          lit(0L)).as("n_eligible"))
        .write.parquet(idsDir)
      val docs = s.read.parquet(idsDir)
      val nEligible = elig.get("n_eligible").asInstanceOf[Long]
      packTokenShards(docs, nEligible)
        .orderBy($"bin_key")
        .localCheckpoint() // bins-sized; materialize before scratch cleanup
    }
  }
  /** Shared pack-and-assemble tail of q126 (whole corpus) and q135 (per
    * micro-batch): FFD-pack the encoded docs into 512-token bins
    * (bucket count scaled to `nEligible`), join the id sequences back,
    * and assemble one digest row per bin. Input: `(doc_id, ids_str,
    * n_toks)`. Output: the q126 gate shape `(bin_key, n_docs,
    * first_doc, last_doc, bin_tokens, digest)`, unordered. */
  private[graft] def packTokenShards(docs: org.apache.spark.sql.DataFrame,
                              nEligible: Long): org.apache.spark.sql.DataFrame = {
    val buckets = math.max(1L, math.ceil(nEligible / 64.0).toLong).toInt
    val packed = graft.operators.Packing
      .ffdPack(docs, "doc_id", "n_toks", capacity = 512L, buckets = buckets)
      .join(docs.select(col("doc_id").as("id"), col("ids_str")), "id")
      .withColumn("bin_key", concat_ws(":", col("bucket"), col("bin")))
    val assembled = graft.operators.Packing
      .assembleSequences(packed, "bin_key", "id", col("ids_str"))
    val toks = packed.groupBy(col("bin_key")).agg(sum(col("len")).as("bin_tokens"))
    assembled.join(toks, "bin_key")
      .select(col("bin_key"), col("n_events").as("n_docs"),
        col("first_ord").cast("long").as("first_doc"),
        col("last_ord").cast("long").as("last_doc"),
        col("bin_tokens"), col("digest"))
  }

  // --------------------------------------------------------------- q135
  /** STREAMING token pipeline — the production shape of a training-data
    * tokenizer stage (streaming ingest → tokenized shards), composing
    * r8's two halves: documents arrive as a FILE STREAM, token-id
    * emission runs as a STATELESS per-row projection (the codegen'd
    * [[graft.plans.BpeEncodeIds]] kernel — no state store, no shuffle
    * in the stream plan), and each micro-batch FFD-packs its own docs
    * into 512-token training shards via `foreachBatch` + the IDEMPOTENT
    * batch-partitioned parquet sink
    * ([[graft.streaming.EventStreams.writeBatchIdempotent]] — a
    * replayed batch overwrites its own `batch_id` partition, so the
    * shard store is exactly-once-effective under foreachBatch's
    * at-least-once contract). The gate reads the persisted shard store
    * back and must CHECKSUM-MATCH the batch q126 pipeline on the same
    * corpus (same oracle): the test corpus arrives in one micro-batch,
    * so per-batch packing ≡ whole-corpus packing — any drift in the
    * streaming projection, the per-batch bucket sizing, the sink
    * layout, or the read-back flips a digest. Multi-batch packing
    * independence is pinned separately in `StreamingSpec`. */
  val q135StreamTokenPipeline: Q = (s, dir) => {
    import s.implicits._
    val merges = bpeMerges(s, dir)
    val vocab = bpeVocab(s, dir)
    val file = s"$dir/documents.parquet"
    val watch = QueriesStreaming.streamableDir(dir, "documents.parquet", "q135_docs")
    val schema = s.read.parquet(file).schema
    val encoded = s.readStream.schema(schema).parquet(watch)
      .select($"doc_id",
        graft.operators.BpeTrain.encodeIds($"text", merges, vocab).as("ids"))
      .select($"doc_id", array_join($"ids", ",").as("ids_str"),
        size($"ids").cast("long").as("n_toks"))
    // run-unique shard store: the sink is idempotent WITHIN a run
    // (batch_id partitions); a previous run's shards must not leak in.
    // The stream runs inside withTempDir: a failing batch must not leak
    // the shard store or its checkpoint
    Scratch.withTempDir("graft_tokshards") { base =>
      val outDir = s"$base/shards"
      graft.streaming.EventStreams.runMicroBatches(s)(encoded.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            // batch-sized; feeds the eligible count AND the pack/join
            val docs = batch.toDF().localCheckpoint()
            val n = docs.filter($"n_toks" > 0 && $"n_toks" <= 512).count()
            graft.streaming.EventStreams.writeBatchIdempotent(
              packTokenShards(docs, n), batchId, outDir)
        }
        .start()
      )
      s.read.parquet(outDir)
        .select($"bin_key", $"n_docs", $"first_doc", $"last_doc",
          $"bin_tokens", $"digest")
        .orderBy($"bin_key")
        .localCheckpoint() // bins-sized; materialize before scratch cleanup
    }
  }

  val q126Sql: String = {
    val digits = md5Bits32Sql("md5(CAST(doc_id AS VARCHAR))")
    val applyRounds = (1 to 6).map { e =>
      s"""e$e AS MATERIALIZED (
         |  SELECT doc_id, list_transform(wss, s ->
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, xl) -> CASE WHEN len(acc) > 0
         |          AND acc[-1] = m.l AND xl[1] = m.r
         |        THEN list_append(acc[1:len(acc) - 1], m.l || m.r)
         |        ELSE list_append(acc, xl[1]) END)) AS wss
         |  FROM e${e - 1}, m$e m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeCtes(6)},
       |vsyms AS MATERIALIZED (SELECT DISTINCT unnest(s) AS sym FROM w0),
       |basev AS MATERIALIZED (
       |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
       |  FROM vsyms),
       |mrg AS (${(1 to 6).map(e =>
            s"SELECT $e AS step, l, r FROM m$e").mkString(" UNION ALL ")}),
       |vocab AS MATERIALIZED (
       |  SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (
       |    SELECT sym, id FROM basev
       |    UNION ALL
       |    SELECT l || r AS sym, (SELECT count(*) FROM basev) + step - 1 AS id
       |    FROM mrg)
       |  GROUP BY sym),
       |e0 AS MATERIALIZED (
       |  SELECT doc_id, list_transform(
       |    list_filter(string_split($normSql, ' '), w -> w <> ''),
       |    w -> list_filter(string_split(w, ''), ch -> ch <> '')) AS wss
       |  FROM documents),
       |$applyRounds,
       |enc AS MATERIALIZED (SELECT doc_id, flatten(wss) AS syms FROM e6),
       |fx AS (SELECT doc_id, unnest(syms) AS sym,
       |              unnest(generate_series(1, len(syms))) AS ord FROM enc),
       |ids AS MATERIALIZED (
       |  SELECT doc_id, string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY ord) AS ids_str,
       |         CAST(count(*) AS BIGINT) AS n_toks
       |  FROM fx JOIN vocab v ON fx.sym = v.sym GROUP BY doc_id),
       |f0 AS (SELECT doc_id, n_toks AS len, ids_str FROM ids
       |       WHERE n_toks > 0 AND n_toks <= 512),
       |nb AS (
       |  SELECT CAST(greatest(1, ceil(count(*) / 64.0)) AS BIGINT) AS b FROM f0),
       |f AS (
       |  SELECT doc_id, len, ids_str, (($digits) % (SELECT b FROM nb)) AS bucket
       |  FROM f0),
       |g AS (
       |  SELECT bucket,
       |    list_sort(list({'nl': -len, 'id': doc_id, 'len': len})) AS ds
       |  FROM f GROUP BY bucket),
       |p AS (
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
       |                 + x[1].len <= 512)[1],
       |          COALESCE(list_max(list_transform(a, s -> s.bin)), 0) + 1)}))
       |      AS packed
       |  FROM g),
       |pk AS (SELECT bucket, a.id AS doc_id, a.len AS len, a.bin AS bin
       |       FROM (SELECT bucket, unnest(packed) AS a FROM p))
       |SELECT CAST(pk.bucket AS VARCHAR) || ':' || CAST(pk.bin AS VARCHAR) AS bin_key,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(min(pk.doc_id) AS BIGINT) AS first_doc,
       |       CAST(max(pk.doc_id) AS BIGINT) AS last_doc,
       |       CAST(sum(pk.len) AS BIGINT) AS bin_tokens,
       |       md5(string_agg(f.ids_str, '|' ORDER BY pk.doc_id)) AS digest
       |FROM pk JOIN f ON pk.doc_id = f.doc_id
       |GROUP BY pk.bucket, pk.bin
       |ORDER BY bin_key""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** BYTE-LEVEL BPE vs char-level BPE — production tokenizers merge
    * UTF-8 BYTES over a fixed 256-symbol base alphabet (byte fallback:
    * no character can ever be out-of-vocabulary), not characters. The
    * corpus is ASCII, where the two modes coincide, so the gate derives
    * a multi-byte fixture deterministically (`replace(text, 'e', 'é')`
    * — é is 2 UTF-8 bytes, c3 a9) and learns six merges in BOTH modes
    * ([[graft.operators.BpeTrain.learnMerges]] `byteLevel`): the
    * trajectories PROVABLY diverge (byte mode merges the (c3, a9)
    * fragment pair that char mode cannot even see), and the oracle
    * replays both chains — char seeding by code point, byte seeding by
    * hex pair — through the same unrolled merge rounds. Byte symbols
    * surface as lowercase hex pairs, the cross-engine-stable rendering
    * ([[graft.plans.BpeSubwordCount]] byte mode uses the identical
    * form, so these merges drive the native kernel directly). */
  val q127ByteBpe: Q = (s, dir) => {
    import s.implicits._
    val fixture = Tables.documents(s, dir)
      .withColumn("text", regexp_replace($"text", "e", "é"))
    val freqs = graft.operators.BpeTrain.wordFreqs(fixture, "text")
      .localCheckpoint() // both modes seed from the one corpus pass
    val ch = graft.operators.BpeTrain.learnMerges(s, freqs, merges = 6)
    val by = graft.operators.BpeTrain
      .learnMerges(s, freqs, merges = 6, byteLevel = true)
    (ch.map { case (st, l, r, c) => ("char", st.toLong, l, r, c) } ++
      by.map { case (st, l, r, c) => ("byte", st.toLong, l, r, c) })
      .toDF("enc_mode", "step", "left", "right", "pair_count")
      .orderBy($"enc_mode", $"step")
  }
  val q127Sql: String = {
    val fixtureNorm =
      """lower(trim(regexp_replace(replace(text, 'e', 'é'), '\s+', ' ', 'g')))"""
    s"""WITH ${bpeCtesG(6, "c", fixtureNorm, charSeedSql)},
       |${bpeCtesG(6, "b", fixtureNorm, byteSeedSql)}
       |${(1 to 6).map(e =>
            s"SELECT 'char' AS enc_mode, CAST($e AS BIGINT) AS step, l AS \"left\", r AS \"right\", cnt AS pair_count FROM cm$e")
          .mkString("\n", "\nUNION ALL\n", "")}
       |UNION ALL
       |${(1 to 6).map(e =>
            s"SELECT 'byte' AS enc_mode, CAST($e AS BIGINT) AS step, l AS \"left\", r AS \"right\", cnt AS pair_count FROM bm$e")
          .mkString("\nUNION ALL\n")}
       |ORDER BY enc_mode, step""".stripMargin
  }

  // --------------------------------------------------------------- q131
  /** Detokenize ROUND-TRIP — the closing identity of the tokenizer
    * loop: for every document, in BOTH encodings,
    * `decode(encode(text))` must reproduce the normalized text with
    * spaces removed (word boundaries are not encoded — no space
    * symbol; everything else must survive id-space and back exactly).
    * Char mode re-joins symbols; byte mode re-assembles hex pairs into
    * UTF-8 ([[graft.operators.BpeTrain.decodeIds]]). The byte fixture
    * is q127's multi-byte derivation, so the UTF-8 re-assembly is
    * genuinely exercised (é must come back from c3+a9, whatever merge
    * state its bytes ended up in). Per (mode, source) the gate reports
    * doc count, total round-tripped characters (the oracle computes
    * the same number from the TEXT alone — no tokenizer on its side)
    * and a mismatch count whose closed form is 0: an id collision, a
    * wrong inverse mapping, a dropped symbol, or a broken unhex path
    * shows up as mismatches and a shifted char total. */
  val q131Detokenize: Q = (s, dir) => {
    import s.implicits._
    val merges = bpeMerges(s, dir)
    val vocab = bpeVocab(s, dir)
    val byteFix = Tables.documents(s, dir)
      .withColumn("text", regexp_replace($"text", "e", "é"))
    val byteFreqs = graft.operators.BpeTrain.wordFreqs(byteFix, "text")
      .localCheckpoint()
    val bMerges = graft.operators.BpeTrain
      .learnMerges(s, byteFreqs, merges = 6, byteLevel = true)
      .map { case (_, l, r, _) => (l, r) }
    val bVocab = graft.operators.BpeTrain
      .buildVocab(byteFreqs, bMerges, byteLevel = true)
    def lane(df: org.apache.spark.sql.DataFrame, mode: String,
             m: Seq[(String, String)], v: Map[String, Int],
             byteLevel: Boolean) = {
      val stripped = regexp_replace(
        graft.functions.TextAnalysis.normalizeText($"text"), " ", "")
      df.select($"source",
          graft.operators.BpeTrain.decodeIds(
            graft.operators.BpeTrain.encodeIds($"text", m, v, byteLevel),
            v, byteLevel).as("rt"),
          stripped.as("want"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"rt")).as("n_chars"),
          // null-safe: a broken decode path returning null must count as
          // a mismatch, not vanish (=!= yields null when rt is null)
          sum(when(!($"rt" <=> $"want"), 1L).otherwise(0L)).as("n_mismatch"))
        .select(lit(mode).as("enc_mode"), $"source", $"n_docs", $"n_chars",
          $"n_mismatch")
    }
    lane(Tables.documents(s, dir), "char", merges, vocab, byteLevel = false)
      .unionByName(lane(byteFix, "byte", bMerges, bVocab, byteLevel = true))
      .orderBy($"enc_mode", $"source")
  }
  val q131Sql: String = {
    val fixNorm =
      """lower(trim(regexp_replace(replace(text, 'e', 'é'), '\s+', ' ', 'g')))"""
    s"""SELECT 'byte' AS enc_mode, source, count(*) AS n_docs,
       |  CAST(sum(length(replace($fixNorm, ' ', ''))) AS BIGINT) AS n_chars,
       |  CAST(0 AS BIGINT) AS n_mismatch
       |FROM documents GROUP BY source
       |UNION ALL
       |SELECT 'char' AS enc_mode, source, count(*) AS n_docs,
       |  CAST(sum(length(replace($normSql, ' ', ''))) AS BIGINT) AS n_chars,
       |  CAST(0 AS BIGINT) AS n_mismatch
       |FROM documents GROUP BY source
       |ORDER BY enc_mode, source""".stripMargin
  }

  // --------------------------------------------------------------- q136
  /** Pure-SQL curation surface — the engine driven end-to-end by SQL
    * TEXT alone (q115 proved the session-registry path for
    * `cosine_similarity`; this gate does it for the tokenizer kernels):
    * [[graft.plans.GraftFunctions]] registers `bpe_subword_count` /
    * `bpe_encode_ids`, the trained model rides the query string as
    * escaped literals ([[graft.plans.GraftFunctions.mergesToSpec]] /
    * `vocabToSpec` — a BPE model is metadata-sized), and the query is
    * ONE `spark.sql(...)` call: exact dedup (keep the smallest doc per
    * content fingerprint) → per-source doc/subword totals via the
    * codegen'd subword kernel → a token-id checksum via the codegen'd
    * id-emission kernel folded with a SQL lambda. A user without any
    * Scala can run the curation pipeline; the oracle replays training,
    * vocabulary, dedup, encoding and the id sum. */
  val q136SqlCuration: Q = (s, dir) => {
    graft.plans.GraftFunctions.register(s)
    val merges = bpeMerges(s, dir)
    val vocab = bpeVocab(s, dir)
    def sqlLit(x: String) = x.replace("\\", "\\\\").replace("'", "\\'")
    val mspec = sqlLit(graft.plans.GraftFunctions.mergesToSpec(merges))
    val vspec = sqlLit(graft.plans.GraftFunctions.vocabToSpec(vocab))
    Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
    s.sql(s"""
      |WITH kept AS (
      |  SELECT doc_id, source, text FROM (
      |    SELECT doc_id, source, text,
      |           row_number() OVER (
      |             PARTITION BY md5(lower(trim(regexp_replace(text, '\\\\s+', ' '))))
      |             ORDER BY doc_id) AS rn
      |    FROM graft_docs) WHERE rn = 1)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(bpe_subword_count(text, '$mspec')) AS BIGINT) AS n_subwords,
      |       CAST(sum(aggregate(bpe_encode_ids(text, '$mspec', '$vspec'),
      |                          CAST(0 AS BIGINT), (a, x) -> a + x))
      |            AS BIGINT) AS id_sum
      |FROM kept
      |WHERE size(filter(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' '),
      |                  t -> t != '')) > 0
      |GROUP BY source ORDER BY source""".stripMargin)
  }
  val q136Sql: String = {
    val applyRounds = (1 to 6).map { e =>
      s"""s$e AS MATERIALIZED (
         |  SELECT doc_id, source, list_transform(wss, s ->
         |    list_reduce(list_transform(s, x -> [x]),
         |      (acc, xl) -> CASE WHEN len(acc) > 0
         |          AND acc[-1] = m.l AND xl[1] = m.r
         |        THEN list_append(acc[1:len(acc) - 1], m.l || m.r)
         |        ELSE list_append(acc, xl[1]) END)) AS wss
         |  FROM s${e - 1}, m$e m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeCtes(6)},
       |vsyms AS MATERIALIZED (SELECT DISTINCT unnest(s) AS sym FROM w0),
       |basev AS MATERIALIZED (
       |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
       |  FROM vsyms),
       |mrg AS (${(1 to 6).map(e =>
            s"SELECT $e AS step, l, r FROM m$e").mkString(" UNION ALL ")}),
       |vocab AS MATERIALIZED (
       |  SELECT sym, CAST(min(id) AS BIGINT) AS id FROM (
       |    SELECT sym, id FROM basev
       |    UNION ALL
       |    SELECT l || r AS sym, (SELECT count(*) FROM basev) + step - 1 AS id
       |    FROM mrg)
       |  GROUP BY sym),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |           row_number() OVER (PARTITION BY md5($normSql)
       |                              ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id, source, list_transform(
       |    list_filter(string_split($normSql, ' '), w -> w <> ''),
       |    w -> list_filter(string_split(w, ''), ch -> ch <> '')) AS wss
       |  FROM kept),
       |$applyRounds,
       |fx AS (SELECT doc_id, source, unnest(flatten(wss)) AS sym FROM s6),
       |perdoc AS MATERIALIZED (
       |  SELECT doc_id, source, count(*) AS n_sub, sum(v.id) AS ids
       |  FROM fx JOIN vocab v ON fx.sym = v.sym GROUP BY doc_id, source)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       |       CAST(sum(ids) AS BIGINT) AS id_sum
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q138
  /** Sketch-verified exact heavy hitters
    * ([[graft.operators.HeavyHitters]]): token-initial frequencies
    * over the documents corpus, keys with frequency > 5% — candidates
    * from a single-scan Misra-Gries summary (capacity ⌈1/ε⌉ = 20,
    * partial-aggregated map-side so the shuffle carries partition
    * summaries, never the key space), then an exact verify pass over
    * the ≤ 20 candidates only. The OUTPUT is exact regardless of which
    * extra candidates the sketch surfaces, so the oracle is the plain
    * exact GROUP BY + HAVING — the gate certifies the two-pass path
    * loses nothing. `HeavyHittersSpec` pins the sketch's superset
    * guarantee under eviction and cross-partitioning determinism. */
  val q138HeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(regexp_extract_all(lower($"text"),
        lit("[a-z]+"), lit(0))).as("w"))
      .select(substring($"w", 1, 1).as("ch"))
    graft.operators.HeavyHitters.heavyHitters(toks, $"ch", eps = 0.05)
      .withColumnRenamed("key", "ch")
      .orderBy($"ch")
  }
  val q138Sql: String =
    """WITH toks AS (
      |  SELECT substr(w, 1, 1) AS ch FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |    FROM documents)),
      |tot AS (SELECT count(*) AS n FROM toks)
      |SELECT ch, count(*) AS cnt,
      |       round(count(*) / (SELECT n * 1.0 FROM tot), 4) AS freq
      |FROM toks GROUP BY ch
      |HAVING count(*) > 0.05 * (SELECT n FROM tot)
      |ORDER BY ch""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Duplicated-span removal
    * ([[graft.operators.TextDedup.removeDuplicatedSpans]], the
    * ExactSubstr shape of Lee et al. 2022): every 8-token gram
    * occurring ≥ 2 times anywhere in the corpus marks its span,
    * overlapping spans merge per document (gaps-and-islands over the
    * duplicated positions only), and the merged spans are cut out —
    * boilerplate removed, unique prose kept. The oracle replays
    * tokenization, gram fingerprints, the global count, the island
    * merge and the indexed rewrite. */
  val q140SpanDedup: Q = (s, dir) => {
    import s.implicits._
    graft.operators.TextDedup.removeDuplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", n = 8, minCount = 2)
      .orderBy($"doc_id")
  }
  val q140Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS pos, toks FROM t),
       |fp AS (SELECT doc_id, pos,
       |         md5(list_aggregate(list_slice(toks, pos, pos + 7), 'string_agg', ' ')) AS h
       |       FROM g),
       |cnt AS (SELECT h FROM fp GROUP BY h HAVING count(*) >= 2),
       |dup AS (SELECT f.doc_id, f.pos FROM fp f JOIN cnt USING (h)),
       |flagged AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos >= coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
       |  FROM dup),
       |isl AS (SELECT doc_id, pos,
       |          sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM flagged),
       |ivs AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e FROM isl GROUP BY doc_id, island),
       |perdoc AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs,
       |                  sum(e - s) AS n_removed
       |           FROM ivs GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CASE WHEN p.ivs IS NULL THEN list_aggregate(t.toks, 'string_agg', ' ')
       |  ELSE coalesce(list_aggregate(
       |    list_transform(
       |      list_filter(generate_series(1, len(t.toks)),
       |        i -> len(list_filter(p.ivs, iv -> i >= iv.s AND i < iv.e)) = 0),
       |      i -> t.toks[i]), 'string_agg', ' '), '') END AS clean_text,
       |  CAST(coalesce(p.n_removed, 0) AS BIGINT) AS n_removed
       |FROM t LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q149
  /** Dataset card ([[graft.operators.Profile.datasetCard]]): per-column
    * row/null/distinct counts and numeric min/max over the documents
    * corpus — the profile a curation pipeline publishes with every
    * snapshot, computed in ONE aggregation pass (multi-distinct planned
    * as a single expand+scan). Non-numeric columns carry null min/max
    * via try_cast. */
  val q149DatasetCard: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Profile.datasetCard(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy($"column")
  }
  val q149Sql: String =
    Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
         |  round(min(TRY_CAST($c AS DOUBLE)), 4) AS min_num,
         |  round(max(TRY_CAST($c AS DOUBLE)), 4) AS max_num
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** Registry: name → (spark program, oracle sql). */
  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q24_token_stats", q24TokenStats, Some(q24Sql)),
    ("q25_quality_by_lang", q25QualityByLang, Some(q25Sql)),
    ("q26_lang_id", q26LangId, Some(q26Sql)),
    ("q27_fingerprint", q27Fingerprint, Some(q27Sql)),
    ("q28_dedup_exact", q28DedupExact, Some(q28Sql)),
    ("q29_jaccard_pairs", q29JaccardPairs, Some(q29Sql)),
    ("q30_minhash_lsh", q30MinHashLsh, Some(q30Sql)),
    ("q31_simhash", q31SimHash, Some(q31Sql)),
    ("q32_simhash_pairs", q32SimHashPairs, Some(q32Sql)),
    ("q49_curation_pipeline", q49Curation, Some(q49Sql)),
    ("q56_quota_select", q56QuotaSelect, Some(q56Sql)),
    ("q57_contamination", q57Contamination, Some(q57Sql)),
    ("q58_dedup_clusters", q58DedupClusters, Some(q58Sql)),
    ("q96_dedup_clusters_contraction", q96DedupClustersContraction, Some(q58Sql)),
    ("q97_simhash64_pairs", q97SimHash64Pairs, Some(q97Sql)),
    ("q104_passage_dup", q104PassageDup, Some(q104Sql)),
    ("q107_incremental_dedup", q107IncrementalDedup, Some(q107Sql)),
    ("q113_decontaminate", q113Decontaminate, Some(q113Sql)),
    ("q118_unicode_dedup", q118UnicodeDedup, Some(q118Sql)),
    ("q124_bpe_train", q124BpeTrain, Some(q124Sql)),
    ("q125_bpe_encode", q125BpeEncode, Some(q125Sql)),
    ("q126_token_pipeline", q126TokenPipeline, Some(q126Sql)),
    ("q127_byte_bpe", q127ByteBpe, Some(q127Sql)),
    ("q131_detokenize", q131Detokenize, Some(q131Sql)),
    ("q133_bpe_incremental", q133BpeIncremental, Some(q124Sql)),
    ("q135_stream_token_pipeline", q135StreamTokenPipeline, Some(q126Sql)),
    ("q136_sql_curation", q136SqlCuration, Some(q136Sql)),
    ("q138_heavy_hitters", q138HeavyHitters, Some(q138Sql)),
    ("q140_span_dedup", q140SpanDedup, Some(q140Sql)),
    ("q149_dataset_card", q149DatasetCard, Some(q149Sql)),
    ("q200_bpe_batched", q200BpeBatched, Some(q200Sql)),
  )
}
