package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Near-duplicate detection over document corpora: exact fingerprint
  * dedup, shingle-Jaccard pair similarity, MinHash + LSH banding, and
  * SimHash — the standard large-scale training-data curation stack.
  *
  * Scale design (the point of each shape):
  *  - every pipeline is shuffle-on-key only: shingle explode → join on
  *    shingle / band hash, never an O(n²) cross join. The only cartesian
  *    product in this file is [[hammingPairs]], which runs over the
  *    *aggregated* per-doc signature table (one int per doc), and at
  *    real scale is replaced by banding the signature exactly like
  *    [[lshCandidatePairs]];
  *  - `maxShingleDf` caps join fan-out on boilerplate shingles (a
  *    shingle occurring in k docs contributes k² candidate pairs —
  *    frequency-capping is the standard skew guard);
  *  - hash functions are md5-based: deterministic, seed-free, identical
  *    across engines (so the DuckDB oracle reproduces results exactly),
  *    and uniformly distributed, at the cost of being slower than
  *    xxhash64 — swap `hashFn` for xxhash64 when cross-engine
  *    reproducibility is not required.
  *
  * Cache contract: [[lshCandidatePairs]] (cap on) persists its band
  * table at MEMORY_AND_DISK because it feeds three subtrees. The cache
  * is owned by the CALLER's session — it lives until the session ends
  * or `spark.catalog.clearCache()` runs. A long-lived service issuing
  * many independent calls should clearCache() between batches; a batch
  * job (this repo's gates and bench) lets session teardown reclaim it.
  * The same contract applies to [[Similarity.annLshPairs]],
  * [[Similarity.semanticDedup]] and [[TermScoring.bm25]].
  */
object TextDedup {

  /** Exact dedup: group by normalized-text fingerprint, keep the
    * smallest id as canonical. One hash aggregation. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String,
                 unicodeFold: Boolean = false): DataFrame = {
    // unicodeFold keys on the NFKC-folded fingerprint so NFD / full-width
    // spellings of identical text land in one group (mixed-source crawls);
    // default stays byte-stable for ASCII-clean corpora
    val fp =
      if (unicodeFold) TextAnalysis.fingerprintUnicode(col(textCol))
      else TextAnalysis.fingerprint(col(textCol))
    df.select(col(idCol), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Per-document distinct word-n-shingle table `(id, n_shingles, s)`,
    * the common input of the Jaccard/MinHash paths. The distinct-shingle
    * count rides along each row so downstream pair-joins never need a
    * second sizes-join. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
    sh.select(col("id"), size(col("sh")).as("n_shingles"), explode(col("sh")).as("s"))
  }

  /** Exact pairwise Jaccard similarity ≥ `threshold` via shingle
    * inverted-index join: shuffle on shingle, count intersections per
    * pair, sizes already carried. `maxShingleDf` drops shingles present
    * in more than that many documents (skew/boilerplate guard). */
  def jaccardPairs(shingles: DataFrame, threshold: Double,
                   maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = maxShingleDf match {
      case Some(cap) =>
        val hot = shingles.groupBy(col("s")).agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") > cap).select(col("s"))
        shingles.join(hot, Seq("s"), "left_anti")
      case None => shingles
    }
    val a = sh.select(col("id").as("a_id"), col("n_shingles").as("na"), col("s"))
    val b = sh.select(col("id").as("b_id"), col("n_shingles").as("nb"), col("s"))
    a.join(b, Seq("s")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i"), min(col("na")).as("na"), min(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature: k permutation lanes carved out of md5 output —
    * each md5 call yields four independent 8-hex-char (32-bit) lanes,
    * so k lanes cost ceil(k/4) hashes per shingle instead of k (md5 is
    * the dominant cost of the signature pass; measured 4× cheaper).
    * `mh_j = min(substr(md5(saltₗ || shingle), lane_offset, 8))`. One
    * hash agg over the shingle table; signature width k is a column
    * count, not a row count, so this scales linearly in corpus size. */
  def minHashSignature(shingles: DataFrame, k: Int): DataFrame = {
    val nBlocks = (k + 3) / 4
    // stage each md5 ONCE in a projection: aggregate expressions do not
    // share subexpressions, so min(substr(md5(s),…)) ×4 lanes would
    // hash every shingle 4× per block instead of once
    val staged = shingles.select(
      col("id") +: col("n_shingles") +:
        (0 until nBlocks).map { b =>
          val h = if (b == 0) md5(col("s"))
                  else md5(concat(lit(s"$b:"), col("s")))
          h.as(s"h$b")
        }: _*)
    staged.groupBy(col("id"))
      .agg(min(col("n_shingles")).as("n_shingles"),
        (0 until k).map { j =>
          min(substring(col(s"h${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"mh$j")
        }: _*)
  }

  /** `(id, band, h)` LSH band-key table of a MinHash signature table —
    * the shared candidate-generation input of [[lshCandidatePairs]]
    * (corpus self-join) and [[dedupAgainstStore]] (delta-vs-store
    * join). Band keys are pure column math over the signature columns:
    * no shingles or text needed, which is what lets a persisted
    * signature store answer near-dup membership without re-reading the
    * corpus. */
  def signatureBands(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val bandHash = (b: Int) => md5(concat(
      (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j")): _*))
    sig.select(col("id"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), bandHash(b).as("h"))): _*)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Drop band keys with document frequency above `cap` — the
    * degenerate-bucket guard (see [[lshCandidatePairs]] doc). Persists
    * the band table when the cap is on (it then feeds the hot-key agg
    * plus every join consumer; session-owned cache, same contract as
    * the other operator persists). */
  private def capBands(allBands: DataFrame, maxBandDf: Option[Int]): DataFrame =
    maxBandDf match {
      case Some(cap) =>
        // persist: with the cap on, the band table feeds THREE subtrees
        // (both self-join sides + the hot-key agg), and the agg's
        // partial-agg shape defeats exchange reuse — unpersisted, the
        // whole signature→explode→md5 chain would run again per subtree
        val cached = allBands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = cached.groupBy(col("band"), col("h"))
          .agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") > cap).select(col("band"), col("h"))
        cached.join(hot, Seq("band", "h"), "left_anti")
      case None => allBands
    }

  /** LSH banding: hash `rowsPerBand` consecutive signature components
    * into one band key; docs sharing any band key become candidate
    * pairs. Probability of catching a pair rises sharply with its true
    * Jaccard (the (b, r) S-curve), so candidates ≪ n².
    *
    * `maxBandDf` is the skew guard mirroring `maxShingleDf` on the
    * shingle path: a (band, hash) key shared by m docs contributes m²
    * candidate pairs, so one degenerate bucket (boilerplate corpus that
    * survived exact dedup, near-constant embeddings) turns the
    * equi-join quadratic. Keys with document frequency above the cap
    * are dropped BEFORE the self-join — both sides shrink, and the
    * bucket's pairs are sacrificed (they are overwhelmingly duplicates
    * of pairs still caught via their other, non-degenerate bands).
    * Capped keys are counted once (one extra agg on the already-built
    * band table), never materialized per pair. */
  def lshCandidatePairs(sig: DataFrame, k: Int, rowsPerBand: Int,
                        maxBandDf: Option[Int] = None): DataFrame = {
    val bands = capBands(signatureBands(sig, k, rowsPerBand), maxBandDf)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
  }

  /** MinHash-LSH near-dup pipeline: candidates from banding, then exact
    * Jaccard verification of candidates only (join back to the shingle
    * table restricted to candidate ids). */
  def minHashLshPairs(shingles: DataFrame, k: Int, rowsPerBand: Int,
                      threshold: Double, maxBandDf: Option[Int] = None): DataFrame = {
    val cand = lshCandidatePairs(minHashSignature(shingles, k), k, rowsPerBand, maxBandDf)
    val x = shingles.select(col("id").as("a_id"), col("n_shingles").as("na"), col("s"))
    val y = shingles.select(col("id").as("b_id"), col("n_shingles").as("nb"), col("s"))
    cand.join(x, Seq("a_id")).join(y, Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i"), min(col("na")).as("na"), min(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Build the persisted dedup-store tables for [[dedupAgainstStore]]
    * from an already-curated corpus: `(fp)` distinct content
    * fingerprints and `(id, n_shingles, mh0..mh{k-1})` MinHash
    * signatures. Written once at corpus-dedup time (both are parquet-
    * friendly narrow tables, ~1 row per corpus doc), reloaded per
    * ingest — the corpus TEXT is never read again. */
  def buildDedupStore(corpus: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, k: Int): (DataFrame, DataFrame) =
    (corpus.select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct(),
      minHashSignature(shingleTable(corpus, idCol, textCol, shingleN), k))

  /** Incremental-ingest dedup: classify a NEW delta shard against the
    * persisted index of an already-deduplicated corpus — the production
    * snapshot shape (a crawl arrives weekly; re-shingling and
    * re-self-joining the full corpus per snapshot is not an option).
    * Corpus-side state is exactly the two [[buildDedupStore]] tables:
    * `storeFp` answers exact membership by fingerprint semi-join;
    * `storeSig` answers near-dup membership — its band keys are
    * recomputed from the signature COLUMNS ([[signatureBands]] is pure
    * column math), equi-joined against the delta's band keys, and the
    * candidates are verified by signature-lane agreement (the standard
    * MinHash Jaccard estimate): a delta doc is `dup_near` when ≥
    * `minAgree` of its k lanes match some store doc it shares a band
    * with. In-shard exact duplicates resolve to the smallest delta id
    * (`shard_dup`). Every join is keyed on fp / (band, h) / candidate
    * ids, so work scales with |delta| + matched buckets, never with
    * |corpus| beyond one scan of each store table; `maxBandDf` caps hot
    * band keys on BOTH sides before the join (same degenerate-bucket
    * argument as [[lshCandidatePairs]], and a boilerplate-heavy store
    * band would otherwise multiply every delta doc that hits it).
    *
    * Returns one row per delta doc:
    * `(id, dup_exact, dup_near, shard_dup, keep)`,
    * keep = none of the three. Delta docs too short to shingle never
    * reach the near-dup join (no signature rows) but are still labeled
    * via the fingerprint side. */
  def dedupAgainstStore(delta: DataFrame, idCol: String, textCol: String,
                        storeFp: DataFrame, storeSig: DataFrame,
                        shingleN: Int, k: Int, rowsPerBand: Int,
                        minAgree: Int, maxBandDf: Option[Int] = None): DataFrame = {
    require(minAgree >= 1 && minAgree <= k, s"minAgree must be in [1, $k], got $minAgree")
    // session-owned caches (see the cache contract above): fp feeds the
    // exact semi-join, the shard-dup agg AND the final labeling; sig
    // feeds the band build AND the agreement verification join
    val fp = delta.select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = minHashSignature(shingleTable(delta, idCol, textCol, shingleN), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = capBands(signatureBands(sig, k, rowsPerBand), maxBandDf).as("d")
      .join(capBands(signatureBands(storeSig, k, rowsPerBand), maxBandDf).as("s"),
        col("d.band") === col("s.band") && col("d.h") === col("s.h"))
      .select(col("d.id").as("d_id"), col("s.id").as("s_id")).distinct()
    val agree = (0 until k)
      .map(j => when(col(s"d.mh$j") === col(s"s.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val near = cand
      .join(sig.as("d"), col("d_id") === col("d.id"))
      .join(storeSig.as("s"), col("s_id") === col("s.id"))
      .filter(agree >= minAgree)
      .select(col("d_id").as("id")).distinct()
    val exact = fp.join(storeFp, Seq("fp"), "left_semi").select(col("id"))
    val shardKeep = fp.groupBy(col("fp")).agg(min(col("id")).as("keep_id"))
    fp.join(shardKeep, Seq("fp"))
      .join(exact.withColumn("de", lit(true)), Seq("id"), "left")
      .join(near.withColumn("dn", lit(true)), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("de"), lit(false)).as("dup_exact"),
        coalesce(col("dn"), lit(false)).as("dup_near"),
        (col("id") =!= col("keep_id")).as("shard_dup"))
      .withColumn("keep", !col("dup_exact") && !col("dup_near") && !col("shard_dup"))
  }

  /** Per-ROW MinHash signature columns — the STREAMING-SAFE face of
    * [[minHashSignature]]: each lane is `array_min` over the row's own
    * distinct-shingle array, which equals the grouped `min` over
    * exploded shingle rows (min is duplicate- and order-insensitive)
    * but needs NO aggregation state, so it composes into a Structured
    * Streaming micro-batch as a plain stateless projection. A doc with
    * fewer than `shingleN` words has an empty shingle array → null
    * lanes → null band keys downstream, which match nothing — the same
    * "no signature row" outcome the batch path produces. */
  def rowMinHashCols(textCol: Column, shingleN: Int, k: Int): Seq[Column] = {
    val sh = array_distinct(TextAnalysis.wordShingles(textCol, shingleN))
    (0 until k).map { j =>
      val block = j / 4
      array_min(transform(sh, s => substring(
        if (block == 0) md5(s) else md5(concat(lit(s"$block:"), s)),
        (j % 4) * 8 + 1, 8))).as(s"mh$j")
    }
  }

  /** STREAMING near-dup ingest classification — the continuous face of
    * [[dedupAgainstStore]]: label every arriving document against the
    * persisted corpus store (the [[buildDedupStore]] tables) WITHIN its
    * micro-batch, with no corpus re-scan and no unbounded state. The
    * whole plan is stateless per row except ONE streaming aggregation:
    *   1. per-row fingerprint + [[rowMinHashCols]] signature lanes
    *      (projection, no state);
    *   2. explode the row's `k/rowsPerBand` band keys and stream-static
    *      LEFT join the store's band table, then the store's signature
    *      table — both BROADCAST (band keys and signatures are ~1 narrow
    *      row per corpus doc; at a scale where the store outgrows the
    *      driver, swap the broadcast for a bucketed static side — the
    *      join shape is unchanged);
    *   3. per joined row, signature-lane agreement ≥ `minAgree` marks a
    *      verified near-hit (the [[dedupAgainstStore]] rule);
    *   4. ONE `groupBy(id)` folds a doc's band rows back to a single
    *      `(id, dup_exact, dup_near)` verdict.
    * Works identically on a batch frame (the spec/oracle replay path) —
    * same code, same plan shapes, the [[graft.streaming.EventStreams]]
    * batch/stream contract. */
  def ingestFlags(arriving: DataFrame, idCol: String, textCol: String,
                  storeFp: DataFrame, storeSig: DataFrame,
                  shingleN: Int, k: Int, rowsPerBand: Int,
                  minAgree: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val storeBands = signatureBands(storeSig, k, rowsPerBand)
      .select(bandKey(col("band"), col("h")).as("bh"), col("id").as("s_id"))
    val storeMh = storeSig.select(
      col("id").as("s_id") +: (0 until k).map(j => col(s"mh$j").as(s"smh$j")): _*)
    ingestCore(arriving, idCol, textCol, storeFp, storeBands, storeMh,
      shingleN, k, rowsPerBand, minAgree, broadcast)
  }

  /** Single-column band key `"<band>:<hash>"` — bijective with the
    * `(band, h)` pair (the band ordinal never contains `:`), so joins
    * on it are exactly the two-key equi-join, but the bucketed store
    * variant can bucket on ONE physical column and still elide its
    * exchange. Null when `h` is null (doc too short to shingle) —
    * matches nothing, same as the null `(band, h)` pair. */
  private def bandKey(band: Column, h: Column): Column =
    concat(band.cast("string"), lit(":"), h)

  /** Shared join/verdict core of [[ingestFlags]] (broadcast store) and
    * [[ingestFlagsBucketed]] (bucketed store): `hint` wraps each static
    * side — `broadcast` when the store fits the driver, identity when
    * the bucketed layout should carry the join. */
  private def ingestCore(arriving: DataFrame, idCol: String, textCol: String,
                         storeFp: DataFrame, storeBands: DataFrame,
                         storeMh: DataFrame, shingleN: Int, k: Int,
                         rowsPerBand: Int, minAgree: Int,
                         hint: DataFrame => DataFrame): DataFrame =
    ingestVerdicts(ingestHits(arriving, idCol, textCol, storeFp, storeBands,
      storeMh, shingleN, k, rowsPerBand, minAgree, hint))

  /** The PRE-AGGREGATION half of [[ingestCore]]: one row per (arriving
    * doc × band) carrying `near_hit`/`exact_hit` against ONE store
    * segment's tables. Split out so the SEGMENTED store
    * ([[appendToDedupStoreBucketed]]) can union per-segment hit rows
    * and fold them through a SINGLE [[ingestVerdicts]] aggregation —
    * each segment's joins stay exchange-free on its own bucketed
    * layout, and one aggregation keeps the streaming transports legal
    * (chained stateful aggregations are not). */
  private def ingestHits(arriving: DataFrame, idCol: String, textCol: String,
                         storeFp: DataFrame, storeBands: DataFrame,
                         storeMh: DataFrame, shingleN: Int, k: Int,
                         rowsPerBand: Int, minAgree: Int,
                         hint: DataFrame => DataFrame): DataFrame =
    ingestHitsOn(ingestPrepared(arriving, idCol, textCol, shingleN, k,
      rowsPerBand), storeFp, storeBands, storeMh, k, minAgree, hint)

  /** The arriving side of [[ingestHits]], store-independent: one row
    * per (doc × band) carrying `(id, fp, mh0..mh<k-1>, bh)` — split
    * from the store joins so the SEGMENTED store can classify against
    * N segments from ONE prepared projection (the per-segment join
    * branches re-derive it per branch, but it is a stateless per-row
    * expression chain, never a shuffle). */
  private def ingestPrepared(arriving: DataFrame, idCol: String,
                             textCol: String, shingleN: Int, k: Int,
                             rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val base = arriving.select(
      col(idCol).as("id") +:
        TextAnalysis.fingerprint(col(textCol)).as("fp") +:
        rowMinHashCols(col(textCol), shingleN, k): _*)
    val bandArr = array((0 until nBands).map { b =>
      bandKey(lit(b), md5(concat(
        (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(j => col(s"mh$j")): _*)))
    }: _*)
    base.withColumn("bh", explode(bandArr))
  }

  /** The store joins of [[ingestHits]] against ONE segment's tables,
    * over an [[ingestPrepared]] arriving side. */
  private def ingestHitsOn(prepared: DataFrame, storeFp: DataFrame,
                           storeBands: DataFrame, storeMh: DataFrame,
                           k: Int, minAgree: Int,
                           hint: DataFrame => DataFrame): DataFrame = {
    require(minAgree >= 1 && minAgree <= k, s"minAgree must be in [1, $k], got $minAgree")
    val agree = (0 until k)
      .map(j => when(col(s"mh$j") === col(s"smh$j"), 1).otherwise(0))
      .reduce(_ + _)
    prepared
      .join(hint(storeBands), Seq("bh"), "left")
      .join(hint(storeMh), Seq("s_id"), "left")
      .withColumn("near_hit",
        coalesce(agree >= minAgree, lit(false)))
      .join(hint(storeFp.withColumn("exact_hit", lit(true))), Seq("fp"), "left")
      .select(col("id"), col("near_hit"), col("exact_hit"))
  }

  /** The OR-fold over [[ingestHits]] rows — per-doc verdicts. */
  private def ingestVerdicts(hits: DataFrame): DataFrame =
    hits.groupBy(col("id"))
      .agg(max(coalesce(col("exact_hit"), lit(false))).as("dup_exact"),
        max(col("near_hit")).as("dup_near"))

  /** Write the [[ingestFlagsBucketed]] store: the [[buildDedupStore]]
    * state plus the PRE-COMPUTED band-key table, each as a BUCKETED
    * external table hashed on its join column (`fp` / `bh` / `s_id`) —
    * the scale path for a store that has outgrown the driver's
    * broadcast budget. The ingest joins then find every static side
    * pre-partitioned on its key: the store pays its exchange ONCE here
    * at corpus-dedup time, and every later micro-batch shuffles only
    * its own arriving rows (see the q132 gate + `PlanShapeSpec` pin).
    *
    * Crash safety: the three tables are one logical store, so they
    * commit as a GENERATION — tables land gen-suffixed
    * (`namePrefix_g<n>_{fp,bands,mh}` at `pathPrefix_g<n>_*`), and a
    * tiny manifest file (`pathPrefix_manifest`, swapped by rename) is
    * the single commit point naming the current generation. A crash
    * between table writes leaves the manifest on the OLD complete
    * generation (readers never see a half-written or mixed-generation
    * store); a first-build crash leaves no manifest (readers fail with
    * a clear absent-store error, not torn reads). After the swap, all
    * but the newest `retainGenerations` committed generations are
    * dropped best-effort (1 = current only, the default; a larger
    * value leaves history for readers still pinned to an older
    * generation — [[vacuumDedupStore]] reclaims it later).
    * (`StoreLifecycleSpec` injects crashes at each gap.) */
  /** Writer mutual exclusion for the dedup store's mutation verbs —
    * the [[graft.operators.PqIndex]] contract on the PREFIX layout:
    * the lease marker is the sibling file `<prefix>__writer` (the
    * store has no root dir to put it under). Re-entrant, so
    * build → commit → vacuum takes it once. */
  private def withStoreLease[T](pathPrefix: String)(body: => T): T =
    graft.sources.StoreFs.withWriterLease(s"${pathPrefix}__writer")(body)

  def writeDedupStoreBucketed(corpus: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, k: Int, rowsPerBand: Int,
                              namePrefix: String, pathPrefix: String,
                              buckets: Int, retainGenerations: Int = 1): Unit =
      withStoreLease(pathPrefix) {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    storeTablesOf(corpus, idCol, textCol, shingleN, k, rowsPerBand) {
      (fp, bands, mh) =>
        writeStoreTables(corpus.sparkSession, fp, bands, mh, namePrefix,
          pathPrefix, buckets, retainGenerations, carrySegments = Seq.empty)
    }
  }

  /** APPEND a delta of documents to a bucketed dedup store — the
    * missing lifecycle face between build and remove: the CUMULATIVE
    * corpus-build shape, where each ingest batch's survivors must join
    * the store so the NEXT batch dedups against them (the q210 gate;
    * q209 documents the fixed-store contract this verb lifts). Cost is
    * O(|delta|): the delta's three tables are written as ONE NEW
    * SEGMENT, and the new generation's descriptor carries the prior
    * generation's segments BY REFERENCE — no existing table is read or
    * rewritten. [[ingestFlagsBucketed]] runs the banded joins per
    * segment (each exchange-free on its own bucketed layout) and folds
    * every segment's hit rows through the SINGLE per-doc verdict
    * aggregation ([[ingestVerdicts]]), so verdicts equal those of a
    * store rebuilt from the unioned corpus; a long append chain grows
    * read cost by one small join set per segment —
    * [[compactDedupStore]] folds the segments back into one.
    *
    * Commit/concurrency contract = the build's: scratch-isolated table
    * writes, fenced swap, manifest rename as the single commit point —
    * a crash or lease usurpation anywhere leaves readers on the prior
    * complete generation. Caller contract: append docs AFTER
    * classification (the batch's survivors); appending a doc that
    * duplicates one already stored is not an error, just dead weight
    * that classification double-counts harmlessly.
    *
    * `compactAfterSegments` (0 = never, the default) is the LSM-style
    * amortization knob: when the committed segment count exceeds it,
    * the append immediately folds the store back to one segment
    * ([[compactDedupStore]], re-entrant under the same lease) — a
    * long-running ingest then pays one O(store) fold every N appends
    * instead of unbounded per-read segment fan-out. */
  def appendToDedupStoreBucketed(delta: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, k: Int, rowsPerBand: Int,
                                 namePrefix: String, pathPrefix: String,
                                 buckets: Int, retainGenerations: Int = 1,
                                 compactAfterSegments: Int = 0): Unit =
      withStoreLease(pathPrefix) {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    val gen = graft.sources.StoreFs.readManifest(s"${pathPrefix}_manifest")
      .getOrElse(throw new IllegalStateException(
        s"no committed dedup store at ${pathPrefix}_manifest — " +
          "run writeDedupStoreBucketed first"))
    storeTablesOf(delta, idCol, textCol, shingleN, k, rowsPerBand) {
      (fp, bands, mh) =>
        writeStoreTables(delta.sparkSession, fp, bands, mh, namePrefix,
          pathPrefix, buckets, retainGenerations,
          carrySegments = segmentsOfStrict(pathPrefix, gen))
    }
    if (compactAfterSegments > 0) {
      val genNow = graft.sources.StoreFs.readManifest(s"${pathPrefix}_manifest")
        .getOrElse(gen + 1L)
      if (segmentsOfStrict(pathPrefix, genNow).size > compactAfterSegments)
        compactDedupStore(delta.sparkSession, namePrefix, pathPrefix,
          buckets, retainGenerations)
    }
  }

  /** Build the three store tables for one corpus/delta and hand them to
    * `use` — the shared front half of build and append. fp is stored
    * PER DOCUMENT (`(fp, s_id)`, not the distinct-fp set the broadcast
    * path uses): document removal ([[deleteFromDedupStore]]) must be
    * able to tell whether a fingerprint is still held by any LIVE
    * document — with fps alone, deleting a doc whose text a surviving
    * doc shares would break exact-dup detection for the survivor. The
    * ingest reader projects back to fps after applying tombstones; the
    * extra rows only multiply arriving band rows that the final
    * per-doc max() fold collapses anyway. One corpus scan feeds both
    * signature-derived tables (session-scoped persist). */
  private def storeTablesOf(corpus: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, k: Int, rowsPerBand: Int)
                           (use: (DataFrame, DataFrame, DataFrame) => Unit): Unit = {
    val fp = corpus.select(col(idCol).cast("long").as("s_id"),
      graft.functions.TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val sigC = minHashSignature(shingleTable(corpus, idCol, textCol, shingleN), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = signatureBands(sigC, k, rowsPerBand)
      .select(bandKey(col("band"), col("h")).as("bh"), col("id").as("s_id"))
    val mh = sigC.select(
      col("id").as("s_id") +: (0 until k).map(j => col(s"mh$j").as(s"smh$j")): _*)
    try use(fp, bands, mh) finally sigC.unpersist(): Unit
  }

  /** Segment ids of a COMMITTED generation: the descriptor file
    * `<prefix>_g<gen>_segments` (newline-separated), falling back to
    * the single-segment layout (`g<gen>` itself) for stores written
    * before segmentation. A segment id `g<k>` names the three tables
    * `<namePrefix>_g<k>_{fp,bands,mh}` at `<pathPrefix>_g<k>_*`;
    * segment ids ARE generation numbers (each generation contributes
    * exactly one new segment — its own), so ids are unique across any
    * build/append/compact history.
    *
    * LENIENT on a missing descriptor — the right contract ONLY for
    * cleanup ([[vacuumDedupStore]] walks generations whose descriptors
    * a crashed earlier vacuum may already have deleted, and must still
    * name their own tables to reclaim them). Every READ/CARRY path
    * goes through [[segmentsOfStrict]] instead: for a segmented store,
    * silently treating a lost head descriptor as "one segment, no
    * carries" would classify against a store missing all prior
    * segments — wrong verdicts with no error. */
  private[graft] def segmentsOf(pathPrefix: String, gen: Long): Seq[String] =
    graft.sources.StoreFs.readSmallFile(s"${pathPrefix}_g${gen}_segments")
      .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(s"g$gen"))

  /** [[segmentsOf]] for READ/CARRY paths: the descriptor-absent
    * fallback applies only to a true legacy store (no `_g*_segments`
    * descriptor anywhere — a segmented store always has one per
    * committed generation); a SEGMENTED store missing the requested
    * generation's descriptor REFUSES — its segment set is unknowable,
    * and the lenient single-segment guess would silently drop every
    * carried segment (the exact silent-fallback hazard the
    * vacuumed-generation refusal guards against for non-head
    * generations; r16 ADVICE). */
  private[graft] def segmentsOfStrict(pathPrefix: String, gen: Long): Seq[String] =
    graft.sources.StoreFs.readSmallFile(s"${pathPrefix}_g${gen}_segments")
      .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse {
        if (listDedupStore(pathPrefix).descriptors.nonEmpty) throw new IllegalStateException(
          s"generation $gen of segmented dedup store $pathPrefix has no " +
            s"${pathPrefix}_g${gen}_segments descriptor — its segment set " +
            "is unknowable (lost/deleted descriptor?); refusing to guess. " +
            "Rebuild the store (writeDedupStoreBucketed) or restore the " +
            "descriptor file.")
        Seq(s"g$gen")
      }

  /** Commit `(fp, bands, mh)` as the new segment of the next
    * generation of a bucketed dedup store — the write half of
    * [[writeDedupStoreBucketed]] / [[appendToDedupStoreBucketed]],
    * shared with [[compactDedupStore]]. `carrySegments` lists the
    * prior generation's segments the new generation keeps by
    * reference (empty for a full build/compact).
    *
    * In-flight writes are SCRATCH-ISOLATED per writer: each table
    * lands under a lease-token-suffixed path
    * (`<prefix>_g<n>_<table>__<token>`) and is renamed into its final
    * `_g<n>_*` location only at the FENCED commit — so a stalled
    * writer whose lease was TTL-broken and usurped can never
    * interleave files with the usurper's generation: its writes stay
    * inside its own scratch dirs, and its fence refuses before the
    * first rename. Orphaned scratch dirs (crash or usurpation debris)
    * are flagged by [[graft.tools.StoreDoctor.auditDedup]] and swept
    * by the next writer's [[vacuumDedupStore]]. */
  private def writeStoreTables(spark: SparkSession, fp: DataFrame,
                               bands: DataFrame, mh: DataFrame,
                               namePrefix: String, pathPrefix: String,
                               buckets: Int, retainGenerations: Int,
                               carrySegments: Seq[String]): Unit = {
    import graft.sources.StoreFs
    val gen = StoreFs.readManifest(s"${pathPrefix}_manifest")
      .getOrElse(0L) + 1L
    val seg = s"g$gen"
    val suffixes = Seq("fp", "bands", "mh")
    def finalPath(sfx: String) = s"${pathPrefix}_${seg}_$sfx"
    def table(sfx: String) = s"${namePrefix}_${seg}_$sfx"
    def write(df: DataFrame, sfx: String, bucketCol: String, at: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS ${table(sfx)}")
      df.write.mode("overwrite")
        .option("path", at)
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .format("parquet").saveAsTable(table(sfx))
    }
    StoreFs.stageGenerationDir(s"${pathPrefix}__writer", suffixes.map(finalPath)) {
      case Seq(fpAt, bandsAt, mhAt) =>
        write(fp, "fp", "fp", fpAt)
        Failpoints.hit("dedupstore:after-fp")
        write(bands, "bands", "bh", bandsAt)
        Failpoints.hit("dedupstore:after-bands")
        write(mh, "mh", "s_id", mhAt)
        Failpoints.hit("dedupstore:before-swap")
    }
    // the catalog tables follow their data out of scratch
    suffixes.foreach { sfx =>
      val (fs, fin) = StoreFs.of(finalPath(sfx))
      spark.sql(
        s"ALTER TABLE ${table(sfx)} SET LOCATION '${fs.makeQualified(fin)}'")
    }
    Failpoints.hit("dedupstore:after-swap")
    // the generation's segment list (atomic write, itself fenced),
    // then THE commit: the manifest swap
    StoreFs.writeFileAtomic(s"${pathPrefix}_g${gen}_segments",
      (carrySegments :+ seg).mkString("\n"))
    StoreFs.commitManifest(s"${pathPrefix}_manifest", gen)
    vacuumDedupStore(spark, namePrefix, pathPrefix, keepLast = retainGenerations)
  }

  /** DELETE documents from a bucketed dedup store — the third
    * lifecycle verb (build / append / REMOVE: takedown, retraction,
    * right-to-be-forgotten). All three tables are strictly
    * per-document rows, so filtering them at read time is EXACTLY a
    * store rebuilt without the ids; the delete is therefore a
    * TOMBSTONE append — O(|ids|), no store rewrite —
    * applied by [[ingestFlagsBucketed]]'s broadcast anti-joins
    * (q189 gates the ≡-rebuild equivalence). [[compactDedupStore]]
    * folds tombstones into a rewritten generation. Re-ingesting a
    * previously deleted id requires a compaction after which no
    * pre-compact generation remains readable (the
    * [[PqIndex.deleteFromTwoTier]] caveat — and note the compact
    * deliberately KEEPS the tombstones while retained history could
    * otherwise serve the deleted docs via `atGeneration` reads). */
  def deleteFromDedupStore(spark: SparkSession, pathPrefix: String,
                           ids: DataFrame): Unit = withStoreLease(pathPrefix) {
    ids.select(col(ids.columns.head).cast("long").as("s_id")).coalesce(1)
      .write.mode("append").parquet(s"${pathPrefix}_tombstones")
  }

  /** The store's tombstoned doc ids, if any. */
  private def dedupTombstones(spark: SparkSession,
                              pathPrefix: String): Option[DataFrame] = {
    val (fs, p) = graft.sources.StoreFs.of(s"${pathPrefix}_tombstones")
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Format-version guard for tombstone application: the fp table was
    * originally written as DISTINCT fingerprints (no `s_id`), which
    * cannot be tombstoned — with fps alone there is no way to tell
    * whether a fingerprint is still held by a live document. Stores in
    * the legacy layout must be rebuilt ([[writeDedupStoreBucketed]])
    * before any [[deleteFromDedupStore]] tombstone can be honored;
    * failing eagerly with the remedy beats the raw AnalysisException
    * the anti-join would otherwise throw. */
  private def requireTombstonableFp(fp: DataFrame, pathPrefix: String): DataFrame = {
    if (!fp.columns.contains("s_id"))
      throw new IllegalStateException(
        s"dedup store at $pathPrefix has tombstones but its fp table is in " +
          "the legacy distinct-fingerprint layout (no s_id column), which " +
          "cannot be tombstoned — rebuild the store with " +
          "writeDedupStoreBucketed before deleting documents")
    fp
  }

  /** Fold the store back to ONE segment: rewrite the current
    * generation's live rows — every segment's tables, minus any
    * tombstoned docs — as a new single-segment committed generation,
    * then drop the tombstone table. The compaction face of BOTH
    * incremental verbs: [[deleteFromDedupStore]] tombstones and
    * [[appendToDedupStoreBucketed]] segments accumulate read-side cost
    * that this verb folds away. No-op when there is nothing to fold
    * (single segment, no tombstones). Crash between commit and
    * tombstone drop is harmless — anti-joining already-absent ids is a
    * no-op. */
  def compactDedupStore(spark: SparkSession, namePrefix: String,
                        pathPrefix: String, buckets: Int,
                        retainGenerations: Int = 1): Unit =
      withStoreLease(pathPrefix) {
    val tomb = dedupTombstones(spark, pathPrefix)
    val gen = graft.sources.StoreFs.readManifest(s"${pathPrefix}_manifest")
      .getOrElse(throw new IllegalStateException(
        s"no committed dedup store at ${pathPrefix}_manifest"))
    val segs = segmentsOfStrict(pathPrefix, gen)
    if (tomb.isEmpty && segs.size == 1) return
    def live(suffix: String): DataFrame = {
      val unioned = segs.map { seg =>
        val t = graft.sources.Bucketing.readBucketed(
          spark, s"${namePrefix}_${seg}_$suffix")
        if (suffix == "fp" && tomb.nonEmpty) requireTombstonableFp(t, pathPrefix)
        else t
      }.reduce(_ unionByName _)
      tomb match {
        case Some(t) => unioned.join(broadcast(t), Seq("s_id"), "left_anti")
        case None => unioned
      }
    }
    // materialize before the write path can vacuum the source tables
    val (fp, bands, mh) = (live("fp").localCheckpoint(),
      live("bands").localCheckpoint(), live("mh").localCheckpoint())
    writeStoreTables(spark, fp, bands, mh, namePrefix, pathPrefix,
      buckets, retainGenerations, carrySegments = Seq.empty)
    // Tombstones OUTLIVE the compact while any OTHER generation stays
    // readable: a retained pre-compact generation still carries the
    // deleted documents' rows, and a time-travel read
    // ([[ingestFlagsBucketed]]'s `atGeneration`) must not resurrect
    // right-to-be-forgotten content — the anti-join is what keeps the
    // contract there. Against the freshly compacted generation the
    // lingering tombstones match nothing (its tables were written
    // filtered), so head reads are semantically untouched. Once no
    // pre-compact generation remains readable (retention 1, or a
    // later vacuum reclaimed the history and a compact re-runs), the
    // fold is complete everywhere and the file goes.
    val newGen = graft.sources.StoreFs
      .readManifest(s"${pathPrefix}_manifest").getOrElse(0L)
    if (committedGenerations(spark, pathPrefix).forall(_ == newGen))
      graft.sources.StoreFs.of(s"${pathPrefix}_tombstones")
        match { case (fs, p) => fs.delete(p, true): Unit }
  }

  /** Retention for a [[writeDedupStoreBucketed]] store: drop all but
    * the newest `keepLast` COMMITTED generations. SEGMENT-AWARE: a
    * dropped generation's segments are deleted (catalog tables AND
    * data paths) only when NO retained generation still references
    * them — an append chain's old generations share almost all their
    * segments with the current one, so vacuuming them reclaims only
    * the descriptor files until a compact/rebuild cuts the lineage.
    * Generations above the manifest — an in-flight writer's — are
    * never touched; no manifest means nothing is committed and
    * nothing is dropped. Safe beside readers pinned to any RETAINED
    * generation: their resolved segment tables stay valid until a
    * smaller `keepLast` reclaims them. Also sweeps ORPHANED SCRATCH
    * dirs (`_g<n>_<tbl>__<token>` staging left by a crashed or
    * usurped writer) belonging to any token but the current
    * writer's — a TTL-broken stall may re-create one mid-sweep, in
    * which case its fenced commit still refuses and the next vacuum
    * re-sweeps. */
  def vacuumDedupStore(spark: SparkSession, namePrefix: String,
                       pathPrefix: String, keepLast: Int): Unit =
      withStoreLease(pathPrefix) {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val layout = listDedupStore(pathPrefix)
    val current = layout.spine.head.getOrElse(return)
    // Generations are the UNION of table and descriptor generations: a
    // vacuum that crashed after deleting a generation's fp dir still
    // leaves its bands/mh orphans to a later one, and an append
    // generation may own no tables under its own number once shared
    // segments outlive the descriptor's deletion round.
    val committed = (layout.spine.committed ++ layout.descriptors.filter(_ <= current))
      .distinct.sorted
    val keptSegs = committed.takeRight(keepLast)
      .flatMap(g => segmentsOf(pathPrefix, g)).toSet
    committed.dropRight(keepLast).foreach { g =>
      segmentsOf(pathPrefix, g).filterNot(keptSegs).foreach { seg =>
        Seq("fp", "bands", "mh").foreach { sfx =>
          spark.sql(s"DROP TABLE IF EXISTS ${namePrefix}_${seg}_$sfx")
          graft.sources.StoreFs.deleteChild(layout.dir, s"${layout.base}_${seg}_$sfx")
        }
      }
      graft.sources.StoreFs.deleteChild(layout.dir, s"${layout.base}_g${g}_segments")
    }
    // orphaned per-writer staging: any scratch dir not ours is a
    // crashed/usurped writer's pre-commit debris
    val myTok = graft.sources.StoreFs.scratchTag(s"${pathPrefix}__writer")
    layout.spine.scratch.foreach { case (name, tag) =>
      if (!myTok.contains(tag)) graft.sources.StoreFs.deleteChild(layout.dir, name)
    }
  }

  /** The on-disk layout of a bucketed dedup store (`pathPrefix` =
    * `dir/base`, entries `<base>_*`): `spine` holds the manifest head,
    * the generations with `_g<n>_{fp,bands,mh}` tables, the
    * `_g<n>_<tbl>__<tag>` scratch dirs and the manifest-swap leftovers;
    * `tables` each generation's table suffixes on disk; `descriptors`
    * the generations with a `_g<n>_segments` descriptor. */
  private[graft] final case class DedupLayout(dir: String, base: String,
                                              spine: graft.sources.StoreFs.GenerationLayout,
                                              tables: Map[Long, Set[String]],
                                              descriptors: Seq[Long]) {
    /** The tables segment `seg` (`g<k>`) has on disk. */
    def tablesOf(seg: String): Set[String] =
      seg.stripPrefix("g").toLongOption.flatMap(tables.get).getOrElse(Set.empty)
  }

  /** THE parse of a dedup store's layout, from one manifest read and
    * one listing of the prefix's parent dir: [[vacuumDedupStore]],
    * [[committedGenerations]] and StoreDoctor's audit all read it. */
  private[graft] def listDedupStore(pathPrefix: String): DedupLayout = {
    val path = new org.apache.hadoop.fs.Path(pathPrefix)
    val (dir, base) = (path.getParent.toString, path.getName)
    val names = graft.sources.StoreFs.childNames(dir)
    val own = names.filter(_.startsWith(base + "_")).map(_.drop(base.length + 1))
    val tableRe = "g(\\d+)_(fp|bands|mh)(?:__([a-zA-Z0-9]+))?".r
    val descRe = "g(\\d+)_segments".r
    val tables = own.collect { case tableRe(g, t, null) => (g.toLong, t) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (tmp, old) = graft.sources.StoreFs.swapSiblings("manifest")
    DedupLayout(dir, base,
      graft.sources.StoreFs.GenerationLayout(
        graft.sources.StoreFs.readManifest(s"${pathPrefix}_manifest"),
        tables.keys.toSeq.sorted,
        own.collect { case n @ tableRe(_, _, tag) if tag != null => (s"${base}_$n", tag) }.sorted,
        Seq(tmp, old).filter(own.contains).map(n => s"${base}_$n")),
      tables, own.collect { case descRe(g) => g.toLong }.sorted)
  }

  /** Generations of a bucketed dedup store that are READABLE — valid
    * time-travel targets for [[ingestFlagsBucketed]]'s `atGeneration`:
    * committed at or below the manifest head, with a generation
    * descriptor on disk (plus the head itself for legacy
    * pre-segmentation stores, which never wrote one) and EVERY
    * referenced segment's fp table still present. Vacuum
    * ([[vacuumDedupStore]]) deletes a dropped generation's descriptor
    * and any segment no retained generation references, so a
    * generation past the retention window drops out of this list —
    * `retainGenerations` on the mutation verbs is the retention dial.
    * Metadata-only: one listing plus one descriptor read per
    * candidate, no table read. */
  def committedGenerations(spark: SparkSession, pathPrefix: String): Seq[Long] =
    readableGenerations(pathPrefix, listDedupStore(pathPrefix))

  private[graft] def readableGenerations(pathPrefix: String,
                                         layout: DedupLayout): Seq[Long] =
    layout.spine.head.fold(Seq.empty[Long]) { head =>
      // The head is a candidate WITHOUT a descriptor only on a true
      // legacy pre-segmentation store (no descriptor anywhere) — for a
      // segmented store, a head whose descriptor is lost has an
      // UNKNOWABLE segment set, and reporting it readable would bless
      // the same carry-segment-less guess [[segmentsOfStrict]] refuses
      // (r16 ADVICE: the silent-fallback hazard the vacuumed-generation
      // refusal exists to prevent).
      val candidates =
        if (layout.descriptors.isEmpty) Seq(head) else layout.descriptors.filter(_ <= head)
      candidates.filter(g => segmentsOf(pathPrefix, g).forall(layout.tablesOf(_)("fp")))
    }

  /** [[ingestFlags]] with a BUCKETED store — the non-broadcast scale
    * variant for a store too large to ship to every task: resolves the
    * committed generation from the store manifest, reads each
    * SEGMENT's three tables ([[writeDedupStoreBucketed]] writes one
    * segment; each [[appendToDedupStoreBucketed]] adds one) and runs
    * the same classification with NO broadcast hint, so every store
    * side joins from its bucketed layout exchange-free while only the
    * arriving micro-batch shuffles onto the join keys. Per-segment hit
    * rows union into the SINGLE per-doc verdict aggregation — one
    * stateful fold regardless of segment count, which keeps the plan
    * legal inside a streaming micro-batch (chained stateful
    * aggregations are not) and makes verdicts EXACTLY those of a
    * store rebuilt from the unioned corpus. Identical verdicts to
    * [[ingestFlags]] by construction (same core, same band keys). */
  def ingestFlagsBucketed(arriving: DataFrame, idCol: String, textCol: String,
                          namePrefix: String, pathPrefix: String,
                          shingleN: Int, k: Int,
                          rowsPerBand: Int, minAgree: Int,
                          atGeneration: Option[Long] = None): DataFrame = {
    val spark = arriving.sparkSession
    val head = graft.sources.StoreFs.readManifest(s"${pathPrefix}_manifest")
      .getOrElse(throw new IllegalStateException(
        s"no committed dedup store at ${pathPrefix}_manifest — " +
          "run writeDedupStoreBucketed first"))
    // TIME-TRAVEL read: classify against the store AS OF a retained
    // historical generation — reproducibility/audit (re-run an old
    // batch's classification byte-for-byte while the head moves on).
    // Only READABLE generations qualify ([[committedGenerations]]);
    // vacuum trims history, `retainGenerations` on the mutation verbs
    // is the retention dial. Tombstones deliberately apply to EVERY
    // generation including historic reads: a deletion
    // ([[deleteFromDedupStore]] — takedown, right-to-be-forgotten) is
    // a property of the DOCUMENT, not of a generation, and history
    // must not be an escape hatch for deleted content.
    val gen = atGeneration match {
      case None => head
      case Some(g) =>
        val readable = committedGenerations(spark, pathPrefix)
        if (!readable.contains(g))
          graft.sources.StoreFs.unreadableGeneration(
            "dedup store", pathPrefix, g, readable)
        g
    }
    // apply any deleteFromDedupStore tombstones: broadcast anti-joins
    // keep every static side's bucketed partitioning (no exchange is
    // added; with no tombstones the plans are untouched — the
    // PlanShapeSpec exchange-free pin). The per-doc fp table projects
    // back to fps AFTER the anti-join.
    val drop = dedupTombstones(spark, pathPrefix)
    def live(df: DataFrame): DataFrame = drop match {
      case Some(t) => df.join(broadcast(t), Seq("s_id"), "left_anti")
      case None => df
    }
    def liveFp(df: DataFrame): DataFrame = drop match {
      case Some(_) => live(requireTombstonableFp(df, pathPrefix))
      case None => df
    }
    val prepared = ingestPrepared(arriving, idCol, textCol, shingleN, k,
      rowsPerBand)
    ingestVerdicts(segmentsOfStrict(pathPrefix, gen).map { seg =>
      ingestHitsOn(prepared,
        liveFp(graft.sources.Bucketing.readBucketed(
          spark, s"${namePrefix}_${seg}_fp")).select(col("fp")),
        live(graft.sources.Bucketing.readBucketed(
          spark, s"${namePrefix}_${seg}_bands")),
        live(graft.sources.Bucketing.readBucketed(
          spark, s"${namePrefix}_${seg}_mh")),
        k, minAgree, identity)
    }.reduce(_ unionByName _))
  }

  /** 32-bit SimHash over whitespace tokens: token hash = first 8 hex
    * chars of md5, decoded with `conv(_, 16, 10)` (the oracle decodes
    * the same hex with digit-position arithmetic — same value, portable
    * check); per-bit weighted vote, sign → bit. One explode + one hash
    * agg; the 32 conditional sums stay in codegen. */
  def simHash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.wsTokens(col(textCol))).as("tk"))
    val withH = tok.withColumn("h",
      conv(substring(md5(col("tk")), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until 32).map(j =>
      sum(lit(2) * ((col("h") / lit(1L << j)).cast("long") % 2) - lit(1)).as(s"s$j"))
    val agg = withH.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    agg.select(col("id"),
      (0 until 32).map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ `maxHd`, exact
    * all-pairs form — the correctness oracle for [[bandedHammingPairs]]
    * and fine below ~10⁵ docs. */
  def hammingPairs(sim: DataFrame, maxHd: Int): DataFrame =
    sim.as("a").join(sim.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hd"))
      .filter(col("hd") <= maxHd)

  /** Scale path for SimHash pairing: pigeonhole banding. Split the
    * 32-bit signature into `maxHd + 1` contiguous blocks — two
    * signatures within Hamming distance maxHd MUST agree exactly on at
    * least one block — and equi-join on (block index, block value), so
    * the shuffle key is a block value and no cross join exists
    * anywhere. Candidates are then verified with the real Hamming
    * distance. Exact same result set as [[hammingPairs]]
    * (spec-verified): banding is a complete (recall-1) filter. */
  def bandedHammingPairs(sim: DataFrame, maxHd: Int): DataFrame = {
    val nBlocks = maxHd + 1
    val width = 32 / nBlocks
    // block b = bits [b*width, (b+1)*width) (last block takes the rest)
    val blocks = (0 until nBlocks).map { b =>
      val w = if (b == nBlocks - 1) 32 - b * width else width
      struct(lit(b).as("blk"),
        col("simhash").bitwiseAND(lit(((1L << w) - 1) << (b * width))).as("v"))
    }
    val banded = sim.select(col("id"), col("simhash"),
      explode(array(blocks: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.blk").as("blk"), col("bb.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hd"))
      .distinct()
      .filter(col("hd") <= maxHd)
  }

  /** 64-bit SimHash, carried as two 32-bit halves `(sim_hi, sim_lo)`.
    *
    * Why 64 over [[simHash32]] at scale: pigeonhole banding for
    * Hamming ≤ 3 splits the signature into 4 blocks, so 32-bit
    * signatures give 8-bit blocks — only 256 distinct band values, and
    * every band bucket holds n/256 docs regardless of content, making
    * the candidate join quadratically dense as n grows. 64-bit
    * signatures give 16-bit blocks (65 536 values): 256× sparser
    * buckets for the same recall guarantee, which is the difference
    * between a workable and a degenerate candidate join at 10⁸+ docs.
    * Halves (not one long) keep bit 63 out of the sign position, so
    * both engines agree on plain integer comparisons — the same
    * portability trick as the minhash md5 lanes; the second lane salts
    * the token with `"1:"` exactly like [[minHashSignature]]. */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.wsTokens(col(textCol))).as("tk"))
    val withH = tok
      .withColumn("hlo", conv(substring(md5(col("tk")), 1, 8), 16, 10).cast("long"))
      .withColumn("hhi",
        conv(substring(md5(concat(lit("1:"), col("tk"))), 1, 8), 16, 10).cast("long"))
    def sums(h: String, p: String) = (0 until 32).map(j =>
      sum(lit(2) * ((col(h) / lit(1L << j)).cast("long") % 2) - lit(1)).as(s"$p$j"))
    val bitSums = sums("hlo", "l") ++ sums("hhi", "u")
    val agg = withH.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    def pack(p: String) = (0 until 32)
      .map(j => when(col(s"$p$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("id"), pack("u").as("sim_hi"), pack("l").as("sim_lo"))
  }

  /** All-pairs Hamming ≤ `maxHd` over [[simHash64]] signatures — the
    * small-data oracle for [[bandedHammingPairs64]]. */
  def hammingPairs64(sim: DataFrame, maxHd: Int): DataFrame =
    sim.as("a").join(sim.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
          bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("hd"))
      .filter(col("hd") <= maxHd)

  /** Pigeonhole banding over the 64-bit signature: `maxHd + 1`
    * contiguous blocks, equi-join on (block index, block value), exact
    * Hamming verify of candidates. Recall-1 like
    * [[bandedHammingPairs]], but with 64/(maxHd+1)-bit blocks the band
    * value space is ~2¹⁶ for maxHd = 3 instead of 2⁸ — see
    * [[simHash64]]. */
  def bandedHammingPairs64(sim: DataFrame, maxHd: Int): DataFrame = {
    require(maxHd >= 1 && maxHd <= 31, s"maxHd must be in [1, 31], got $maxHd")
    val nBlocks = maxHd + 1
    val width = 64 / nBlocks
    // value of signature bits [s, s+w) assembled from the two halves
    def blockVal(s: Int, w: Int): Column = {
      val mask = (1L << w) - 1
      if (s + w <= 32) shiftrightunsigned(col("sim_lo"), s).bitwiseAND(lit(mask))
      else if (s >= 32) shiftrightunsigned(col("sim_hi"), s - 32).bitwiseAND(lit(mask))
      else shiftrightunsigned(col("sim_lo"), s)
        .bitwiseOR(shiftleft(col("sim_hi"), 32 - s)).bitwiseAND(lit(mask))
    }
    val blocks = (0 until nBlocks).map { b =>
      val s = b * width
      val w = if (b == nBlocks - 1) 64 - s else width
      struct(lit(b).as("blk"), blockVal(s, w).as("v"))
    }
    val banded = sim.select(col("id"), col("sim_hi"), col("sim_lo"),
      explode(array(blocks: _*)).as("bb"))
      .select(col("id"), col("sim_hi"), col("sim_lo"),
        col("bb.blk").as("blk"), col("bb.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
          bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("hd"))
      .distinct()
      .filter(col("hd") <= maxHd)
  }

  /** Per-passage duplication summary: chunk every document into
    * `size`-char windows advancing by `size − overlap`
    * ([[Packing.chunkText]]), fingerprint each passage (md5 of the RAW
    * chunk — char-exact spans; normalize the text upstream if
    * case/whitespace variants should collapse), and report every
    * fingerprint occurring in at least `minDocs` distinct documents:
    * `(fp, n_docs, n_occurrences)`. The training-data insight this
    * serves: documents share long verbatim spans (licenses, templates,
    * quoted passages) without being document-level near-dups, so
    * document-granularity dedup never sees them. One chunk explode +
    * two hash aggs, shuffle keyed on the fingerprint — never a doc
    * pair. */
  def duplicatedPassages(docs: DataFrame, idCol: String, textCol: String,
                         size: Int, overlap: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    Packing.chunkText(docs, idCol, textCol, size, overlap)
      .select(col("id"), md5(col("chunk_text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Cross-document duplicated-passage PAIRS: documents sharing at
    * least one identical `size`-char passage, with the shared-passage
    * count — `(a_id, b_id, n_shared)`. Candidate generation is an
    * inverted-index equi-join on the passage fingerprint (the
    * [[jaccardPairs]] shape at passage granularity), so the shuffle
    * key is a fingerprint and no doc-pair cross join exists.
    *
    * `maxPassageDf` is this path's boilerplate guard, mirroring
    * `maxShingleDf`: a passage present in m documents (a license
    * header, a navigation template) contributes m² pairs, so
    * fingerprints above the document-frequency cap are dropped BEFORE
    * the self-join — boilerplate is exactly what passage-level dedup
    * should ignore, since it says nothing about the documents being
    * related. */
  def duplicatedPassagePairs(docs: DataFrame, idCol: String, textCol: String,
                             size: Int, overlap: Int,
                             maxPassageDf: Option[Int] = None): DataFrame = {
    val p = Packing.chunkText(docs, idCol, textCol, size, overlap)
      .select(col("id"), md5(col("chunk_text")).as("fp"))
      .distinct()
    val kept = maxPassageDf match {
      case Some(cap) =>
        // cap on: the passage table feeds three subtrees (hot-fp agg +
        // both self-join sides) — session-owned cache, same contract
        // as lshCandidatePairs above
        val cached = p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = cached.groupBy(col("fp")).agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") > cap).select(col("fp"))
        cached.join(hot, Seq("fp"), "left_anti")
      case None => p
    }
    val a = kept.select(col("id").as("a_id"), col("fp"))
    val b = kept.select(col("id").as("b_id"), col("fp"))
    a.join(b, Seq("fp")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-split contamination audit: for every document in split `from`,
    * the fraction of its distinct shingles that also occur anywhere in
    * split `against` — the benchmark-leakage check run before a split is
    * trusted. Inputs: a [[shingleTable]] and a `(id, split)` assignment
    * (e.g. [[Sampling.hashSplit]] output). One distinct pass over the
    * reference split's shingles, one semi-join on the shingle key (the
    * shuffle key is the shingle, never a doc pair — no quadratic
    * blow-up), one per-doc count. Docs with zero shingles (shorter than
    * the shingle width) cannot appear — they have no rows in the shingle
    * table. */
  def contamination(shingles: DataFrame, splits: DataFrame,
                    from: String, against: String): DataFrame = {
    val tagged = shingles.join(splits, Seq("id"))
    val refSh = tagged.filter(col("split") === against).select(col("s")).distinct()
    val fromSh = tagged.filter(col("split") === from)
    val hits = fromSh.join(refSh, Seq("s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    fromSh.select(col("id"), col("n_shingles")).distinct()
      .join(hits, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_shingles"), 4).as("contamination"))
  }

  /** Benchmark decontamination — the REMOVAL counterpart of the
    * [[contamination]] audit: flag (and let the caller drop) every
    * training document sharing ≥ `minOverlap` distinct word-n-shingles
    * with ANY document of an evaluation benchmark, the n-gram-overlap
    * rule training pipelines apply before a corpus is trusted.
    *
    * Scale shape exploits the deep asymmetry of the two sides: a
    * benchmark suite is MBs where the corpus is TBs, so the eval
    * shingle SET (deduplicated — doc identity is irrelevant to the
    * decision) is BROADCAST, and the train side never shuffles at all:
    * shingle explode, broadcast-hash semi-probe, and the per-doc
    * overlap count's partial aggregation all happen map-side; the only
    * exchange is the per-doc-id count merge, keyed on the doc id it was
    * already grouped by. Compare [[contamination]], which equi-joins on
    * the shingle key — right when BOTH splits are corpus-sized.
    *
    * Returns one row per train doc:
    * `(id, n_shingles, n_overlap, keep)`; docs too short to shingle
    * have zero shingles and keep. `n_shingles` is recomputed narrowly
    * per row (a second cheap scan) rather than re-reading the exploded
    * shingle table — reusing it would mean persisting a corpus-sized
    * explode or re-running it, both worse than one extra text scan at
    * corpus scale. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int, minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val evalSh = shingleTable(eval, idCol, textCol, n).select(col("s")).distinct()
    val trainSh = shingleTable(train, idCol, textCol, n)
    val hits = trainSh.join(broadcast(evalSh), Seq("s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
    train.select(col(idCol).as("id"),
        size(array_distinct(TextAnalysis.wordShingles(col(textCol), n)))
          .as("n_shingles"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("keep", col("n_overlap") < minOverlap)
  }

  /** Duplicated-span REMOVAL (the token-level form of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — ExactSubstr): any `n`-token gram occurring at
    * least `minCount` times ANYWHERE in the corpus (across documents
    * or within one) marks its token span; overlapping marked spans
    * merge; the merged spans are cut out of the document, leaving the
    * deduplicated remainder. Unlike document-level dedup (drop whole
    * near-dup docs) or [[passageDupPairs]] (detect shared fixed-size
    * chunks), this rewrites each document to remove just the verbatim
    * boilerplate — licenses, templates, quoted passages — while
    * keeping the unique prose around it.
    *
    * Scale shape (no suffix array needed at this granularity):
    *  1. gram fingerprints are a per-row projection over the token
    *     array (md5 of the n-token window; one corpus scan, explode
    *     carries (doc, pos, fp));
    *  2. the global occurrence count is one fp-keyed aggregation, and
    *     duplicated positions come back via an fp equi-join — the
    *     inverted-index shape again, shuffles carry gram keys, never
    *     doc pairs;
    *  3. span merging is gaps-and-islands per document over the
    *     DUPLICATED positions only (a window over the dup subset —
    *     corpus-proportional only in the duplication rate);
    *  4. the rewrite is a per-row indexed filter against the doc's own
    *     merged-interval list (doc-count-sized join, interval lists
    *     ride as small arrays).
    *
    * Returns `(doc_id, clean_text, n_removed)` — `clean_text` is the
    * normalized text with removed spans cut (single-space rejoined),
    * `n_removed` the count of removed tokens. Documents shorter than
    * `n` tokens pass through untouched. Determinism: md5 grams, exact
    * counts, fixed interval arithmetic — the DuckDB oracle replays the
    * whole pipeline. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, minCount: Int = 2): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val base = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.wsTokens(col(textCol)).as("toks"))
    val grams = base
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= n,
            sequence(lit(0), size(col("toks")) - n))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(n)))).as("fp"))
    val dupFps = grams.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("fp"))
    val dupPos = grams.join(dupFps, Seq("fp")).select(col("doc_id"), col("pos"))
    // gaps-and-islands: a position starts a new span iff it clears the
    // running end of everything before it (grams are fixed length n)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val ivs = dupPos
      .withColumn("new_island",
        (col("pos") >= coalesce(max(col("pos") + n).over(wPrev), lit(-1)))
          .cast("long"))
      .withColumn("island", sum(col("new_island")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val perDoc = ivs.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("e") - col("s")).as("n_removed"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ivs").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            filter(col("toks"), (_, i) =>
              size(filter(col("ivs"), iv =>
                i >= iv.getField("s") && i < iv.getField("e"))) === 0)))
          .as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }
}
