package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.StoreFs.withStoreLease

/** Product quantization (Jégou et al., PAMI 2011) — the
  * bytes-per-vector ANN tier: the embedding is split into `m`
  * subvectors, each subspace gets its own `ks`-codeword codebook
  * (deterministic Lloyd, L2 metric), and a vector stores only its `m`
  * codeword ids. At d=64 doubles, m=4 codes ≈ 4 bytes against 512 —
  * two orders of magnitude past [[Quantize]]'s SQ8, the tier that
  * keeps a 10¹⁰-vector index in cluster memory. Search is
  * asymmetric-distance computation (ADC): the query stays
  * full-precision, one `m × ks` distance table per query is built
  * against the codebooks (metadata-sized, broadcast), and a
  * candidate's approximate distance is `m` table lookups summed — no
  * per-candidate arithmetic beyond the lookup fold, and the corpus
  * never moves.
  *
  * Determinism (the oracle replays every stage): seeds are the first
  * `ks` subvectors in id order per subspace, assignment ties break
  * toward the lower codeword id, means are strict id-ordered folds,
  * fitted codebooks are re-numbered DENSELY per subspace (empty
  * codewords vanish identically on both engines, so positional
  * distance-table lookups stay aligned), and all distances are
  * fixed-order double folds.
  */
object PqIndex {

  /** Squared L2 as a strict sequential fold — the PQ metric, engine-
    * replayable like [[Similarity.cosineFold]]. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Explode `(carry…, vCol)` into `(carry…, sub, sv)` — one row per
    * subspace. Pure projection+generate: no shuffle. */
  private def subVectors(df: DataFrame, carry: Seq[String], vCol: String,
                         m: Int, subDim: Int): DataFrame =
    df.select(carry.map(col) :+ posexplode(array((0 until m).map(j =>
        slice(col(vCol), j * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")): _*)

  /** Argmin-L2 codeword per `(id, sub)` against broadcast codebooks;
    * ties toward the lower code. Same map-side-collapse shape as
    * [[IvfIndex.assign]]: the shuffle moves one row per (id, sub). */
  private def assign(subv: DataFrame, codebooks: DataFrame): DataFrame =
    subv.join(broadcast(codebooks), Seq("sub"))
      .withColumn("d2", l2Sq(col("sv"), col("centroid")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(struct(col("code"), col("sv")),
        struct(col("d2"), col("code"))).as("best"))
      .select(col("id"), col("sub"), col("best.sv").as("sv"),
        col("best.code").as("code"))

  /** Fail fast when the caller's `(m, subDim)` disagree with the shape
    * of the fitted codebooks — a mismatch otherwise produces NULL
    * distances (zip_with pads the shorter side) and silently garbage
    * assignments. One aggregate over the metadata-sized codebook
    * frame. */
  private def requireCodebookShape(codebooks: DataFrame, m: Int,
                                   subDim: Int): Unit = {
    val r = codebooks.agg(
      countDistinct(col("sub")).as("m"),
      min(size(col("centroid"))).as("dmin"),
      max(size(col("centroid"))).as("dmax")).head()
    require(r.getLong(0) == m,
      s"codebooks cover ${r.getLong(0)} subspaces, caller said m=$m")
    require(r.getInt(1) == subDim && r.getInt(2) == subDim,
      s"codebook centroids span ${r.getInt(1)}..${r.getInt(2)} dims, " +
        s"caller said subDim=$subDim")
  }

  /** Per-key `m × ks` ADC distance tables: `(keys…, dtab)` where
    * `dtab(sub)(code)` = ‖q_sub − codeword‖². `keys` is `q_id` for
    * raw-vector ADC and `(q_id, cluster)` for residual ADC (one table
    * per probed cell — the query residual differs per cell). Rows
    * collapse to one per key tuple — metadata-sized, built once and
    * broadcast by every consumer. ONE implementation for
    * [[adcSearch]]/[[ivfAdcSearch]] so fold order and sort keys cannot
    * drift between them. */
  private def distanceTables(queries: DataFrame, codebooks: DataFrame,
                             m: Int, subDim: Int,
                             keys: Seq[String] = Seq("q_id")): DataFrame =
    subVectors(queries, keys, "qv", m, subDim)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("d2", l2Sq(col("sv"), col("centroid")))
      .groupBy((keys :+ "sub").map(col): _*)
      .agg(array_sort(collect_list(struct(col("code"), col("d2")))).as("p"))
      .select(keys.map(col) :+ col("sub") :+
        expr("transform(p, x -> x.d2)").as("drow"): _*)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("sub"), col("drow")))).as("p"))
      .select(keys.map(col) :+ expr("transform(p, x -> x.drow)").as("dtab"): _*)

  /** A candidate's approximate squared distance: m dense-code lookups
    * into the query's distance table, summed by the usual 0.0-seeded
    * fold. */
  private def adcDistance(codes: Column, dtab: Column): Column =
    aggregate(zip_with(codes, dtab, (c, row) => get(row, c)),
      lit(0.0), (acc, x) => acc + x)

  /** Fit per-subspace codebooks over `(id, v: array<double>)` →
    * `(sub, code, centroid)`, `code` dense 0..|codebook(sub)|−1.
    * All `m` subspaces train in ONE keyed dataflow (the subspace id
    * rides the rows) — not m sequential fits. */
  def fitCodebooks(spark: SparkSession, corpus: DataFrame, m: Int, ks: Int,
                   iterations: Int): DataFrame = {
    require(m > 0 && ks > 0 && iterations >= 0, s"bad PQ params m=$m ks=$ks")
    val dim = corpus.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val subv = corpus.select(col("id"), col("v"))
      .transform(subVectors(_, Seq("id"), "v", m, subDim))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ws = Window.partitionBy(col("sub")).orderBy(col("id"))
    var cb = subv.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= ks)
      .select(col("sub"), (col("rn") - 1).as("code"), col("sv").as("centroid"))
    (1 to iterations).foreach { _ =>
      // ordered mean in ONE grouped pass over whole subvectors
      // ([[IvfIndex.orderedMeanByGroup]] — bit-identical to the former
      // posexplode → per-(sub, code, dim) fold, at n rows shuffled
      // instead of n·subDim)
      cb = IvfIndex.orderedMeanByGroup(
        assign(subv, cb), Seq("sub", "code"), "sv", "centroid")
    }
    // dense renumber per subspace: an empty codeword drops out of the
    // grouped update on every engine identically; dense ids keep the
    // positional ADC table lookups aligned with the codebook
    val wd = Window.partitionBy(col("sub")).orderBy(col("code"))
    val dense = cb.withColumn("code", (row_number().over(wd) - 1).cast("int"))
    // materialize the (m·ks)-row codebook, then release the exploded
    // corpus cache — callers re-derive subvectors per use
    val out = dense.localCheckpoint()
    subv.unpersist()
    out
  }

  /** PQ-encode the corpus: `(id, codes: array<int>)`, `codes(j)` = the
    * dense codeword id of subspace j. One scan + one (id, sub)-keyed
    * collapse; the output is the m-byte-per-vector fast tier. */
  def encode(corpus: DataFrame, codebooks: DataFrame, m: Int,
             subDim: Int): DataFrame = {
    requireCodebookShape(codebooks, m, subDim)
    assign(subVectors(corpus, Seq("id"), "v", m, subDim), codebooks)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("p"))
      .select(col("id"), expr("transform(p, x -> x.code)").as("codes"))
  }

  /** Coarse residuals: `(id, v − centroid(cluster), cluster)` — the
    * input the canonical FAISS IVFADC fits its codebooks on. The code
    * budget then encodes only the within-cell variance, which is below
    * raw variance in proportion to what the coarse quantizer explains
    * — a large win on clustered real corpora. (On the near-uniform
    * synthetic gate corpus the cells explain little and the measured
    * ADC error is comparable to raw-vector PQ: mean |ad2−d2| 0.59 vs
    * 0.55 at sf0.01 — the gate certifies the mechanics, not a recall
    * advantage the data cannot show.) Pure broadcast join + per-row
    * zip_with: one scan, no shuffle. */
  def residuals(indexed: DataFrame, centroids: DataFrame): DataFrame =
    indexed.join(broadcast(centroids), Seq("cluster"))
      .select(col("id"),
        zip_with(col("v"), col("centroid"), (x, c) => x - c).as("v"),
        col("cluster"))

  /** Persist a fitted two-tier index: coarse centroids and PQ
    * codebooks (metadata-sized) plus BOTH tiers cluster-partitioned —
    * `codes` (the m-byte hot tier a probe reads) and `full` (the cold
    * rerank tier). One directory per cell per tier, so
    * [[ivfAdcSearch]]'s probe joins prune both reads to the nProbe
    * probed cells (dynamic partition pruning), exactly the
    * [[IvfIndex.save]] layout doubled. Doubles/ints round-trip
    * parquet binary-exact, so search-after-reload ≡ in-memory search
    * bit-for-bit (q142 gates it on q141's oracle).
    *
    * GENERATIONAL: the four tables land under `dir/g<n>/` through the
    * shared commit protocol ([[graft.sources.StoreFs
    * .commitGenerationDir]]), so a crash between table writes leaves
    * readers on the previous COMPLETE generation. `retainGenerations`
    * keeps that many newest committed generations after the swap
    * (1 = current only), so a refresh can leave history for pinned
    * readers until [[vacuumTwoTier]] reclaims it. */
  def saveTwoTier(centroids: DataFrame, codebooks: DataFrame,
                  codesIdx: DataFrame, fullIdx: DataFrame, dir: String,
                  retainGenerations: Int = 1): Unit = withStoreLease(dir) {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    graft.sources.StoreFs.commitGenerationDir(dir) { g =>
      centroids.write.mode("overwrite").parquet(s"$g/centroids")
      Failpoints.hit("twotier:after-centroids")
      codebooks.write.mode("overwrite").parquet(s"$g/codebooks")
      // one file per cell, not one per (task, cell) — see IvfIndex.save
      codesIdx.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/codes")
      Failpoints.hit("twotier:after-codes")
      fullIdx.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/full")
    }
    vacuumTwoTier(dir, keepLast = retainGenerations)
  }

  /** Retention for a generational two-tier store: keep the newest
    * `keepLast` committed generations
    * ([[graft.sources.StoreFs.vacuumGenerationDirs]]). */
  def vacuumTwoTier(dir: String, keepLast: Int): Unit =
    graft.sources.StoreFs.vacuumGenerationDirs(dir, keepLast): Unit

  /** Generations of a two-tier store that are READABLE — valid
    * time-travel targets for [[loadTwoTierAt]]
    * ([[graft.sources.StoreFs.committedGenerationDirs]]). */
  def committedTwoTierGenerations(dir: String): Seq[Long] =
    graft.sources.StoreFs.committedGenerationDirs(dir)

  /** INCREMENTAL two-tier maintenance: append a `delta` of `(id, v)`
    * rows to a [[saveTwoTier]]d index WITHOUT refitting — assign the
    * delta to the persisted coarse centroids, encode it with the
    * persisted codebooks (`residual` must match the regime the index
    * was built with), and append both tiers' cluster partitions. With
    * centroids and codebooks FIXED, append ≡ full rebuild with the
    * same models EXACTLY (q146 gates it); drift accumulates only in
    * how well the old models fit the new data — re-tune with
    * [[IvfIndex.tuneNProbe]]-style recall checks, refit when recall
    * decays. Same exclusive-access contract as
    * [[IvfIndex.appendToIndex]]. Returns the delta's assignments. */
  /** [[appendToTwoTier]] + the staleness loop
    * ([[graft.operators.NswIndex.appendToNswRefreshing]]'s contract on
    * the PQ tier): after the append lands, re-check the persisted
    * operating point AND the codebook fit against the appended corpus
    * ([[refreshTwoTierTuning]] — re-tunes below the recall floor,
    * flags a refit recommendation past the quantization-error drift
    * ratio). A store with no tuning table appends without a check.
    * Returns the delta's assignments (the [[appendToTwoTier]]
    * contract). */
  def appendToTwoTierRefreshing(spark: SparkSession, delta: DataFrame,
                                dir: String, m: Int, subDim: Int,
                                residual: Boolean = false): DataFrame =
      withStoreLease(dir) {
    val (fs, p) = graft.sources.StoreFs.of(s"$dir/tuning")
    val tuned = fs.exists(p)
    // Guards BEFORE the append: appendToTwoTier is append-mode and NOT
    // idempotent, so every refusal must fire while the store is
    // untouched — a caller retrying a post-append failure would
    // double-append the delta rows, and a shape/regime-mismatched call
    // would encode the delta in the wrong space and append it silently
    // (corruption invisible until recall decays). Mirrors
    // [[refitTwoTier]]'s pre-mutation provenance guard.
    if (tuned) {
      val (_, _, _, pm, psd, pres, _) = loadTunedTwoTier(spark, dir)
      require(pm == m && psd == subDim && pres == residual,
        s"appendToTwoTierRefreshing called with (m=$m, subDim=$subDim, " +
          s"residual=$residual) but the persisted tuning was measured at " +
          s"(m=$pm, subDim=$psd, residual=$pres) — append with the " +
          "store's own shape/regime")
      val (sfs, sp) = graft.sources.StoreFs.of(s"$dir/tuning_sample")
      require(sfs.exists(sp),
        s"$dir has a tuning table but no tuning_sample: it was tuned " +
          "before tuneTwoTierNProbe persisted its held-out sample. Re-run " +
          "tuneTwoTierNProbe first, or appendToTwoTier + " +
          "refreshTwoTierTuning with explicit sampleQueries.")
    }
    val assigned = appendToTwoTier(spark, delta, dir, m, subDim, residual)
    if (tuned) refreshTwoTierTuning(spark, dir): Unit
    assigned
  }

  def appendToTwoTier(spark: SparkSession, delta: DataFrame, dir: String,
                      m: Int, subDim: Int,
                      residual: Boolean = false): DataFrame = withStoreLease(dir) {
    val root = graft.sources.StoreFs.generationRoot(dir, None, "two-tier store")
    val cent = spark.read.parquet(s"$root/centroids")
    val cb = spark.read.parquet(s"$root/codebooks")
    val assigned = IvfIndex.assign(delta, cent).localCheckpoint()
    val encSrc =
      if (residual) residuals(assigned, cent).select(col("id"), col("v"))
      else assigned.select(col("id"), col("v"))
    encode(encSrc, cb, m, subDim)
      .join(assigned.select(col("id"), col("cluster")), Seq("id"))
      .select(col("cluster"), col("id"), col("codes"))
      .write.mode("append").partitionBy("cluster").parquet(s"$root/codes")
    assigned.select(col("cluster"), col("id"), col("v"))
      .write.mode("append").partitionBy("cluster").parquet(s"$root/full")
    assigned
  }

  /** DELETE documents from a [[saveTwoTier]]d store — the third
    * lifecycle verb (build / append / REMOVE: takedown, retraction,
    * right-to-be-forgotten). Both tiers are strictly per-document rows
    * (no cross-row state — unlike the NSW graph's neighbor lists), so
    * filtering them at read time is EXACTLY a rebuild without the ids;
    * the delete itself is therefore a TOMBSTONE append — O(|ids|), no
    * store rewrite, applied to every generation by [[loadTwoTier]]'s
    * anti-join (tombstoned rows never reach a search; q190 gates the
    * ≡-rebuild equivalence). [[compactTwoTier]] folds tombstones into
    * a rewritten generation when the dead weight warrants it.
    *
    * Caveat (documented, not checked — the check would cost a join per
    * append): tombstones are store-wide, so RE-ingesting a previously
    * deleted id via [[appendToTwoTier]] requires a compaction after
    * which NO pre-compact generation remains readable — the compact
    * deliberately KEEPS the tombstone file while retained history
    * could otherwise serve the deleted ids via [[loadTwoTierAt]], and
    * a lingering tombstone would hide the re-added rows (the
    * [[graft.operators.TextDedup.deleteFromDedupStore]] contract). */
  def deleteFromTwoTier(spark: SparkSession, dir: String, ids: DataFrame): Unit =
    withStoreLease(dir) {
      ids.select(col("id").cast("long").as("id")).coalesce(1)
        .write.mode("append").parquet(s"$dir/tombstones")
    }

  /** The store's tombstone ids, if any were ever written. */
  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    if (graft.sources.StoreFs.childNames(dir).contains("tombstones"))
      Some(spark.read.parquet(s"$dir/tombstones"))
    else None

  /** Fold the tombstones into the store: rewrite the current
    * generation WITHOUT the tombstoned rows (centroids/codebooks are
    * fit parameters, unchanged by document removal), commit it, then
    * drop the tombstone table. Crash between commit and drop is
    * harmless — the anti-join of already-absent ids is a no-op. */
  def compactTwoTier(spark: SparkSession, dir: String,
                     retainGenerations: Int = 1): Unit = withStoreLease(dir) {
    if (tombstones(spark, dir).nonEmpty) {
      val (cent, cb, codes, full) = loadTwoTier(spark, dir) // already filtered
      saveTwoTier(cent, cb, codes, full, dir, retainGenerations)
      // Tombstones OUTLIVE the compact while any OTHER generation
      // stays readable: a retained pre-compact generation still
      // carries the deleted ids' rows, and a [[loadTwoTierAt]]
      // historic read (or a reader pinned mid-swap) must not
      // resurrect right-to-be-forgotten content. Against the
      // compacted generation they match nothing (written filtered) —
      // head serving is untouched. The file goes once no pre-compact
      // generation remains readable (the TextDedup compact contract).
      val newGen = graft.sources.StoreFs
        .readManifest(s"$dir/manifest").getOrElse(0L)
      if (committedTwoTierGenerations(dir).forall(_ == newGen))
        graft.sources.StoreFs.deleteChild(dir, "tombstones")
    }
  }

  /** Reload a [[saveTwoTier]]d index (its current committed
    * generation): `(centroids, codebooks, codesIdx, fullIdx)`, with
    * any [[deleteFromTwoTier]] tombstones applied to both tiers
    * (broadcast anti-join — the static sides keep their partitioning,
    * no exchange is added when the store has no tombstones). */
  def loadTwoTier(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    loadTwoTierAt(spark, dir, None)

  /** [[loadTwoTier]] AS OF a retained generation — the time-travel
    * face of the generational layout (the [[graft.operators.TextDedup
    * .ingestFlagsBucketed]] `atGeneration` contract on the ANN side):
    * serve a search against the store's HISTORY, byte-for-byte —
    * pre-refresh/pre-refit recall attribution, audit replay of an old
    * batch's retrieval. Only generations in
    * [[committedTwoTierGenerations]] qualify; anything else REFUSES
    * naming the readable list (vacuum trims history;
    * `retainGenerations` is the dial). Tombstones deliberately apply
    * to EVERY generation including historic reads — deletion
    * ([[deleteFromTwoTier]]) is a property of the vector, and history
    * must not resurrect right-to-be-forgotten content (the compact
    * verbs keep the tombstone file alive while any pre-compact
    * generation remains readable, for exactly this read). */
  def loadTwoTierAt(spark: SparkSession, dir: String,
                    atGeneration: Option[Long])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val root = graft.sources.StoreFs.generationRoot(dir, atGeneration, "two-tier store")
    val drop = tombstones(spark, dir)
    def live(df: DataFrame): DataFrame = drop match {
      case Some(t) => df.join(broadcast(t), Seq("id"), "left_anti")
      case None => df
    }
    (spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/codebooks"),
      live(spark.read.parquet(s"$root/codes")),
      live(spark.read.parquet(s"$root/full")))
  }

  /** IVF + PQ + ADC — the FAISS-IVFADC serving composition, the full
    * ANN ladder in one call: queries pick their `nProbe` nearest
    * coarse cells ([[IvfIndex]] centroids, broadcast), ADC scores ONLY
    * the codes of vectors in the probed cells (`codesIdx`:
    * `(cluster, id, codes)` — cluster-partitioned on disk, the probe
    * join prunes to nProbe directories), the best `rerank` candidates
    * per query are re-scored exactly against the full-precision cold
    * tier (`fullIdx`, same pruned read), and the final top-k is exact
    * within the surfaced candidates. Memory at scale: the hot tier is
    * m bytes/vector + the m×ks codebooks; the cold tier is touched for
    * rerank·|queries| rows only. Ranking is ascending approximate L2
    * (ADC), then ascending exact L2 on rerank; output carries both
    * distances.
    *
    * Two codebook regimes, chosen by `residual`:
    *  - `false`: codebooks fitted on RAW vectors — one distance table
    *    per query, the same codebooks serve any cell layout;
    *  - `true` (canonical FAISS IVFADC): codebooks fitted on
    *    [[residuals]] and `codesIdx` carries residual codes — the
    *    query side subtracts each PROBED cell's centroid first, so the
    *    distance tables are keyed `(q_id, cluster)` (nProbe tables per
    *    query — still metadata-sized, still broadcast). Same code
    *    budget, much tighter reconstruction. */
  /** PREDICATE-AWARE IVFADC serving — the filtered-search face of the
    * full composition ([[IvfIndex.searchFiltered]]'s contract applied
    * to the two-tier path): the predicate restricts the ADC candidate
    * set INSIDE the probed cells BEFORE the approximate trim, so no
    * non-matching row can occupy an ADC slot or a rerank slot, and a
    * selective predicate cannot starve the answer the way
    * post-filtering a plain top-k does — the result is the composition
    * applied to exactly the matching members of the probed cells (q197
    * gates it against the filtered oracle replay). `pred` ranges over
    * the columns of `fullIdx` (attributes beside the cold tier);
    * implementation is a semi-join restriction of the hot tier, the
    * rerank stage then only ever sees allowed survivors. */
  def ivfAdcSearchFiltered(spark: SparkSession, queries: DataFrame,
                           codesIdx: DataFrame, fullIdx: DataFrame,
                           centroids: DataFrame, codebooks: DataFrame,
                           m: Int, subDim: Int, k: Int, rerank: Int,
                           nProbe: Int, pred: org.apache.spark.sql.Column,
                           residual: Boolean = false): DataFrame = {
    val allowed = fullIdx.filter(pred).select(col("cluster"), col("id"))
    ivfAdcSearch(spark, queries,
      codesIdx.join(allowed, Seq("cluster", "id"), "left_semi"),
      fullIdx, centroids, codebooks, m, subDim, k, rerank, nProbe, residual)
  }

  def ivfAdcSearch(spark: SparkSession, queries: DataFrame, codesIdx: DataFrame,
                   fullIdx: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                   m: Int, subDim: Int, k: Int, rerank: Int,
                   nProbe: Int, residual: Boolean = false): DataFrame = {
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    requireCodebookShape(codebooks, m, subDim)
    val probes = IvfIndex.probeCellsRanked(spark, queries, centroids, nProbe)
    val approx = adcScoredCandidates(queries, codesIdx, centroids, codebooks,
        m, subDim, probes, residual)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(rerank, -col("ad2"), col("id")).as("topk"))
      .select(col("q_id"), explode(col("topk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("id"), (-col("c.score")).as("ad2"))
    val fullCand = fullIdx.join(
      broadcast(probes.select(col("q_id"), col("qv"), col("cluster"))),
      Seq("cluster"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("id").asc)
    fullCand.join(broadcast(approx), Seq("q_id", "id"))
      .withColumn("d2", l2Sq(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("id").as("n_id"), (round(col("ad2"), 4) + 0.0).as("ad2"),
        (round(col("d2"), 4) + 0.0).as("d2"))
  }

  /** The shared ADC scoring pass of [[ivfAdcSearch]] and
    * [[twoTierRecallAtK]] — candidates of the probed cells with their
    * approximate distance, the probe rank riding along:
    * `(q_id, rn, id, ad2)`. `probes` is
    * [[IvfIndex.probeCellsRanked]] output; a multi-width consumer
    * probes at its WIDEST width and slices `rn <= width` per width —
    * the same candidate multiset each per-width search would build
    * (the width-np probe set IS the `rn <= np` prefix of the widest).
    * ONE implementation of distance-table construction + ADC lookup
    * for both the serving and the evaluation path, so they cannot
    * drift. */
  private def adcScoredCandidates(queries: DataFrame, codesIdx: DataFrame,
                                  centroids: DataFrame, codebooks: DataFrame,
                                  m: Int, subDim: Int, probes: DataFrame,
                                  residual: Boolean): DataFrame = {
    val dtabKeys = if (residual) Seq("q_id", "cluster") else Seq("q_id")
    val dtab =
      if (residual) {
        val rq = probes.join(broadcast(centroids), Seq("cluster"))
          .select(col("q_id"), col("cluster"),
            zip_with(col("qv"), col("centroid"), (x, c) => x - c).as("qv"))
        distanceTables(rq, codebooks, m, subDim, dtabKeys)
      } else distanceTables(queries, codebooks, m, subDim, dtabKeys)
    codesIdx
      .join(broadcast(
        probes.select(col("q_id"), col("cluster"), col("rn"))), Seq("cluster"))
      .join(broadcast(dtab), dtabKeys)
      .withColumn("ad2", adcDistance(col("codes"), col("dtab")))
      .select(col("q_id"), col("rn"), col("id"), col("ad2"))
  }

  /** Exact-L2 ground truth for a SAMPLE-sized query set over the live
    * full tier: `(q_id, n_id)`, the top-`k` by ascending exact L2
    * (ties toward the lower id). The `crossJoin(broadcast(queries))`
    * is the small-query-set oracle shape — |queries| is a held-out
    * sample, never a corpus. */
  private def bruteL2TopK(queries: DataFrame, fullIdx: DataFrame,
                          k: Int): DataFrame =
    fullIdx.crossJoin(broadcast(queries.select(col("q_id"), col("qv"))))
      .withColumn("d2", l2Sq(col("qv"), col("v")))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(k, -col("d2"), col("id")).as("topk"))
      .select(col("q_id"), explode(col("topk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("n_id"))

  /** Recall@k of the FULL two-tier serving composition
    * ([[ivfAdcSearch]]: probe → ADC → exact rerank) at each candidate
    * probe width, against exact-L2 ground truth over the same live
    * store — [[IvfIndex.recallAtK]] for the PQ tier. One row per
    * width: `(n_probe, n_queries, total_hits, avg_recall,
    * min_recall)`, recalls rounded to 4 (the choice and the oracle
    * both read the rounded value). Ground truth is ONE sample-sized
    * brute pass, eager-materialized; each width re-runs only the
    * pruned probe/ADC/rerank join. */
  /** `sharedTruth`, when supplied, is a `(q_id, n_id)` exact-L2 truth
    * table from [[bruteL2TopK]] over the SAME (queries, fullIdx, k) —
    * the r20 lifecycle-sharing hook (guide §1.2, the
    * [[IvfIndex.recallAtK]] contract): a staleness refresh measures
    * the point and re-tunes the grid on ONE brute pass, not two. The
    * caller owns the equivalence (store lease held across both). */
  def twoTierRecallAtK(spark: SparkSession, queries: DataFrame,
                       codesIdx: DataFrame, fullIdx: DataFrame,
                       centroids: DataFrame, codebooks: DataFrame,
                       m: Int, subDim: Int, k: Int, rerank: Int,
                       nProbes: Seq[Int],
                       residual: Boolean = false,
                       sharedTruth: Option[DataFrame] = None): DataFrame = {
    require(nProbes.nonEmpty, "twoTierRecallAtK needs at least one width")
    require(k > 0 && rerank >= k, s"need rerank >= k > 0, got k=$k rerank=$rerank")
    requireCodebookShape(codebooks, m, subDim)
    val truth = sharedTruth.getOrElse(
      bruteL2TopK(queries, fullIdx, k).localCheckpoint())
    // ONE code-tier pass and ONE full-tier pass for every width (guide
    // §1.2): probe at the widest width keeping the probe rank, ADC-score
    // each candidate once via the SAME [[adcScoredCandidates]] the
    // serving path runs, then per width trim the `rn <= width` slice to
    // its rerank survivors (the width-np candidate set IS that slice).
    // The exact rerank joins the width-tagged survivor union against
    // the probed full tier once, ranking per (width, query) — identical
    // arithmetic and tie-breaks to [[ivfAdcSearch]]'s per-width rerank,
    // which previously re-scanned both tiers once PER width.
    val probes = IvfIndex.probeCellsRanked(spark, queries, centroids,
      nProbes.max)
    val cand = adcScoredCandidates(queries, codesIdx, centroids, codebooks,
        m, subDim, probes, residual)
      .localCheckpoint()
    val survivors = nProbes.map { np =>
      cand.filter(col("rn") <= np)
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKAgg(rerank, -col("ad2"), col("id")).as("topk"))
        .select(col("q_id"), explode(col("topk.items")).as("c"))
        .select(lit(np).cast("int").as("np"), col("q_id"),
          col("c.id").as("id"))
    }.reduce(_ unionByName _)
    val wr = Window.partitionBy(col("np"), col("q_id"))
      .orderBy(col("d2").asc, col("id").asc)
    val reranked = fullIdx
      .join(broadcast(probes.select(col("q_id"), col("qv"), col("cluster"))),
        Seq("cluster"))
      .join(broadcast(survivors), Seq("q_id", "id"))
      .withColumn("d2", l2Sq(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("np"), col("q_id"), col("id").as("n_id"))
      .localCheckpoint()
    nProbes.map { np =>
      IvfIndex.recallSummary(queries,
        reranked.filter(col("np") === np).select(col("q_id"), col("n_id")),
        truth, k, lit(np).cast("int").as("n_probe"))
    }.reduce(_ unionByName _)
  }

  /** Mean PQ quantization (reconstruction) error of the live store
    * under its persisted codebooks — the codebook-FIT-DRIFT measure:
    * per row, the sum over subspaces of the assigned codeword's
    * squared L2 residual (exactly the argmin distance [[encode]]
    * minimizes); the corpus mean is a strict ordered fold (per-cell
    * id-ordered partial sums, then a cluster-ordered fold of the cell
    * sums — cell-sized lists, never a corpus-sized collect) so the
    * value is bit-reproducible cross-engine, then rounded to 4.
    * Returns one row `(mean_qerr, n_rows)`. Rising mean_qerr after
    * [[appendToTwoTier]] (append-without-refit) is exactly the drift
    * the fixed code budget cannot express — the refit signal
    * [[refreshTwoTierTuning]] gates on. */
  def meanQuantError(spark: SparkSession, fullIdx: DataFrame,
                     centroids: DataFrame, codebooks: DataFrame,
                     m: Int, subDim: Int,
                     residual: Boolean = false): DataFrame = {
    val src =
      if (residual) residuals(fullIdx.select(col("id"), col("v"),
        col("cluster")), centroids).select(col("cluster"), col("id"), col("v"))
      else fullIdx.select(col("cluster"), col("id"), col("v"))
    val perRow = subVectors(src, Seq("cluster", "id"), "v", m, subDim)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("d2", l2Sq(col("sv"), col("centroid")))
      .groupBy(col("cluster"), col("id"), col("sub"))
      .agg(min(col("d2")).as("d2"))
      .groupBy(col("cluster"), col("id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("d2")))),
          p => p.getField("d2")),
        lit(0d), (acc, x) => acc + x).as("qe"))
    perRow
      .groupBy(col("cluster"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("id"), col("qe")))),
          p => p.getField("qe")),
        lit(0d), (acc, x) => acc + x).as("s"),
        count(lit(1)).as("n"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("cluster"), col("s")))),
          p => p.getField("s")),
        lit(0d), (acc, x) => acc + x).as("s"),
        sum(col("n")).as("n_rows"))
      .select(round(col("s") / col("n_rows"), 4).as("mean_qerr"),
        col("n_rows"))
  }

  /** Recall-driven probe-width AUTO-TUNING for the two-tier store —
    * [[IvfIndex.tuneNProbe]] applied to the full serving composition:
    * measure sample recall@k of [[ivfAdcSearch]] at each width over a
    * held-out sample, choose the CHEAPEST width whose ROUNDED avg
    * recall meets `recallFloor` (fall back to the widest — never
    * silently under-deliver), and persist with the store:
    *  - `dir/tuning`: one row per width + chosen flag and the full
    *    provenance the refresh needs (`recall_floor, at_k, rerank, m,
    *    sub_dim, residual`);
    *  - `dir/tuning_sample`: the held-out sample, so lifecycle verbs
    *    can re-measure without the caller re-supplying it;
    *  - `dir/codebook_fit` (only when absent, or when
    *    `resetQerrBaseline` — the baseline belongs to the CODEBOOK
    *    fit, so a staleness re-tune must NOT move it; delete the file
    *    or pass true when the codebooks are actually refit): the
    *    store's [[meanQuantError]] at tune time.
    * Returns the chosen width. */
  def tuneTwoTierNProbe(spark: SparkSession, dir: String,
                        sampleQueries: DataFrame, k: Int, rerank: Int,
                        nProbes: Seq[Int], recallFloor: Double,
                        m: Int, subDim: Int, residual: Boolean = false,
                        resetQerrBaseline: Boolean = false,
                        sharedTruth: Option[DataFrame] = None): Int =
      withStoreLease(dir) {
    require(recallFloor > 0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    val (cent, cb, codes, full) = loadTwoTier(spark, dir)
    val rec = twoTierRecallAtK(spark, sampleQueries, codes, full, cent, cb,
        m, subDim, k, rerank, nProbes, residual, sharedTruth)
      .localCheckpoint() // |nProbes| rows; feeds the choice AND the write
    val byWidth = rec.select(col("n_probe"), col("avg_recall")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val chosen = byWidth.collectFirst { case (np, ar) if ar >= recallFloor => np }
      .getOrElse(byWidth.last._1)
    rec.withColumn("chosen", col("n_probe") === lit(chosen))
      .withColumn("recall_floor", lit(recallFloor))
      .withColumn("at_k", lit(k))
      .withColumn("rerank", lit(rerank))
      .withColumn("m", lit(m))
      .withColumn("sub_dim", lit(subDim))
      .withColumn("residual", lit(residual))
      .write.mode("overwrite").parquet(s"$dir/tuning")
    sampleQueries.select(col("q_id"), col("qv")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tuning_sample")
    val (fs, fp) = graft.sources.StoreFs.of(s"$dir/codebook_fit")
    if (resetQerrBaseline || !fs.exists(fp))
      meanQuantError(spark, full, cent, cb, m, subDim, residual).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/codebook_fit")
    chosen
  }

  /** The persisted operating point of [[tuneTwoTierNProbe]] plus its
    * provenance: `(nProbe, k, rerank, m, subDim, residual, floor)`. */
  def loadTunedTwoTier(spark: SparkSession, dir: String)
      : (Int, Int, Int, Int, Int, Boolean, Double) = {
    val r = spark.read.parquet(s"$dir/tuning").filter(col("chosen"))
      .select(col("n_probe"), col("at_k"), col("rerank"), col("m"),
        col("sub_dim"), col("residual"), col("recall_floor")).head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
      r.getBoolean(5), r.getDouble(6))
  }

  /** STALENESS REFRESH for the two-tier store — the closing of the
    * staleness triad ([[IvfIndex.refreshNProbeTuning]] flat tier,
    * [[NswIndex.refreshWalkTuning]] graph tier, and now the PQ tier,
    * which has TWO drift surfaces):
    *  1. the OPERATING POINT: re-measure recall@k at the persisted
    *     width over the persisted held-out sample (or `sampleQueries`
    *     when the workload itself drifted), append to the
    *     `tuning_check` audit table, re-tune over the persisted grid
    *     only when the rounded avg recall fell below the floor;
    *  2. the CODEBOOK FIT: [[appendToTwoTier]] appends WITHOUT
    *     refitting, so the fixed code budget reconstructs drifted mass
    *     progressively worse — re-measure [[meanQuantError]] over the
    *     live store, compare against the persisted fit-time baseline
    *     (`dir/codebook_fit`), and RECOMMEND a refit when the rounded
    *     mean error exceeds `qerrRefitRatio` × the baseline. The
    *     recommendation is a flag in the audit row, not an automatic
    *     refit: refitting changes every stored code (a full store
    *     rebuild + re-tune), a deliberate operator action — the
    *     documented remedy for the drift that was previously only a
    *     comment on [[appendToTwoTier]].
    * Returns `(nProbe, retuned, refitRecommended)`. Cost: one
    * sample-sized recall pass + one corpus quantization scan when
    * healthy; one [[tuneTwoTierNProbe]]-equivalent grid pass when
    * stale. q203 gates check + refresh + refit flag against a
    * drifted-delta fixture with the oracle replaying both corpus
    * states. */
  def refreshTwoTierTuning(spark: SparkSession, dir: String,
                           sampleQueries: Option[DataFrame] = None,
                           qerrRefitRatio: Double = 1.05
                          ): (Int, Boolean, Boolean) = withStoreLease(dir) {
    val tuning = spark.read.parquet(s"$dir/tuning")
    val (point, k, rerank, m, subDim, residual, floor) =
      loadTunedTwoTier(spark, dir)
    val widths = tuning.select(col("n_probe"))
      .collect().map(_.getInt(0)).toSeq.sorted
    // pre-sample-persisting stores: fail with the remedy, not a raw
    // path-not-found (the refreshNProbeTuning/refreshWalkTuning guard)
    if (sampleQueries.isEmpty) {
      val (fs, sp) = graft.sources.StoreFs.of(s"$dir/tuning_sample")
      require(fs.exists(sp),
        s"$dir has a tuning table but no tuning_sample: it was tuned " +
          "before tuneTwoTierNProbe persisted its held-out sample. Re-run " +
          "tuneTwoTierNProbe or pass sampleQueries explicitly.")
    }
    val queries = sampleQueries
      .getOrElse(spark.read.parquet(s"$dir/tuning_sample"))
      .localCheckpoint()
    val (cent, cb, codes, full) = loadTwoTier(spark, dir)
    // ONE exact-L2 truth pass for the check AND the (possible) re-tune
    // (guide §1.2): this verb holds the store lease, so the full tier
    // cannot mutate between them — the re-tune's truth is bit-identical
    val truth = bruteL2TopK(queries, full, k).localCheckpoint()
    val check = twoTierRecallAtK(spark, queries, codes, full, cent, cb,
        m, subDim, k, rerank, Seq(point), residual, Some(truth))
      .localCheckpoint()
    val avg = check.select(col("avg_recall")).head().getDouble(0)
    val stale = avg < floor
    val qerrNow = meanQuantError(spark, full, cent, cb, m, subDim, residual)
      .select(col("mean_qerr")).head().getDouble(0)
    val qerrFit = spark.read.parquet(s"$dir/codebook_fit")
      .select(col("mean_qerr")).head().getDouble(0)
    val refit = qerrNow > qerrRefitRatio * qerrFit
    check.withColumn("recall_floor", lit(floor))
      .withColumn("at_k", lit(k))
      .withColumn("stale", lit(stale))
      .withColumn("mean_qerr", lit(qerrNow))
      .withColumn("fit_qerr", lit(qerrFit))
      .withColumn("refit_recommended", lit(refit))
      .coalesce(1)
      .write.mode("append").parquet(s"$dir/tuning_check")
    if (!stale) (point, false, refit)
    else (tuneTwoTierNProbe(spark, dir, queries, k, rerank, widths, floor,
      m, subDim, residual, sharedTruth = Some(truth)), true, refit)
  }

  /** REFIT the two-tier store's codebooks — the automated remedy
    * [[refreshTwoTierTuning]]'s refit recommendation names: fit NEW
    * per-subspace codebooks over the store's CURRENT live rows
    * (coarse centroids unchanged — they are the cell layout;
    * re-fitting them is [[IvfIndex.splitOversizedCells]]'s job),
    * re-encode every live row, commit both tiers as a new generation,
    * fold any tombstones in (the new generation is built from live
    * rows only, exactly [[compactTwoTier]]'s semantics), RESET the
    * `codebook_fit` drift baseline (the baseline belongs to the fit —
    * this is the one verb that moves it), and re-tune the probe width
    * at the persisted provenance over the persisted held-out sample
    * (or `sampleQueries`). After a refit,
    * `store ≡ build(live rows, same centroids, fresh codebook fit)`
    * EXACTLY — q204 gates it on a direct-build oracle. `ks` and
    * `iterations` are the codebook fit parameters (not persisted
    * provenance — the caller owns the fit budget). Cost: one codebook
    * fit + one encode pass over the live corpus + the tune grid —
    * the full-rebuild price the recommendation flag exists to defer
    * until drift warrants it. */
  def refitTwoTier(spark: SparkSession, dir: String, m: Int, subDim: Int,
                   ks: Int, iterations: Int, residual: Boolean = false,
                   retainGenerations: Int = 1,
                   sampleQueries: Option[DataFrame] = None): Unit =
      withStoreLease(dir) {
    // ALL validation runs BEFORE the first mutation: a wrong-shape call
    // (or a pre-sample-persisting store) must refuse while the store is
    // still intact — a post-saveTwoTier failure would leave codes at the
    // new shape under a tuning table measured at the old one.
    val (fs, tp) = graft.sources.StoreFs.of(s"$dir/tuning")
    val preTune: Option[(DataFrame, Int, Int, Seq[Int], Double)] =
      if (!fs.exists(tp)) None
      else {
        val tuning = spark.read.parquet(s"$dir/tuning")
        val (_, k, rerank, pm, psd, pres, floor) = loadTunedTwoTier(spark, dir)
        require(pm == m && psd == subDim && pres == residual,
          s"refitTwoTier called with (m=$m, subDim=$subDim, residual=$residual) " +
            s"but the persisted tuning was measured at (m=$pm, subDim=$psd, " +
            s"residual=$pres) — refit with the store's own shape")
        if (sampleQueries.isEmpty) {
          val (sfs, sp) = graft.sources.StoreFs.of(s"$dir/tuning_sample")
          require(sfs.exists(sp),
            s"$dir has a tuning table but no tuning_sample: it was tuned " +
              "before tuneTwoTierNProbe persisted its held-out sample. Re-run " +
              "tuneTwoTierNProbe or pass sampleQueries explicitly.")
        }
        val widths = tuning.select(col("n_probe"))
          .collect().map(_.getInt(0)).toSeq.sorted
        val queries = sampleQueries
          .getOrElse(spark.read.parquet(s"$dir/tuning_sample"))
          .localCheckpoint()
        Some((queries, k, rerank, widths, floor))
      }
    val (cent, _, _, full) = loadTwoTier(spark, dir) // live rows only
    val fullM = full.select(col("cluster"), col("id"), col("v"))
      .localCheckpoint() // materialize before the generation swap
    val centM = cent.localCheckpoint()
    val src =
      if (residual) residuals(fullM.select(col("id"), col("v"),
        col("cluster")), centM).select(col("id"), col("v"))
      else fullM.select(col("id"), col("v"))
    val cb2 = fitCodebooks(spark, src, m, ks, iterations)
    val codes2 = encode(src, cb2, m, subDim)
      .join(fullM.select(col("id"), col("cluster")), Seq("id"))
      .select(col("cluster"), col("id"), col("codes"))
    saveTwoTier(centM, cb2, codes2, fullM, dir, retainGenerations)
    // the new generation holds live rows only: tombstones are folded
    graft.sources.StoreFs.deleteChild(dir, "tombstones")
    preTune match {
      case Some((queries, k, rerank, widths, floor)) =>
        tuneTwoTierNProbe(spark, dir, queries, k, rerank, widths, floor,
          m, subDim, residual, resetQerrBaseline = true): Unit
      case None =>
        // untuned store: still reset the drift baseline to the new fit
        meanQuantError(spark, fullM, centM, cb2, m, subDim, residual)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook_fit")
    }
  }

  /** ADC top-k: queries `(q_id, qv)` against the encoded corpus
    * `(id, codes)`. Builds the per-query `m × ks` distance table
    * (metadata-sized: |queries|·m·ks rows collapse to one row per
    * query, broadcast), then scores every candidate with an m-lookup
    * fold and trims to k per query with the bounded-heap
    * [[graft.functions.TopKAgg]] (shuffle carries k·|queries| rows).
    * Output `(q_id, rank, n_id, ad2)`, ad2 ascending. */
  def adcSearch(spark: SparkSession, queries: DataFrame, codes: DataFrame,
                codebooks: DataFrame, m: Int, subDim: Int, k: Int): DataFrame = {
    require(k > 0, s"adcSearch needs k > 0, got $k")
    requireCodebookShape(codebooks, m, subDim)
    val dtab = distanceTables(queries, codebooks, m, subDim)
    val scored = codes.crossJoin(broadcast(dtab))
      .withColumn("ad2", adcDistance(col("codes"), col("dtab")))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(k, -col("ad2"), col("id")).as("topk"))
      .select(col("q_id"), posexplode(col("topk.items")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("n_id"),
        (round(-col("col.score"), 4) + 0.0).as("ad2"))
  }
}
