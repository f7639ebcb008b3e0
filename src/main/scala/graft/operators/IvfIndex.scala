package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions
import graft.sources.StoreFs.withStoreLease

/** IVF (inverted-file) approximate nearest-neighbor index: partition
  * the corpus into k coarse cells by cosine-nearest centroid; a query
  * probes only its `nProbe` nearest cells instead of the full corpus.
  *
  * The centroid fit is a deterministic, fully distributed Lloyd's
  * k-means expressed in DataFrame ops (no MLlib dependency, no RNG):
  * seeds are the first k vectors by id, assignment is a broadcast-join
  * + argmax-cosine, and the centroid update is one grouped vector-mean
  * aggregation ([[graft.functions.VectorMeanAgg]] unordered,
  * [[orderedMeanByGroup]] bit-reproducible) — never a pair shuffle.
  *
  * Scale shape: centroids are dimension-sized (k × dim) and always
  * broadcast; the corpus is scanned once per fit iteration and once at
  * index time; search cost is |cell|·nProbe per query. Compared to the
  * random-hyperplane LSH path ([[Similarity.annLshPairs]]), IVF adapts
  * to the data distribution at the price of the fit pass.
  */
object IvfIndex {

  /** Deterministic k-means centroids over `(id, v: array<double>)`.
    * Returns `(cluster, centroid: array<double>)`.
    *
    * `orderedMean = false` (the scale default) updates centroids with
    * a plain partial-aggregated `avg` — fastest, but its floating-point
    * summation order follows partitioning, so low-order centroid bits
    * vary across engines/plans. `orderedMean = true` sums each
    * (cluster, dim) group as a strict sequential fold in id order,
    * making the fit bit-reproducible anywhere (the correctness-gate
    * path; costs a collect_list per group). */
  def fitCentroids(spark: SparkSession, corpus: DataFrame, k: Int,
                   iterations: Int = 3, orderedMean: Boolean = false): DataFrame = {
    require(k > 0, s"IvfIndex.fitCentroids needs k > 0 cells, got $k")
    require(iterations >= 0, s"negative Lloyd iterations: $iterations")
    GraftFunctions.register(spark)
    // deterministic seeds: the first k vectors in id order
    var centroids = corpus.orderBy(col("id")).limit(k)
      .select(row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("id")))
        .minus(1).as("cluster"), col("v").as("centroid"))
    (1 to iterations).foreach { _ =>
      val assigned = assign(corpus, centroids)
      centroids =
        if (orderedMean)
          orderedMeanByGroup(assigned, Seq("cluster"), "v", "centroid")
        else assigned
          // unordered mean WITHOUT the n·dim posexplode (r20): one
          // dim-sized partial-agg buffer per group instead of exploding
          // every vector into per-dimension rows and aggregating twice
          // (guide §2.3 — shuffle fewer bytes). Same avg semantics
          // (per-dim counts), same unordered-float caveat.
          .groupBy(col("cluster"))
          .agg(graft.functions.VectorMeanAgg(col("v")).as("m"))
          .select(col("cluster"), col("m.mean").as("centroid"))
    }
    centroids
  }

  /** The ORDERED centroid mean in one grouped pass (r19, guide §2.3
    * "shuffle fewer bytes"): collect each group's `(id, vector)` rows,
    * sort by id, and fold each dimension sequentially. Replaces the
    * former posexplode → groupBy(group, dim) collect_list →
    * groupBy(group) rebuild, which shuffled n·dim struct ROWS and
    * aggregated twice — this shuffles n vector rows and aggregates
    * once. Arithmetic is IDENTICAL: per dimension the same addends in
    * the same id order, divided by the same member count, so the fit
    * is bit-reproducible against the old form (oracle-gated). The
    * per-group buffer is |group|·dim doubles — cell-sized by the
    * corpus-scaled-k contract, never corpus-sized. Null AND empty
    * vectors are filtered exactly as the exploded form dropped them (a
    * null or empty array explodes to no rows; without the size filter
    * an empty lowest-id vector would poison its group's dimension
    * sequence). The bit-equivalence claim is scoped to FIXED-DIMENSION
    * input — a group whose members disagree on length has no
    * well-defined per-dimension mean in either form (the exploded form
    * averaged ragged dims over present values; this form would null
    * them), and no caller feeds one (the embedding tables are
    * fixed-dim by construction). */
  private[operators] def orderedMeanByGroup(df: DataFrame, keys: Seq[String],
                                            vCol: String, outCol: String,
                                            maxGroupSize: Option[Long] = None
                                           ): DataFrame = {
    val grouped = df.filter(col(vCol).isNotNull && size(col(vCol)) > 0)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("id"), col(vCol).as("v"))))
        .as("ms"))
    // SKEW GUARD (r20): the collect_list buffer is |group|·dim doubles,
    // cell-sized ONLY under the corpus-scaled-k contract — a skewed
    // group arriving BEFORE splitOversizedCells has run lands the whole
    // group in one task. When the caller knows the contract bound, the
    // guard fails fast (per-group check on the k aggregated rows, zero
    // plan change when unset) instead of silently buffering it.
    val guarded = maxGroupSize match {
      case None => grouped
      case Some(bound) => grouped.filter(assert_true(
          size(col("ms")) <= lit(bound),
          concat(lit(s"orderedMeanByGroup: group exceeds maxGroupSize=$bound" +
            " (run splitOversizedCells first): size="),
            size(col("ms")).cast("string"))).isNull)
    }
    guarded.select(keys.map(col) :+
      expr("transform(sequence(0, size(ms[0].v) - 1), " +
        "d -> aggregate(ms, CAST(0 AS DOUBLE), (acc, m) -> acc + m.v[d])" +
        " / size(ms))").as(outCol): _*)
  }

  /** Assign every corpus vector to its argmax-cosine centroid.
    * Centroids are broadcast; ties break toward the lower cluster id
    * (the `-cluster` component of the max_by ordering key).
    *
    * Shape: after the broadcast cross join every vector's k scored
    * rows are partition-local, so the max_by aggregation collapses
    * them map-side — the shuffle moves one row per vector, not k. A
    * window over `id` here would shuffle and sort all n·k rows. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .withColumn("sim", Similarity.cosine(col("v"), col("centroid")))
    scored.groupBy(col("id"))
      .agg(max_by(struct(col("cluster"), col("v")),
        struct(col("sim"), (-col("cluster")).as("tb"))).as("best"))
      .select(col("id"), col("best.v").as("v"), col("best.cluster").as("cluster"))
  }

  /** Lease fence for the FLAT store's write points: this store's verbs
    * overwrite/append parquet directly — there is no [[graft.sources
    * .StoreFs.writeFileAtomic]] commit whose built-in fence would
    * catch a usurped (TTL-broken, re-acquired by a rival) lease. So
    * each verb re-checks its lease IMMEDIATELY before every
    * destructive write: a usurped stalled writer refuses at the write
    * instead of interleaving overwrite/append output with the
    * usurper's, shrinking the unprotected window from the whole verb
    * duration to the instant between check and write — the same
    * guarantee the generational stores get at their commit point. */
  private def fence(): Unit = graft.sources.StoreFs.assertLeasesStillHeld()

  /** Persist a fitted index to parquet: centroids under
    * `dir/centroids`, the assigned corpus under `dir/index`
    * PARTITIONED BY cluster. An index you rebuild per session is not
    * an index at 100 TB — fit and assignment are the expensive passes,
    * and both round-trip exactly (parquet doubles are binary-exact, so
    * search-after-reload ≡ in-memory search bit-for-bit; spec-pinned).
    * Cluster-partitioning is the layout that makes the probe pattern
    * cheap: a search touches nProbe cells per query, and with the
    * corpus laid out one directory per cell the broadcast probe join
    * prunes to those directories (dynamic partition pruning) instead
    * of scanning the full corpus. */
  def save(centroids: DataFrame, indexed: DataFrame, dir: String): Unit =
      withStoreLease(dir) {
    fence()
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // co-locate each cell before the partitioned write: without it every
    // shuffle task writes a sliver into every cluster directory —
    // tasks × cells files (measured 36× slower store IO at the ×100
    // probe); with it the store is ONE file per cell, the layout the
    // probe pattern wants
    fence()
    indexed.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/index")
  }

  /** GLOBAL REFIT of a flat store — the probe-selection restoration
    * verb the decade probes demanded ([[PqIndex.refitTwoTier]]'s story
    * on the flat family): [[splitOversizedCells]] keeps CELLS bounded,
    * but every sub-centroid is fitted on ONE cell's vectors, so the
    * global centroid ranking a probe relies on decays with the split
    * chain. Measured at the sf10 decade probe: after 308 recursive
    * splits the staleness tuner held its 1.0 self-retrieval floor
    * only at nProbe 128 of 316 cells — a 128k-candidate budget on a
    * 200k corpus, graceful degeneration toward brute force — while
    * the SAME corpus under a fresh global k=160 fit needed nProbe 16
    * (16k budget), leaked nothing, and ran 2.2× faster end-to-end.
    * Refit cost is one Lloyd pass + full reassign + rewrite — linear,
    * amortized over the append/split chain that caused the decay;
    * production picks `k ≈ corpus / targetCellSize`.
    *
    * Runs under the writer lease; `refit(store, k) ≡ save(fit(all
    * vectors, k), assign(...))` EXACTLY (orderedMean Lloyd is
    * ingestion-order-independent — the q39 determinism, gated by
    * q218 against the direct-build oracle). When a tuning table
    * exists the persisted nProbe is staleness-refreshed afterwards:
    * the refit moves the optimal width DOWN, and a stale wide width
    * would silently keep paying the pre-refit budget. Returns the
    * new cell count. */
  def refitIndex(spark: SparkSession, dir: String, k: Int,
                 iterations: Int = 1, orderedMean: Boolean = true): Long =
      withStoreLease(dir) {
    val (_, indexed) = load(spark, dir)
    // materialize BEFORE the overwrite below rewrites the files being
    // read
    val corpus = indexed.select(col("id"), col("v")).localCheckpoint()
    val cent = fitCentroids(spark, corpus, k, iterations, orderedMean)
      .localCheckpoint()
    save(cent, assign(corpus, cent), dir)
    spark.catalog.refreshByPath(s"$dir/index")
    spark.catalog.refreshByPath(s"$dir/centroids")
    val (fs, tp) = graft.sources.StoreFs.of(s"$dir/tuning")
    if (fs.exists(tp)) refreshNProbeTuning(spark, dir): Unit
    cent.count()
  }

  /** Reload a [[save]]d index: `(centroids, indexed)`. The partition
    * column comes back from directory names; everything else is the
    * written schema. Repairs an interrupted
    * [[splitOversizedCells]] centroid swap first, so a crash in the
    * rename window still yields a loadable index
    * ([[recoverCentroidSwap]]). */
  def load(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    recoverCentroidSwap(spark, dir)
    (spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/index"))
  }

  /** The centroid swap's scratch names ([[recoverCentroidSwap]]);
    * either one left in the store dir is an interrupted swap. */
  private[graft] val (centroidsTmp, centroidsOld) =
    graft.sources.StoreFs.swapSiblings("centroids")

  /** Crash recovery for the [[splitOversizedCells]] centroid swap. The
    * swap sequence is: write `centroids__tmp` (complete) → rename live
    * → `__old` → rename `__tmp` → live → delete `__old`. The only state
    * where the live table is missing is mid-swap, and there `__tmp` is
    * COMPLETE by construction — so roll the commit FORWARD (rename tmp
    * to live); if tmp is somehow gone too, roll BACK from `__old`.
    * With live present this is a no-op (a leftover tmp/old from a crash
    * before the swap is inert — the next split overwrites/deletes it).
    * Idempotent; called from [[load]]. */
  private[graft] def recoverCentroidSwap(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = live.getFileSystem(conf)
    if (!fs.exists(live)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/$centroidsTmp")
      val old = new org.apache.hadoop.fs.Path(s"$dir/$centroidsOld")
      if (fs.exists(tmp)) { fs.rename(tmp, live); fs.delete(old, true): Unit }
      else if (fs.exists(old)) fs.rename(old, live): Unit
    }
  }

  /** INCREMENTAL index maintenance: append a `delta` of `(id, v)` rows
    * to a [[save]]d index WITHOUT refitting — assign the delta to the
    * EXISTING centroids and append into the cluster-partitioned layout
    * (new files land inside the touched cell directories; untouched
    * cells are not rewritten). Work scales with the delta — the q107
    * incremental-dedup shape applied to ANN; a weekly embedding batch
    * costs one delta assignment, not a corpus refit.
    *
    * Semantics: search-after-append is EXACTLY search over
    * assign(base ∪ delta, base centroids) — the oracle-gated
    * equivalence. What appending does NOT do is move centroids: recall
    * degrades only as far as the data distribution drifts from the
    * fitted one (standard IVF practice — monitor cell sizes and refit
    * or [[splitOversizedCells]] when skew appears). Returns the
    * assigned delta.
    *
    * Concurrency contract: maintenance ops (this and
    * [[splitOversizedCells]]) require EXCLUSIVE access to the index
    * directory — a reader racing the append can see a cell's files
    * mid-write (parquet append is per-file atomic, not per-directory).
    * Run maintenance from the single writer that owns the index, the
    * same contract as any non-transactional parquet layout. */
  def appendToIndex(spark: SparkSession, delta: DataFrame, dir: String): DataFrame =
      withStoreLease(dir) {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val assigned = assign(delta, centroids)
    Failpoints.hit("ivfappend:before-write")
    fence()
    assigned.repartition(col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/index")
    assigned
  }

  /** Split every cell larger than `maxCellSize` into two sub-cells —
    * the local repair for append-induced skew (a hot cell makes every
    * probe of it expensive; splitting restores bounded probe cost
    * without a global refit). Per oversized cell: fit 2 sub-centroids
    * on THAT CELL's vectors only (same deterministic Lloyd — same
    * seeds, same ordered mean, same tie-breaks), reassign the cell,
    * keep the lower sub-cell under the old cluster id and give the
    * upper one a fresh id, rewrite just the split cells' partitions
    * (dynamic partition overwrite) and the centroid table. The
    * sub-fits for ALL oversized cells run as ONE grouped distributed
    * Lloyd (seeds/assign/update keyed by cell), not a per-cell driver
    * loop — with corpus-scaled k a skewed append can make hundreds of
    * cells oversized at once, and a loop of per-cell jobs would cost
    * O(#oversized) job rounds where the grouped fit costs
    * O(iterations). Per-cell results are bit-identical to the looped
    * form (the grouping key just rides along every step).
    * Returns the number of cells split.
    *
    * Concurrency contract: requires EXCLUSIVE access to the index
    * directory (see [[appendToIndex]]). The index and centroid writes
    * are two separate commits; within that contract the failure window
    * is narrowed by swapping the centroid table via temp-write + rename
    * (the write job runs against a scratch path; the live `centroids`
    * directory is replaced by two metadata-only renames at the very
    * end), so a crash mid-write leaves the OLD centroids intact rather
    * than a half-written table. A crash between the index overwrite and
    * the centroid swap leaves fresh sub-cells probe-invisible (no
    * centroid row) — stale recall, not wrong results — and re-running
    * the split repairs it. */
  def splitOversizedCells(spark: SparkSession, dir: String, maxCellSize: Long,
                          iterations: Int = 1,
                          orderedMean: Boolean = true): Int =
    splitOversizedCellsDetailed(spark, dir, maxCellSize, iterations,
      orderedMean).length

  /** [[splitOversizedCells]] returning WHICH cells split — `(oldId,
    * freshId)` per performed split — so a dependent per-cell structure
    * (the NSW graph tier, [[NswIndex.splitOversizedNswCells]]) can
    * rebuild exactly the affected cells instead of diffing the whole
    * index. Same semantics, same commit sequence. */
  def splitOversizedCellsDetailed(spark: SparkSession, dir: String,
                                  maxCellSize: Long, iterations: Int = 1,
                                  orderedMean: Boolean = true): Seq[(Long, Long)] =
      withStoreLease(dir) {
    require(maxCellSize > 1, s"maxCellSize must be > 1, got $maxCellSize")
    val (cent0, indexed) = load(spark, dir)
    val oversized = indexed.groupBy(col("cluster")).count()
      .filter(col("count") > maxCellSize)
      .select(col("cluster").cast("long")).collect().map(_.getLong(0)).sorted
    if (oversized.isEmpty) return Seq.empty
    val oversizedSeq = oversized.toSeq
    // normalize the cluster id to long: partition-column inference and
    // row_number-based fits disagree on int vs long otherwise
    val centroids0 = cent0.withColumn("cluster", col("cluster").cast("long"))
    val nextId = centroids0.agg(max(col("cluster"))).head().getLong(0) + 1
    // Phase 1 — GROUPED sub-fit over every oversized cell at once, and
    // MATERIALIZE every split before touching any file: each step reads
    // the pre-split layout (localCheckpoint is eager), so no job ever
    // reads a partition this same call already rewrote. Phase 2 is then
    // ONE dynamic-partition overwrite covering exactly the split cells.
    val slice = indexed
      .filter(col("cluster").cast("long").isInCollection(oversizedSeq))
      .select(col("cluster").cast("long").as("cell"), col("id"), col("v"))
      .localCheckpoint()
    // seeds: the first 2 vectors by id WITHIN each cell — exactly
    // fitCentroids' seed rule applied per group
    var sub = slice
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("cell")).orderBy(col("id"))))
      .filter(col("rn") <= 2)
      .select(col("cell"), (col("rn") - 1).as("sub"), col("v").as("centroid"))
      .localCheckpoint()
    def assignGrouped(cs: DataFrame): DataFrame =
      slice.join(broadcast(cs), Seq("cell"))
        .withColumn("sim", Similarity.cosine(col("v"), col("centroid")))
        .groupBy(col("cell"), col("id"))
        .agg(max_by(struct(col("sub"), col("v")),
          struct(col("sim"), (-col("sub")).as("tb"))).as("best"))
        .select(col("cell"), col("id"), col("best.v").as("v"),
          col("best.sub").as("sub"))
    (1 to iterations).foreach { _ =>
      val assigned = assignGrouped(sub)
      sub = (if (orderedMean)
          orderedMeanByGroup(assigned, Seq("cell", "sub"), "v", "centroid")
        else assigned
          // the fitCentroids unordered-mean form: no posexplode (r20)
          .groupBy(col("cell"), col("sub"))
          .agg(graft.functions.VectorMeanAgg(col("v")).as("m"))
          .select(col("cell"), col("sub"), col("m.mean").as("centroid")))
        .localCheckpoint()
    }
    val assigned = assignGrouped(sub).localCheckpoint()
    // A split must actually produce BOTH sub-cells: if every vector
    // landed on one side (degenerate geometry, duplicate-heavy cells,
    // or Lloyd emptying a cluster), writing it would either leave the
    // old `cluster=c` files stale on disk (dynamic overwrite only
    // touches partitions present in the output) or be a no-op dressed
    // up as progress. Skip such cells and don't count them.
    val goodSet = assigned.groupBy(col("cell"))
      .agg(countDistinct(col("sub")).as("ns"))
      .filter(col("ns") === 2)
      .select(col("cell")).collect().map(_.getLong(0)).toSet
    val good = oversizedSeq.filter(goodSet) // keeps the sorted order
    if (good.isEmpty) return Seq.empty
    // fresh ids in sorted-oversized order over the performed splits —
    // the numbering the looped form produced
    val pairsSeq = good.zipWithIndex.map { case (c, i) => (c, nextId + i) }
    val remapDf = {
      import spark.implicits._
      pairsSeq.toDF("cell", "fresh")
    }
    val remap = when(col("sub") === 0, col("cell")).otherwise(col("fresh"))
    val remapped = assigned.filter(col("cell").isInCollection(good))
      .join(broadcast(remapDf), Seq("cell"))
      .select(col("id"), col("v"), remap.as("cluster"))
      .localCheckpoint()
    val newCents = sub.filter(col("cell").isInCollection(good))
      .join(broadcast(remapDf), Seq("cell"))
      .select(remap.as("cluster"), col("centroid"))
      .localCheckpoint()
    val centroids = centroids0
      .filter(!col("cluster").isInCollection(good))
      .unionByName(newCents)
      .localCheckpoint() // materialize before the centroid file is replaced
    // one write; dynamic overwrite rewrites ONLY the split partitions
    fence()
    remapped.repartition(col("cluster"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster").parquet(s"$dir/index")
    Failpoints.hit("ivfsplit:after-index-overwrite")
    // commit-marker pattern: build the new centroid table on a scratch
    // path, then swap it in with renames — the slow write job never
    // has the live directory in a half-written state; a crash inside
    // the rename window is repaired by [[recoverCentroidSwap]]
    val tmp = s"$dir/$centroidsTmp"
    centroids.write.mode("overwrite").parquet(tmp)
    Failpoints.hit("ivfsplit:after-centroid-tmp")
    fence() // last check before the live centroid table is replaced
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    val live = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val old = new org.apache.hadoop.fs.Path(s"$dir/$centroidsOld")
    if (fs.exists(old)) fs.delete(old, true)
    fs.rename(live, old)
    Failpoints.hit("ivfsplit:mid-swap")
    fs.rename(new org.apache.hadoop.fs.Path(tmp), live)
    fs.delete(old, true)
    spark.catalog.refreshByPath(s"$dir/index")
    spark.catalog.refreshByPath(s"$dir/centroids")
    pairsSeq
  }

  /** ANN top-k search: each query probes its `nProbe` nearest cells
    * only. Same output shape as [[Similarity.bruteForceTopK]]. */
  /** The `nProbe` argmax-cosine cells per query: `(q_id, qv, cluster)`
    * — centroids broadcast, ties toward the lower cluster id. ONE
    * implementation for every probing consumer ([[search]],
    * [[searchSq8]], [[PqIndex.ivfAdcSearch]]) so the probe ordering
    * cannot drift between them. */
  private[operators] def probeCells(spark: SparkSession, queries: DataFrame,
                                    centroids: DataFrame,
                                    nProbe: Int): DataFrame =
    probeCellsRanked(spark, queries, centroids, nProbe)
      .select(col("q_id"), col("qv"), col("cluster"))

  /** [[probeCells]] keeping the probe rank (`rn` = 1-based
    * closeness order of the cell for that query): a consumer that
    * evaluates SEVERAL probe widths in one pass ([[recallAtK]])
    * filters `rn <= width` per width over ONE materialized candidate
    * set — probing the `width` nearest cells and probing the widest
    * then keeping `rn <= width` are the same set by construction. */
  private[operators] def probeCellsRanked(spark: SparkSession,
                                          queries: DataFrame,
                                          centroids: DataFrame,
                                          nProbe: Int): DataFrame = {
    require(nProbe > 0, s"probeCells needs nProbe > 0 cells, got $nProbe")
    GraftFunctions.register(spark)
    val qScored = queries.crossJoin(broadcast(centroids))
      .withColumn("sim", Similarity.cosine(col("qv"), col("centroid")))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("cluster").asc)
    qScored.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("cluster"), col("rn"))
  }

  def search(spark: SparkSession, queries: DataFrame, indexed: DataFrame,
             centroids: DataFrame, k: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"IvfIndex.search needs k > 0 neighbors, got $k")
    val probes = probeCells(spark, queries, centroids, nProbe)
    // probes is |queries|·nProbe rows (dimension-sized, same contract
    // as the brute-force query side) — broadcast it so the indexed
    // corpus never shuffles for the candidate join
    val cand = indexed.join(broadcast(probes), Seq("cluster"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
    // bounded-heap top-k: each partition trims its candidates to k
    // before the shuffle (a ranking window would move them all)
    cand.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(k, col("cos"), col("id")).as("topk"))
      .select(col("q_id"), posexplode(col("topk.items")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("n_id"), round(col("col.score"), 4).as("cos"))
  }

  /** PREDICATE-AWARE flat-tier search — the production serving shape
    * (`WHERE attribute-predicate ORDER BY cosine LIMIT k`) with the
    * filter applied INSIDE the probed cells BEFORE the trim, so the
    * result is the EXACT top-k of the predicate-matching members of
    * the probed cells: min(k, |matching ∩ probed|) rows, no
    * starvation — post-filtering a plain top-k instead lets
    * non-matching rows occupy the k slots and a selective predicate
    * empties the answer (q192 gates the semantics against the
    * filtered-probe replay). Plan shape: the predicate composes into
    * the cell scan next to the probe's partition pruning (Catalyst
    * pushdown — filtered columns never leave the scan), then the same
    * broadcast-probe join and bounded-heap trim as [[search]]. `pred`
    * ranges over the columns of `indexed` — join attributes onto the
    * index relation (the attributes-beside-vectors cell layout) to
    * filter on them. */
  def searchFiltered(spark: SparkSession, queries: DataFrame,
                     indexed: DataFrame, centroids: DataFrame, k: Int,
                     nProbe: Int, pred: Column): DataFrame =
    search(spark, queries, indexed.filter(pred), centroids, k, nProbe)

  /** Recall@k instrumentation — the accuracy/cost dial every ANN
    * deployment must read before choosing `nProbe`: for each probe
    * width, what fraction of the EXACT top-k
    * ([[Similarity.bruteForceTopKAgg]] ground truth over the same
    * indexed corpus) does the IVF probe recover? Returns one row per
    * probe width: `(n_probe, n_queries, total_hits, avg_recall,
    * min_recall)` — `total_hits` is the exact integer component
    * (Σ |ivf∩truth| over queries), the recalls are its rounded
    * per-query aggregates. Probing every cell is brute force by
    * construction, so recall must reach 1.0 when `nProbe` = cell
    * count, and is non-decreasing in between (more cells probed ⊇
    * fewer — spec-pinned).
    *
    * Cost shape: ground truth is ONE bounded-heap brute pass
    * (k·|queries| rows shuffled, not |corpus|·|queries|); each probe
    * width re-runs only the pruned candidate join. The truth table is
    * query-set-sized — eager-materialized so the per-width joins
    * don't recompute the brute pass. */
  /** Recall-driven `nProbe` AUTO-TUNING — closes the loop [[recallAtK]]
    * only instruments: measure sample recall at each candidate width
    * over a HELD-OUT query sample, choose the CHEAPEST width whose
    * avg recall meets `recallFloor` (fall back to the widest candidate
    * when none does — never silently under-deliver), and persist the
    * whole tuning table WITH the index (`dir/tuning`: one row per
    * width + the chosen flag, floor and k as provenance) so a later
    * session reads the operating point instead of re-measuring
    * ([[loadTunedNProbe]]). The choice reads the ROUNDED avg recall the
    * table stores — the same value the q134 oracle replays, so the
    * argmin is gateable cross-engine. Cost: one [[recallAtK]] pass
    * (sample-sized brute truth + one pruned join per width); the
    * persisted table is |nProbes| rows. Returns the chosen width. */
  def tuneNProbe(spark: SparkSession, dir: String, sampleQueries: DataFrame,
                 k: Int, nProbes: Seq[Int], recallFloor: Double,
                 sharedTruth: Option[DataFrame] = None): Int =
      withStoreLease(dir) {
    require(recallFloor > 0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    val (centroids, indexed) = load(spark, dir)
    val rec = recallAtK(spark, sampleQueries, indexed, centroids, k, nProbes,
        sharedTruth)
      .localCheckpoint() // |nProbes| rows; feeds the choice AND the write
    val byWidth = rec.select(col("n_probe"), col("avg_recall")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val chosen = byWidth.collectFirst { case (np, ar) if ar >= recallFloor => np }
      .getOrElse(byWidth.last._1)
    fence()
    rec.withColumn("chosen", col("n_probe") === lit(chosen))
      .withColumn("recall_floor", lit(recallFloor))
      .withColumn("at_k", lit(k))
      .write.mode("overwrite").parquet(s"$dir/tuning")
    // persist the held-out sample WITH the operating point so the
    // staleness check ([[refreshNProbeTuning]]) can re-measure after
    // lifecycle verbs without the caller re-supplying it
    sampleQueries.select(col("q_id"), col("qv")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tuning_sample")
    chosen
  }

  /** STALENESS REFRESH for the persisted probe width — the
    * [[graft.operators.NswIndex.refreshWalkTuning]] pattern on the
    * flat tier: [[tuneNProbe]]'s width was measured at build time and
    * append/delete drift silently invalidates it. Re-measures recall
    * at the PERSISTED width over the persisted held-out sample (or
    * `sampleQueries`), appends the measurement to the `tuning_check`
    * audit table, and re-tunes over the persisted widths grid only
    * when the rounded avg recall fell below the persisted floor.
    * Returns `(nProbe, refreshed)`. */
  def refreshNProbeTuning(spark: SparkSession, dir: String,
                          sampleQueries: Option[DataFrame] = None
                         ): (Int, Boolean) = withStoreLease(dir) {
    val tuning = spark.read.parquet(s"$dir/tuning")
    val prov = tuning.select(col("recall_floor"), col("at_k")).head()
    val (floor, k) = (prov.getDouble(0), prov.getInt(1))
    val widths = tuning.select(col("n_probe"))
      .collect().map(_.getInt(0)).toSeq.sorted
    val width = loadTunedNProbe(spark, dir)
    // A store tuned before the sample-persisting tuneNProbe has a
    // tuning table but no tuning_sample — fail with the remedy instead
    // of a raw path-not-found AnalysisException.
    if (sampleQueries.isEmpty) {
      val (fs, sp) = graft.sources.StoreFs.of(s"$dir/tuning_sample")
      require(fs.exists(sp),
        s"$dir has a tuning table but no tuning_sample: it was tuned " +
          "before tuneNProbe persisted its held-out sample. Re-run " +
          "tuneNProbe (which now saves the sample) or pass sampleQueries.")
    }
    val queries = sampleQueries
      .getOrElse(spark.read.parquet(s"$dir/tuning_sample"))
      .localCheckpoint()
    val (centroids, indexed) = load(spark, dir)
    // ONE truth pass for the check AND the (possible) re-tune (guide
    // §1.2): the store cannot mutate between them — this verb holds the
    // store lease — so the re-tune's truth is bit-identical to this one
    val truth = truthTopK(spark, queries, indexed, k).localCheckpoint()
    val check = recallAtK(spark, queries, indexed, centroids, k, Seq(width),
        Some(truth))
      .localCheckpoint()
    val avg = check.select(col("avg_recall")).head().getDouble(0)
    val stale = avg < floor
    check.withColumn("recall_floor", lit(floor))
      .withColumn("at_k", lit(k))
      .withColumn("stale", lit(stale))
      .coalesce(1)
      .write.mode("append").parquet(s"$dir/tuning_check")
    if (!stale) (width, false)
    else (tuneNProbe(spark, dir, queries, k, widths, floor, Some(truth)), true)
  }

  /** The persisted operating point of [[tuneNProbe]]: the chosen probe
    * width, read back from the index directory. */
  def loadTunedNProbe(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/tuning")
      .filter(col("chosen")).select(col("n_probe")).head().getInt(0)

  /** [[search]] at the index's persisted operating point — the serving
    * call a deployment makes: load the index and the tuned width, probe
    * accordingly. One metadata-sized read on top of the search itself. */
  def searchTuned(spark: SparkSession, queries: DataFrame, dir: String,
                  k: Int): DataFrame = {
    val (centroids, indexed) = load(spark, dir)
    search(spark, queries, indexed, centroids, k, loadTunedNProbe(spark, dir))
  }

  /** IVF probe over the SQ8-COMPRESSED tier with an exact rerank over
    * the full-precision tier — the FAISS-style IVF+SQ serving shape
    * for a corpus whose embeddings no longer fit the fast tier:
    *
    *  1. probe selection as in [[search]] (nProbe argmax-cosine cells
    *     per query, centroids broadcast);
    *  2. approximate stage: candidates read from `codesIdx`
    *     `(cluster, id, codes)` — the ~8× smaller SQ8 tier
    *     ([[Quantize]]) — scored by cosine against the RECONSTRUCTED
    *     vector, trimmed to `rerank` ids per query by the bounded-heap
    *     [[graft.functions.TopKAgg]] (map-side trim: the shuffle
    *     carries rerank·|queries| rows, not the candidate set);
    *  3. exact stage: only those `rerank·|queries|` survivors are
    *     re-scored against `fullIdx` `(cluster, id, v)` — the cold
    *     full-precision tier. The rerank read is bounded by the SAME
    *     probed cells (the broadcast probe join prunes `fullIdx` to
    *     nProbe cell directories when it is cluster-partitioned
    *     parquet, exactly like the approximate stage), the survivor
    *     join is a broadcast hash filter on (q_id, id), and the final
    *     ranking window shuffles only the bounded survivor set.
    *     Output carries BOTH scores (`acos` approximate, `cos` exact)
    *     so the quantization error is observable per neighbor.
    *
    * Both tiers stay where they are: nothing corpus-sized ever moves.
    * `rerank ≥ k` (the exact stage can only reorder/trim what the
    * approximate stage surfaced). All arithmetic is fixed-order
    * doubles, so the full two-stage pipeline is oracle-replayable. */
  def searchSq8(spark: SparkSession, queries: DataFrame, codesIdx: DataFrame,
                fullIdx: DataFrame, centroids: DataFrame, minMax: DataFrame,
                k: Int, rerank: Int, nProbe: Int): DataFrame = {
    require(k > 0, s"IvfIndex.searchSq8 needs k > 0 neighbors, got $k")
    require(rerank >= k, s"rerank width $rerank must be >= k = $k")
    GraftFunctions.register(spark)
    val probes = probeCells(spark, queries, centroids, nProbe)
    val approx = codesIdx.join(broadcast(probes), Seq("cluster"))
      .crossJoin(broadcast(minMax))
      .withColumn("acos",
        Similarity.cosine(col("qv"),
          Quantize.decodeSq8(col("codes"), col("lo"), col("hi"))))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(rerank, col("acos"), col("id")).as("topk"))
      .select(col("q_id"), explode(col("topk.items")).as("c"))
      .select(col("q_id"), col("c.id").as("id"), col("c.score").as("acos"))
    val fullCand = fullIdx.join(broadcast(probes), Seq("cluster"))
    // survivors are rerank·|queries| rows — already bounded, so a
    // ranking window here shuffles only that bounded set (no TopKAgg
    // needed; its map-side trim buys nothing on pre-trimmed input)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("id").asc)
    fullCand.join(broadcast(approx), Seq("q_id", "id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("id").as("n_id"), round(col("acos"), 4).as("acos"),
        round(col("cos"), 4).as("cos"))
  }

  /** `sharedTruth`, when supplied, is a `(q_id, n_id)` ground-truth
    * table computed by [[truthTopK]] over the SAME (queries, indexed,
    * k) — the r20 lifecycle-sharing hook (guide §1.2): a staleness
    * refresh that measures the operating point and then re-tunes the
    * grid runs ONE brute-force corpus×queries pass instead of two.
    * Callers own the equivalence (the store must not mutate between
    * the passes — the refresh verbs hold the store lease throughout). */
  def recallAtK(spark: SparkSession, queries: DataFrame, indexed: DataFrame,
                centroids: DataFrame, k: Int, nProbes: Seq[Int],
                sharedTruth: Option[DataFrame] = None): DataFrame = {
    require(nProbes.nonEmpty, "recallAtK needs at least one nProbe width")
    val truth = sharedTruth.getOrElse(
      truthTopK(spark, queries, indexed, k).localCheckpoint())
    // ONE candidate pass for every width (guide §1.2 — don't redo
    // passes): probe at the WIDEST width keeping the probe rank, score
    // each candidate once, materialize (q_id, rn, id, cos) with the
    // vectors projected away (§2.3 — the per-width aggregations below
    // need only the score). A width-np search is then TopKAgg over the
    // `rn <= np` slice — the same candidate multiset and the same
    // bounded-heap selection [[search]] runs, so the per-width results
    // are identical to the former one-search-per-width loop (which
    // re-joined and re-scored the corpus once PER width).
    // FOOTPRINT BOUND: the checkpoint below materializes the full
    // widest-width candidate set — |queries| × (nProbes.max probed
    // cells' members) rows of (q_id, rn, id, cos), ~28 bytes each with
    // the vectors projected away. Fine for the documented use (tuning
    // over a dimension-sized held-out sample); a corpus-sized query set
    // with a wide nProbes.max would trade the removed per-width corpus
    // joins for local-disk footprint — sample the queries first.
    val probes = probeCellsRanked(spark, queries, centroids, nProbes.max)
    val cand = indexed.join(broadcast(probes), Seq("cluster"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .select(col("q_id"), col("rn"), col("id"), col("cos"))
      .localCheckpoint()
    nProbes.map { np =>
      val found = cand.filter(col("rn") <= np)
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKAgg(k, col("cos"), col("id")).as("topk"))
        .select(col("q_id"), explode(col("topk.items")).as("c"))
        .select(col("q_id"), col("c.id").as("n_id"))
      recallSummary(queries, found, truth, k, lit(np).cast("int").as("n_probe"))
    }.reduce(_ unionByName _)
  }

  /** The recall block of the index tuners ([[recallAtK]],
    * [[PqIndex.twoTierRecallAtK]], `NswIndex.measureWalkRecall`): the
    * `found` `(q_id, n_id)` rows that `truth` holds, counted per query
    * (a query with no hit counts 0), summarised as one row
    * `(lead…, n_queries, total_hits, avg_recall, min_recall)` with the
    * recalls rounded to 4 — the value the choice rules and the oracles
    * read. */
  private[operators] def recallSummary(queries: DataFrame, found: DataFrame,
                                       truth: DataFrame, k: Int,
                                       lead: Column*): DataFrame = {
    val hits = found.join(truth, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    queries.select(col("q_id")).join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_hit")).as("total_hits"),
        round(avg(col("n_hit").cast("double") / k), 4).as("avg_recall"),
        round(min(col("n_hit").cast("double") / k), 4).as("min_recall"))
      .select(lead ++ Seq(col("n_queries"), col("total_hits"),
        col("avg_recall"), col("min_recall")): _*)
  }

  /** The flat tier's `(q_id, n_id)` brute-force ground truth —
    * [[recallAtK]]'s truth pass factored out so a lifecycle can run it
    * ONCE and share it across a staleness check and a re-tune. */
  private[operators] def truthTopK(spark: SparkSession, queries: DataFrame,
                                   indexed: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopKAgg(spark, queries,
        indexed.select(col("id").as("n_id"), col("v").as("cv")), k)
      .select(col("q_id"), col("n_id"))
}
