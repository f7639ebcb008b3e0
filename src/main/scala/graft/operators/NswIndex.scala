package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoreFs.withStoreLease

/** Partitioned NSW ("HNSW-lite") — the graph tier of the ANN ladder
  * (brute → LSH → IVF → IVF+SQ8 → IVF+PQ-ADC → this): within each IVF
  * cell a navigable-small-world neighbor graph is built ONCE (every
  * node links to its `degree` cosine-nearest cell-mates), and a query
  * greedily walks the graphs of its probed cells from a per-cell entry
  * point, expanding a bounded beam instead of scoring whole cells.
  *
  * Why this shape on Spark: the textbook HNSW walk is a sequential
  * per-query loop — hostile to dataflow. Batched over ALL queries it
  * becomes `rounds` rounds of (frontier ⋈ graph → explode neighbors →
  * score → keep top-`ef`), each round a pair of joins keyed on
  * `(cluster, id)` with the per-query beam trimmed by the bounded-heap
  * [[graft.functions.TopKAgg]] — the frontier never exceeds
  * `|queries| · ef` rows, so every round's shuffle is query-bounded,
  * not corpus-bounded. The hierarchy layer of full HNSW is dropped:
  * the IVF coarse quantizer already provides the "zoom-in" (probe
  * selection), which is exactly the cell-partitioned compromise that
  * keeps construction distributed (per-cell graphs build independently
  * — an all-corpus graph would serialize through one machine).
  *
  * Construction cost: Σ|cell|² pairs — bounded by the cell-size cap
  * ([[IvfIndex.splitOversizedCells]] keeps cells sane); the graph is
  * `|corpus| · degree` edges, cluster-partitioned like both ANN tiers.
  * Search cost per query: `nProbe + rounds · ef · degree` scored
  * vectors — independent of cell size, the property the flat IVF probe
  * (|cell|·nProbe) lacks.
  *
  * Determinism: cosine scoring is fixed-order arithmetic, every
  * trim/tie breaks (score desc, id asc) — the whole walk replays in
  * SQL (q184's oracle), and recall ≥ the ADC tier at equal probe
  * budget is pinned by `NswSpec` on the q129 instrumentation. */
object NswIndex {

  /** Per-cell NSW graph over `indexed` `(cluster, id, v)`: one row per
    * node, `nbrs` = its `degree` cosine-nearest neighbors within the
    * cell (score desc, id asc ties — [[graft.functions.TopKAgg]], so
    * the per-cell pair explosion is trimmed map-side) and `nscores`
    * their matching cosines — kept so [[appendToNsw]] can MERGE a
    * stored list with delta candidates exactly (top-k of a union is
    * the trimmed merge of per-part top-ks only when the scores
    * travel with the ids). Cells build independently and in parallel;
    * nothing crosses cells. */
  def fitGraph(indexed: DataFrame, degree: Int): DataFrame = {
    require(degree > 0, s"NswIndex.fitGraph needs degree > 0, got $degree")
    graft.plans.GraftFunctions.register(indexed.sparkSession)
    val a = indexed.select(col("cluster"), col("id").as("a_id"), col("v").as("av"))
    val b = indexed.select(col("cluster"), col("id").as("b_id"), col("v").as("bv"))
    // SYMMETRY HALVING — tried and REVERTED for this path (r20): cosine
    // is bit-exactly symmetric, so scoring each unordered pair once
    // (a_id < b_id) and mirroring via [[mirrorPairs]] is bit-identical
    // with half the kernel evals — but the JOIN still produces all
    // |cell|² rows (the filter discards after production), so only the
    // cosine halves while the Generate adds per-row allocation; at the
    // fixtures' dim=64 the measured net is ~8% MORE process CPU
    // (ProbeNsw 20k rows / 8 cells of ~2500, 3 runs each: cpu ~27.7 s
    // plain vs ~30.0 s mirrored; stack() mirror worse still). The
    // halving stays where it removes a whole join PASS, not just
    // kernel evals — [[appendToNsw]].
    a.join(b, Seq("cluster"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", Similarity.cosine(col("av"), col("bv")))
      .groupBy(col("cluster"), col("a_id"))
      .agg(graft.functions.TopKAgg(degree, col("cos"), col("b_id")).as("topk"))
      .select(col("cluster"), col("a_id").as("id"),
        expr("transform(topk.items, x -> x.id)").as("nbrs"),
        expr("transform(topk.items, x -> x.score)").as("nscores"))
  }

  /** Both orientations of once-scored pairs: `(cluster, a_id, b_id,
    * cos)` rows from each input row's `(a_id, b_id, cos)` AND
    * `(b_id, a_id, cos)` — one Generate, the cosine computed once per
    * unordered pair upstream and carried, never re-evaluated. */
  private def mirrorPairs(scored: DataFrame): DataFrame =
    scored
      .select(col("cluster"), col("cos"),
        explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("cluster"), col("e.src").as("a_id"),
        col("e.dst").as("b_id"), col("cos"))

  /** One entry point per cell: the node most cosine-similar to its
    * centroid (ties toward the lower id), with its score (`escore`) so
    * [[appendToNsw]] can merge entry points without rescanning the
    * base corpus. Metadata-sized (k rows). */
  def entryPoints(indexed: DataFrame, centroids: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(indexed.sparkSession)
    indexed.join(broadcast(centroids), Seq("cluster"))
      .withColumn("cos", Similarity.cosine(col("v"), col("centroid")))
      .groupBy(col("cluster"))
      .agg(max_by(struct(col("id").as("entry"), col("cos").as("escore")),
        struct(col("cos"), (-col("id")).as("tb"))).as("e"))
      .select(col("cluster"), col("e.entry").as("entry"),
        col("e.escore").as("escore"))
  }

  /** INCREMENTAL graph maintenance: fold `indexedDelta` (already
    * assigned to the SAME centroids the base was) into a [[saveNsw]]d
    * store WITHOUT refitting — and EXACTLY: for an existing node, its
    * true top-`degree` over base ∪ delta is the trimmed merge of its
    * stored exact top-`degree` over the base (scores travel in
    * `nscores`) with its scored delta cell-mates; for a new node the
    * list is computed directly against all cell-mates. So
    * `append(store(base), delta) ≡ fitGraph(base ∪ delta)` bit-for-bit
    * (q186 gates it on the full-corpus oracle), the q146 invariant
    * applied to the graph tier. Pair work is DELTA-bounded —
    * |delta|·|cell| per touched cell instead of |cell|² — and the
    * entry merge is cells-sized (stored `escore` vs the delta's
    * argmax; no base rescan). The refreshed graph commits as a new
    * generation (old-node rows change, so in-place file append — the
    * flat tiers' trick — would be wrong here). */
  /** [[appendToNsw]] + the staleness loop: after the generation
    * commits, re-check the persisted operating point against the
    * appended corpus and re-tune if its recall fell below the floor
    * ([[refreshWalkTuning]]). `flatDir` names the flat tier the tuning
    * measures against; a store with no tuning table appends without a
    * check. */
  def appendToNswRefreshing(spark: SparkSession, flatDir: String, dir: String,
                            indexedBase: DataFrame, indexedDelta: DataFrame,
                            centroids: DataFrame, degree: Int,
                            retainGenerations: Int = 1): Unit =
      withStoreLease(dir) {
    appendToNsw(spark, dir, indexedBase, indexedDelta, centroids, degree,
      retainGenerations)
    val (fs, p) = graft.sources.StoreFs.of(s"$dir/tuning")
    if (fs.exists(p)) refreshWalkTuning(spark, flatDir, dir): Unit
  }

  def appendToNsw(spark: SparkSession, dir: String, indexedBase: DataFrame,
                  indexedDelta: DataFrame, centroids: DataFrame, degree: Int,
                  retainGenerations: Int = 1): Unit = withStoreLease(dir) {
    require(degree > 0, s"appendToNsw needs degree > 0, got $degree")
    graft.plans.GraftFunctions.register(spark)
    val (graph, entries) = loadNsw(spark, dir)
    val deltaB = indexedDelta.select(col("cluster"), col("id").as("b_id"),
      col("v").as("bv"))
    // SYMMETRY HALVING (r20, the [[fitGraph]] trick): the old shape
    // scored every delta×base pair TWICE — once under the new nodes'
    // delta×all join and once mirrored under the existing nodes'
    // base×delta join. Score each unordered pair ONCE (delta×base
    // appears once because base and delta ids are disjoint — the append
    // contract; delta×delta by a_id < b_id) and emit both orientations
    // from the scored row: the same row multiset reaches the trim,
    // bit-identical (q186's rebuild oracle), half the kernel evals.
    val deltaA = indexedDelta
      .select(col("cluster"), col("id").as("a_id"), col("v").as("av"))
    val crossScored = deltaA
      .join(indexedBase.select(col("cluster"), col("id").as("b_id"),
        col("v").as("bv")), Seq("cluster"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", Similarity.cosine(col("av"), col("bv")))
    val deltaScored = deltaA
      .join(deltaB, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", Similarity.cosine(col("av"), col("bv")))
    val pairRows = mirrorPairs(crossScored).unionByName(mirrorPairs(deltaScored))
    // existing nodes: stored exact lists (score-carrying) + scored
    // delta candidates, re-trimmed; ids are disjoint so the union is
    // duplicate-free and the trim reproduces the rebuild exactly
    val storedRows = graph
      .select(col("cluster"), col("id").as("a_id"),
        explode(arrays_zip(col("nbrs"), col("nscores"))).as("z"))
      .select(col("cluster"), col("a_id"),
        col("z.nbrs").as("b_id"), col("z.nscores").as("cos"))
    val merged = storedRows.unionByName(pairRows)
      .groupBy(col("cluster"), col("a_id"))
      .agg(graft.functions.TopKAgg(degree, col("cos"), col("b_id")).as("topk"))
      .select(col("cluster"), col("a_id").as("id"),
        expr("transform(topk.items, x -> x.id)").as("nbrs"),
        expr("transform(topk.items, x -> x.score)").as("nscores"))
    val mergedEntries = entries
      .unionByName(entryPoints(indexedDelta, centroids))
      .groupBy(col("cluster"))
      .agg(max_by(struct(col("entry"), col("escore")),
        struct(col("escore"), (-col("entry")).as("tb"))).as("e"))
      .select(col("cluster"), col("e.entry").as("entry"),
        col("e.escore").as("escore"))
    saveNsw(merged, mergedEntries, dir, retainGenerations)
  }

  /** Cell-size-cap MAINTENANCE for a flat-index + NSW-store pair — the
    * composition that keeps the graph tier's Σ|cell|² construction
    * bounded at any corpus size: run
    * [[IvfIndex.splitOversizedCellsDetailed]] on the flat store (every
    * cell over `maxCellSize` splits into two sub-cells, sub-centroids
    * fitted on that cell only), then rebuild the NSW rows of EXACTLY
    * the affected cells — each old id and its fresh sub-cell id — from
    * the post-split assignment ([[fitGraph]]/[[entryPoints]] on the
    * affected slice), keep every untouched cell's stored rows
    * verbatim, and commit the merged graph + entries as a new store
    * generation. Untouched-cell membership is unchanged by a split, so
    * the result is EXACTLY `fitGraph(post-split index)` ∪-wide — the
    * q188 gate replays that equivalence end-to-end against the
    * direct-build oracle.
    *
    * Scale: split work is oversized-cells-only (each sub-fit reads one
    * cell, partition-pruned); graph rebuild work is Σ|affected cell|²
    * with |affected cell| ≤ ~maxCellSize/2 post-split — the whole call
    * is maintenance-sized, never corpus-sized. One split round per
    * call ([[IvfIndex.splitOversizedCells]] semantics); callers loop
    * while the return is > 0 to drive every cell under the cap.
    * Returns the number of cells split. Same exclusive-access contract
    * as every flat-index maintenance op. */
  def splitOversizedNswCells(spark: SparkSession, flatDir: String,
                             nswDir: String, maxCellSize: Long, degree: Int,
                             iterations: Int = 1, orderedMean: Boolean = true,
                             retainGenerations: Int = 1): Int =
      withStoreLease(nswDir) {
    // resume any interrupted maintenance before starting new work: a
    // prior crash between the flat rewrite and the NSW commit would
    // otherwise be invisible here (the flat store is already updated,
    // so oversized/affected recomputes as empty) — silent recall loss
    repairNsw(spark, flatDir, nswDir, degree, retainGenerations): Unit
    // PENDING-MAINTENANCE MARKER, written before the flat store is
    // touched: the oversized cells that are about to split. If the
    // split itself crashes mid-rewrite, [[repairNsw]] rebuilds these
    // cells plus any flat-present-but-graph-absent fresh cells.
    val (_, indexed0) = IvfIndex.load(spark, flatDir)
    val oversized = indexed0.groupBy(col("cluster")).count()
      .filter(col("count") > maxCellSize)
      .select(col("cluster").cast("long")).collect().map(_.getLong(0)).sorted
    if (oversized.isEmpty) return 0
    writePendingCells(nswDir, oversized.toSeq)
    Failpoints.hit("nswmaint:after-pending")
    val pairs = IvfIndex.splitOversizedCellsDetailed(spark, flatDir,
      maxCellSize, iterations, orderedMean)
    if (pairs.isEmpty) { clearPendingCells(nswDir); return 0 }
    val affected = pairs.flatMap { case (oldId, freshId) => Seq(oldId, freshId) }
    // widen the marker to the realized affected set (old ∪ fresh ids)
    // now that the fresh ids exist
    writePendingCells(nswDir, affected)
    Failpoints.hit("nswmaint:after-split")
    val (cent, indexed) = IvfIndex.load(spark, flatDir)
    def hit(c: org.apache.spark.sql.Column) =
      c.cast("long").isin(affected: _*)
    val slice = indexed.filter(hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
    val centSlice = cent.filter(hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
    val (graph, entries) = loadNsw(spark, nswDir)
    val mergedGraph = graph.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(fitGraph(slice, degree))
    val mergedEntries = entries.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(entryPoints(slice, centSlice))
    saveNsw(mergedGraph, mergedEntries, nswDir, retainGenerations)
    clearPendingCells(nswDir)
    pairs.length
  }

  /** The pending-maintenance marker: the cells whose NSW rows a
    * maintenance verb ([[deleteFromNsw]], [[splitOversizedNswCells]])
    * is about to invalidate by rewriting their FLAT partitions. Written
    * atomically BEFORE the flat rewrite, cleared after the NSW
    * generation commits — so the marker's presence means exactly "the
    * flat store may be ahead of the graph for these cells". */
  private def pendingPath(nswDir: String): String = s"$nswDir/pending_cells"

  private def writePendingCells(nswDir: String, cells: Seq[Long]): Unit =
    graft.sources.StoreFs.writeFileAtomic(pendingPath(nswDir),
      cells.sorted.mkString(","))

  private def clearPendingCells(nswDir: String): Unit =
    graft.sources.StoreFs.deleteFile(pendingPath(nswDir))

  /** The marked pending cells, if a maintenance crash left any. */
  def readPendingCells(nswDir: String): Option[Seq[Long]] =
    graft.sources.StoreFs.readSmallFile(pendingPath(nswDir))
      .map(_.trim).map(s =>
        if (s.isEmpty) Seq.empty[Long] else s.split(",").map(_.toLong).toSeq)

  /** REPAIR an interrupted NSW maintenance op: if a pending-cells
    * marker exists, the flat store is authoritative and the graph may
    * cite deleted/moved ids in those cells — rebuild the NSW rows of
    * (marker cells ∪ cells present in the flat store but absent from
    * the graph) from the current flat partitions, commit, and clear
    * the marker. The flat∖graph diff covers a crash INSIDE
    * [[IvfIndex.splitOversizedCellsDetailed]], where fresh sub-cells
    * exist on disk before the marker could be widened to name them.
    * Idempotent (rebuild-from-flat is a pure function of the flat
    * state); returns the number of cells rebuilt, 0 when no marker is
    * pending. Called automatically at the top of both maintenance
    * verbs; exposed for explicit ops-side repair. */
  def repairNsw(spark: SparkSession, flatDir: String, nswDir: String,
                degree: Int, retainGenerations: Int = 1): Int =
      withStoreLease(nswDir) {
    val marked = readPendingCells(nswDir).getOrElse(return 0)
    // None when the manifest is missing/corrupt: the ledger step below
    // then SKIPS phantom revocation rather than defaulting the
    // pre-repair head to 0 — with headBefore=0 every intent reads as
    // "beyond the head", so a COMPLETED delete of an id that was later
    // re-added would be revoked, resurrecting it on historic reads
    // (the exact direction the ledger design forbids). Skipping errs
    // conservative: a genuinely-crashed delete keeps its intent and
    // history hides a requested deletion, the family's safe side.
    val headBefore: Option[Long] =
      graft.sources.StoreFs.readManifest(s"$nswDir/manifest")
    val (cent, idxRaw) = IvfIndex.load(spark, flatDir)
    val indexed = idxRaw.select(col("id"), col("v"),
      col("cluster").cast("long").as("cluster"))
    val (graph, entries) = loadNsw(spark, nswDir)
    // flat-present-but-graph-absent cells: the set DIFFERENCE stays in
    // Spark (left_anti of two one-column cell frames) — only the
    // (typically empty) diff itself is collected, not both cell sets
    val missingCells = indexed.select(col("cluster")).distinct()
      .join(graph.select(col("cluster").cast("long").as("cluster")).distinct(),
        Seq("cluster"), "left_anti")
      .collect().map(_.getLong(0))
    val affected = (marked.toSet ++ missingCells).toSeq.sorted
    if (affected.isEmpty) { clearPendingCells(nswDir); return 0 }
    def hit(c: org.apache.spark.sql.Column) =
      c.cast("long").isInCollection(affected)
    val slice = indexed.filter(hit(col("cluster"))).localCheckpoint()
    val centSlice = cent.filter(hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
    val mergedGraph = graph.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(fitGraph(slice, degree))
    val mergedEntries = entries.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(entryPoints(slice, centSlice))
    saveNsw(mergedGraph, mergedEntries, nswDir, retainGenerations)
    clearPendingCells(nswDir)
    // LEDGER RECONCILIATION (see [[ledgerPath]]): an intent citing a
    // generation beyond the pre-repair head whose id SURVIVES in the
    // flat store just committed is a delete that never physically
    // happened (the crash landed before the flat rewrite) — revoke it
    // so historic reads agree with the head again. Ids ABSENT from
    // the flat store keep their intent: this repair just completed
    // their physical removal. Append-only (a torn append merely stays
    // conservative); delta-sized (crashed-delete ids only).
    for (head <- headBefore; led <- effectiveLedger(spark, nswDir)) {
      val phantom = led.filter(col("deleted_at_gen") > lit(head))
        .join(indexed.select(col("id")), Seq("id"), "left_semi")
        .select(col("id"), col("deleted_at_gen")).distinct()
      if (!phantom.isEmpty)
        phantom.coalesce(1).write.mode("append").parquet(droppedPath(nswDir))
    }
    affected.length
  }

  /** DELETE documents from a flat-index + NSW-store pair — the third
    * lifecycle verb (build / append / REMOVE). Unlike the flat tiers,
    * NSW rows carry CROSS-ROW state: a surviving node's neighbor list
    * may cite a deleted id, and the replacement neighbor is beyond the
    * stored top-`degree` — so lazy tombstoning at read time cannot
    * reproduce a rebuild. Instead the delete is an eager CELL-LOCAL
    * rebuild: deleted ids only ever appear in their own cells'
    * lists (nothing crosses cells), so the affected cells' flat
    * partitions are rewritten without the ids (dynamic partition
    * overwrite; a fully-emptied cell's directory is dropped), those
    * cells' graph rows and entry points are recomputed from the
    * filtered slice, every untouched cell keeps its stored rows
    * verbatim, and the merged graph commits as a new generation.
    * `delete(store, ids) ≡ build(corpus ∖ ids, same centroids)`
    * EXACTLY (q191 gates it on the direct-build oracle). Work is
    * Σ|affected cell|² for the rebuild + |affected| partition
    * rewrites — delta-bounded, never corpus-sized. Same
    * exclusive-access contract as every flat-index maintenance op.
    * Returns the number of cells rebuilt. */
  /** The NSW DELETION LEDGER — the graph tier's answer to the
    * tombstones-apply-to-history contract (q212/q213): unlike the
    * dedup and two-tier families, [[deleteFromNsw]] is an EAGER
    * rebuild (the head generation physically drops the ids), so the
    * head never needs a tombstone — but with `retainGenerations ≥ 2`
    * a retained PRE-delete generation still carries the deleted ids'
    * graph rows, neighbor citations and entry points, and a
    * [[loadNswAt]] historic read must not resurrect them. The ledger
    * records `(id, deleted_at_gen)` where `deleted_at_gen` is the
    * generation the delete's rebuild committed; a historic read at
    * generation `g` scrubs exactly the entries with
    * `deleted_at_gen > g` (the generations that still contained the
    * id). GENERATION-SCOPED, so — unlike the sibling families'
    * store-wide tombstones — RE-appending a previously deleted id
    * needs no compaction caveat: post-re-append generations are
    * ≥ `deleted_at_gen` and never scrubbed.
    *
    * Crash ordering: the ledger is appended BEFORE the irreversible
    * flat rewrite, citing the generation the delete is ABOUT to
    * commit. A crash mid-delete therefore errs in the conservative
    * direction — historic reads hide the ids whose deletion was
    * requested but never completed (deletion INTENT is recorded) —
    * never in the resurrection direction. The conservatism lasts
    * until [[repairNsw]] adjudicates the crash: an intent citing an
    * uncommitted generation whose id SURVIVES at the repaired head is
    * a delete that never physically happened (the crash landed before
    * the flat rewrite), and repair REVOKES it — appending the entry to
    * the [[droppedPath]] revocation table, never rewriting the ledger
    * in place (an interrupted in-place rewrite could lose genuine
    * older entries = resurrection; a torn revocation append merely
    * stays conservative) — so `loadNswAt(Some(head))` and `loadNsw`
    * agree again. A crash AFTER the flat rewrite is completed by
    * repair instead (the id is gone at the head, the intent stands).
    * The caller re-running the delete records a fresh intent either
    * way. [[vacuumNsw]] releases ledger + revocations once no
    * readable generation predates any un-revoked delete; a lingering
    * ledger is semantically inert (it only ever scrubs generations
    * older than the delete). */
  private def ledgerPath(nswDir: String): String = s"$nswDir/tombstones"

  /** The revocation table beside the ledger: `(id, deleted_at_gen)`
    * pairs [[repairNsw]] verified were never-completed deletes (see
    * [[ledgerPath]]); historic reads subtract them from the scrub
    * set. Append-only for the same crash-direction reason as the
    * ledger itself. */
  private val droppedName = "tombstones_dropped"

  private def droppedPath(nswDir: String): String = s"$nswDir/$droppedName"

  /** The committed revocation rows ([[droppedPath]]). */
  private[graft] def revocations(spark: SparkSession,
                                 nswDir: String): Option[DataFrame] =
    graft.sources.StoreFs.committedParquet(spark, droppedPath(nswDir))

  /** The deletion ledger MINUS revoked entries — the effective scrub
    * set every historic-read/vacuum/audit consumer shares. Both tables
    * are read through the torn-append guard
    * ([[graft.sources.StoreFs.committedParquet]]): a ledger dir holding
    * only `_temporary` debris (a crash inside the [[deleteFromNsw]]
    * append before any part file committed) reads as absent, which is
    * the truthful state — no deletion intent committed, and the flat
    * rewrite that FOLLOWS the append never ran either. Keeps
    * [[vacuumNsw]] (invoked by every saveNsw commit), [[loadNswAt]]
    * historic reads and the StoreDoctor audit degrading instead of
    * wedging. */
  private[graft] def effectiveLedger(spark: SparkSession,
                                     nswDir: String): Option[DataFrame] =
    graft.sources.StoreFs.committedParquet(spark, ledgerPath(nswDir)).map { led =>
      revocations(spark, nswDir) match {
        case None => led
        case Some(dropped) =>
          led.join(dropped, Seq("id", "deleted_at_gen"), "left_anti")
      }
    }

  def deleteFromNsw(spark: SparkSession, flatDir: String, nswDir: String,
                    ids: DataFrame, degree: Int,
                    retainGenerations: Int = 1): Int = withStoreLease(nswDir) {
    // resume any interrupted maintenance first — a crash between the
    // flat rewrite and the NSW commit makes this call's `affected`
    // recompute as empty (the ids are already gone from the flat
    // store), so without the replay the graph would keep citing
    // deleted ids forever
    repairNsw(spark, flatDir, nswDir, degree, retainGenerations): Unit
    val (cent, indexed) = IvfIndex.load(spark, flatDir)
    val del = ids.select(col("id").cast("long").as("_del_id")).localCheckpoint()
    val idxN = indexed.select(col("id"), col("v"),
      col("cluster").cast("long").as("cluster"))
    val affected = idxN
      .join(del, col("id") === col("_del_id"), "left_semi")
      .select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (affected.isEmpty) return 0
    // materialize the survivors BEFORE their partitions are overwritten
    val remaining = idxN.filter(col("cluster").isInCollection(affected))
      .join(del, col("id") === col("_del_id"), "left_anti")
      .localCheckpoint()
    // PENDING-MAINTENANCE MARKER before the flat rewrite: its presence
    // means "the flat store may be ahead of the graph for these cells"
    // and [[repairNsw]] replays the rebuild from the flat state
    writePendingCells(nswDir, affected)
    // DELETION LEDGER entry before the irreversible flat rewrite (see
    // [[ledgerPath]]): the delete's rebuild will commit head+1, and
    // every generation ≤ head still contains these ids
    val headGen = graft.sources.StoreFs.readManifest(s"$nswDir/manifest")
      .getOrElse(0L)
    del.select(col("_del_id").as("id"))
      .withColumn("deleted_at_gen", lit(headGen + 1L))
      .coalesce(1).write.mode("append").parquet(ledgerPath(nswDir))
    Failpoints.hit("nswmaint:after-pending")
    remaining.repartition(col("cluster"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster").parquet(s"$flatDir/index")
    // dynamic overwrite only touches partitions PRESENT in the output:
    // a cell emptied by the delete must be dropped explicitly
    val nonEmpty = remaining.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSet
    affected.filterNot(nonEmpty).foreach { c =>
      graft.sources.StoreFs.deleteChild(s"$flatDir/index", s"cluster=$c")
    }
    spark.catalog.refreshByPath(s"$flatDir/index")
    Failpoints.hit("nswmaint:after-flat-rewrite")
    val (graph, entries) = loadNsw(spark, nswDir)
    def hit(c: org.apache.spark.sql.Column) =
      c.cast("long").isInCollection(affected)
    val centSlice = cent.filter(hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
    val mergedGraph = graph.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(fitGraph(remaining, degree))
    val mergedEntries = entries.filter(!hit(col("cluster")))
      .withColumn("cluster", col("cluster").cast("long"))
      .unionByName(entryPoints(remaining, centSlice))
    saveNsw(mergedGraph, mergedEntries, nswDir, retainGenerations)
    clearPendingCells(nswDir)
    affected.length
  }

  /** Persist a fitted NSW tier beside the flat index: the graph
    * cluster-partitioned (a probe reads only its cells' adjacency,
    * like both ANN data tiers) and the entry points metadata-sized —
    * GENERATIONAL behind the shared one-long manifest
    * ([[graft.sources.StoreFs]], the [[PqIndex.saveTwoTier]] commit
    * pattern), so a crashed refresh leaves readers on the previous
    * complete generation and `retainGenerations` keeps history for
    * pinned readers until [[vacuumNsw]] reclaims it. */
  def saveNsw(graph: DataFrame, entries: DataFrame, dir: String,
              retainGenerations: Int = 1): Unit = withStoreLease(dir) {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    graft.sources.StoreFs.commitGenerationDir(dir) { g =>
      // one file per cell, not one per (task, cell) — see IvfIndex.save
      graph.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/graph")
      Failpoints.hit("nsw:after-graph")
      entries.write.mode("overwrite").parquet(s"$g/entries")
    }
    vacuumNsw(dir, keepLast = retainGenerations)
  }

  /** Reload a [[saveNsw]]d tier (current committed generation):
    * `(graph, entries)`.
    *
    * CONTRACT: serving reads do NOT auto-repair — a store left with a
    * pending-cells marker by a crash BETWEEN maintenance calls serves
    * its committed (possibly stale) cells until [[repairNsw]] or any
    * maintenance verb (which repairs first) runs.
    * [[graft.tools.StoreDoctor]] surfaces the marker as an `error`
    * finding with that remedy. */
  def loadNsw(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    loadNswAt(spark, dir, None)

  /** Generations of an NSW store that are READABLE — valid
    * time-travel targets for [[loadNswAt]]
    * ([[graft.sources.StoreFs.committedGenerationDirs]]). */
  def committedNswGenerations(dir: String): Seq[Long] =
    graft.sources.StoreFs.committedGenerationDirs(dir)

  /** [[loadNsw]] AS OF a retained generation — the time-travel face
    * of the graph tier (the [[PqIndex.loadTwoTierAt]] /
    * [[TextDedup.ingestFlagsBucketed]] `atGeneration` contract):
    * replay an old batch's walk, attribute recall across a
    * maintenance event, audit what an earlier index served. Only
    * generations in [[committedNswGenerations]] qualify; anything
    * else REFUSES naming the readable list.
    *
    * Deletions apply to EVERY generation including historic reads —
    * the [[ledgerPath]] deletion ledger scrubs, from any generation
    * older than a recorded delete (`deleted_at_gen > g`), the
    * deleted ids' node rows, every neighbor-list citation of them
    * (order-preserving filter of the stored `(nbrs, nscores)` pairs;
    * lists are NOT backfilled — the replacement neighbor lies beyond
    * the stored top-degree, which is exactly why the HEAD uses the
    * eager rebuild), and any entry point that was a deleted id (that
    * cell seeds nothing historically). So historic walks may be
    * recall-degraded NEAR deletions — by design: history is an audit
    * surface, not an escape hatch for deleted content; the head
    * generation is always an exact rebuild. Head reads
    * (`atGeneration = None`) skip the ledger entirely — their plans
    * are byte-identical to the pre-ledger ones. Scrub cost is one
    * explode/re-aggregate over the affected generation's graph, paid
    * only on historic reads of a store with an applicable ledger. */
  def loadNswAt(spark: SparkSession, dir: String,
                atGeneration: Option[Long]): (DataFrame, DataFrame) = {
    val root = graft.sources.StoreFs.generationRoot(dir, atGeneration, "NSW store")
    val graph0 = spark.read.parquet(s"$root/graph")
    val entries0 = spark.read.parquet(s"$root/entries")
    atGeneration match {
      case None => (graph0, entries0)
      case Some(g) =>
        // effectiveLedger: committed entries minus repair-revoked ones;
        // a torn (never-committed) ledger append reads as absent
        effectiveLedger(spark, dir) match {
          case None => (graph0, entries0)
          case Some(led) =>
          val dead = led
            .filter(col("deleted_at_gen") > g)
            .select(col("id").as("dead_id")).distinct()
          // node rows of deleted ids go entirely
          val liveNodes = graph0
            .join(broadcast(dead), graph0("id") === dead("dead_id"), "left_anti")
          // neighbor-list scrub: explode the stored (nbr, score) pairs
          // with their position, drop citations of dead ids, and
          // rebuild each list in its original order (pos-sorted — the
          // stored score-desc/id-asc order survives the filter)
          val z = liveNodes.select(col("cluster"), col("id"),
              posexplode_outer(arrays_zip(col("nbrs"), col("nscores")))
                .as(Seq("pos", "z")))
            .filter(col("z").isNotNull)
          val rebuilt = z
            .join(broadcast(dead), col("z.nbrs") === col("dead_id"), "left_anti")
            .groupBy(col("cluster"), col("id"))
            .agg(array_sort(collect_list(struct(col("pos"),
              col("z.nbrs").as("nbr"), col("z.nscores").as("nscore")))).as("zs"))
            .select(col("cluster"), col("id"),
              expr("transform(zs, x -> x.nbr)").as("nbrs"),
              expr("transform(zs, x -> x.nscore)").as("nscores"))
          // a node whose every neighbor died keeps an EMPTY list (it
          // is still reachable through others' lists and still scores)
          val scrubbed = liveNodes.select(col("cluster"), col("id"))
            .join(rebuilt, Seq("cluster", "id"), "left")
            .select(col("cluster"), col("id"),
              coalesce(col("nbrs"), array().cast("array<bigint>")).as("nbrs"),
              coalesce(col("nscores"), array().cast("array<double>")).as("nscores"))
          val liveEntries = entries0.join(broadcast(dead),
            entries0("entry") === dead("dead_id"), "left_anti")
          (scrubbed, liveEntries)
        }
    }
  }

  /** Retention for a [[saveNsw]] store — the uniform keep-newest-N
    * policy ([[PqIndex.vacuumTwoTier]] semantics). */
  def vacuumNsw(dir: String, keepLast: Int): Unit = withStoreLease(dir) {
    // After the generation retention, and only when a manifest exists:
    // release the deletion ledger once NO readable generation predates
    // any un-revoked delete (oldest readable ≥ every effective
    // deleted_at_gen): every generation a ledger entry could scrub is
    // gone, so the ledger is inert — the [[PqIndex.compactTwoTier]]
    // release rule in the generation-scoped form. A lingering ledger
    // (no active session to read it, or a crash before this sweep) is
    // harmless: entries only ever apply to generations older than
    // their delete. Torn (never-committed) ledger/revocation appends
    // read as absent and their `_temporary`-only debris is swept here;
    // a revocation table outliving its ledger is inert debris too.
    for (_ <- graft.sources.StoreFs.vacuumGenerationDirs(dir, keepLast);
         spark <- SparkSession.getActiveSession) {
      def tornOnly(path: String): Boolean =
        graft.sources.StoreFs.tornParquetDebris(path)
      def release(): Unit = {
        graft.sources.StoreFs.deleteChild(dir, "tombstones")
        graft.sources.StoreFs.deleteChild(dir, droppedName)
      }
      if (tornOnly(ledgerPath(dir))) release()
      else if (graft.sources.StoreFs.committedParquet(spark, ledgerPath(dir)).isEmpty) {
        // no ledger at all: a revocation table (or its torn debris)
        // without one is unreferenced — sweep it
        if (tornOnly(droppedPath(dir)) || revocations(spark, dir).isDefined)
          graft.sources.StoreFs.deleteChild(dir, droppedName)
      } else effectiveLedger(spark, dir).foreach { led =>
        val readable = committedNswGenerations(dir)
        if (readable.nonEmpty) {
          val maxDel = led.agg(max(col("deleted_at_gen"))).head()
          if (maxDel.isNullAt(0) || readable.min >= maxDel.getLong(0))
            release()
        }
      }
    }
  }

  /** Batched greedy beam search: `queries` `(q_id, qv)` against a
    * [[fitGraph]] graph + the full-precision `indexed` tier.
    * Each query probes its `nProbe` argmax-cosine cells, seeds the
    * beam with their entry points, then `rounds` times expands every
    * beam member's neighbors, scores them exactly, and re-trims to the
    * best `ef` visited nodes per query. Returns the final top-`k`
    * visited: `(q_id, rank, n_id, cos)`.
    *
    * Scale: queries are dimension-sized by the house contract, so the
    * per-round joins broadcast the frontier against the
    * cluster-partitioned graph and vector tables — the corpus never
    * shuffles; `localCheckpoint` cuts each round's lineage (the
    * [[Components]] loop pattern).
    *
    * `seedsPerCell > 1` seeds the beam with the entry point PLUS the
    * `seedsPerCell - 1` LOWEST-ID members of each probed cell — the
    * navigability patch for large cells: a pure top-cosine kNN graph
    * has no long-range links (the structural piece real NSW gets from
    * insertion-order edges), so on a clustered corpus a single-entry
    * beam can be confined to the entry's local cluster no matter how
    * many rounds it runs; ids are assignment-agnostic, so lowest-M
    * ids are a deterministic spread across the cell's clusters, each
    * walked locally from wherever it lands. Deterministic and
    * SQL-replayable (min-M ids per cell); costs `seedsPerCell` extra
    * exact scores per probed cell. Default 1 plans byte-identically
    * to the original walk. */
  def search(spark: SparkSession, queries: DataFrame, graph: DataFrame,
             indexed: DataFrame, centroids: DataFrame, entries: DataFrame,
             k: Int, nProbe: Int, ef: Int, rounds: Int,
             seedsPerCell: Int = 1): DataFrame = {
    require(k > 0 && ef >= k, s"need ef >= k > 0, got k=$k ef=$ef")
    val visited = walkVisited(spark, queries, graph, indexed, centroids,
      entries, nProbe, ef, rounds, seedsPerCell)
    trimTopK(visited, k)
  }

  /** PREDICATE-AWARE graph search — the production serving shape
    * (`WHERE attribute-predicate ORDER BY cosine LIMIT k`): the WALK is
    * unfiltered — beam connectivity must not depend on the predicate,
    * or a selective filter disconnects the traversal exactly when it
    * matters — and the predicate applies to the RESULT trim only (the
    * visited set semi-joined to the rows of `indexed` satisfying
    * `pred`, then top-k), so no non-matching row can ever occupy a
    * result slot. Post-filtering a plain top-k does the opposite:
    * matching rows lose slots to filtered-out ones and a selective
    * predicate starves the answer. The walk is deterministic, so the
    * filtered trim replays in SQL (q193's oracle). Like unfiltered NSW
    * search this is recall-typed: visited∩pred can hold fewer than k
    * rows under a very selective predicate — raise ef/rounds/nProbe,
    * or fall back to the flat tier's [[IvfIndex.searchFiltered]],
    * which guarantees the exact top-k of the filtered probed cells.
    * `pred` ranges over the columns of `indexed` (join attributes onto
    * the index relation — the attributes-beside-vectors cell layout). */
  def searchFiltered(spark: SparkSession, queries: DataFrame, graph: DataFrame,
                     indexed: DataFrame, centroids: DataFrame,
                     entries: DataFrame, k: Int, nProbe: Int, ef: Int,
                     rounds: Int, pred: org.apache.spark.sql.Column,
                     seedsPerCell: Int = 1): DataFrame = {
    require(k > 0 && ef >= k, s"need ef >= k > 0, got k=$k ef=$ef")
    val visited = walkVisited(spark, queries, graph, indexed, centroids,
      entries, nProbe, ef, rounds, seedsPerCell)
    val allowed = indexed.filter(pred).select(col("cluster"), col("id"))
    trimTopK(visited.join(allowed, Seq("cluster", "id"), "left_semi"), k)
  }

  /** Recall-driven (ef, rounds) AUTO-TUNING for the graph tier — the
    * [[IvfIndex.tuneNProbe]] pattern applied to the walk's two serving
    * dials: measure sample recall@k for every candidate `(ef, rounds)`
    * setting over a HELD-OUT query sample (ONE brute-force truth pass,
    * then one query-bounded walk per setting), choose the CHEAPEST
    * setting whose avg recall meets `recallFloor` — cost ordered by
    * `ef · rounds`, the walk's per-query scored-vector budget
    * (`rounds · ef · degree` + probes) with degree fixed — and fall
    * back to the HIGHEST-recall setting when none does (never silently
    * under-deliver). The whole tuning table persists WITH the graph
    * store (`nswDir/tuning`: one row per setting + the chosen flag,
    * floor and k as provenance) so a later session reads the operating
    * point ([[loadTunedWalk]]) instead of re-measuring. The choice
    * reads the ROUNDED avg recall the table stores — the q194 oracle
    * replays every walk, every recall and the choice rule. Returns the
    * chosen `(ef, rounds)`. */
  def tuneWalk(spark: SparkSession, flatDir: String, nswDir: String,
               sampleQueries: DataFrame, k: Int, nProbe: Int,
               settings: Seq[(Int, Int)], recallFloor: Double): (Int, Int) = {
    require(settings.nonEmpty, "tuneWalk needs at least one (ef, rounds)")
    settings.foreach { case (ef, r) =>
      require(ef >= k && r >= 0, s"need ef >= k and rounds >= 0, got ($ef, $r)") }
    // legacy two-dial cost = ef·rounds, the original scored-vector
    // proxy with nProbe, seeds and degree all fixed — kept exactly so
    // existing tuning tables/oracles (q194/q199) are bit-stable
    val costed = settings.map { case (ef, r) =>
      (WalkSetting(nProbe, ef, r, 1), ef.toLong * r) }
    val c = tuneWalkGrid(spark, flatDir, nswDir, sampleQueries, k, costed,
      recallFloor)
    (c.ef, c.rounds)
  }

  /** One serving configuration of the graph walk — all four dials.
    * `seeds` is [[search]]'s `seedsPerCell`. */
  final case class WalkSetting(nProbe: Int, ef: Int, rounds: Int, seeds: Int)

  /** JOINT auto-tune over all four walk dials — [[tuneWalk]] widened
    * so the tuner can DISCOVER the multi-seed operating points that
    * beat single-seed flat probing on clustered corpora (measured at
    * sf1.0: leak 66% → 1.9% at ×5.2 less budget — a configuration the
    * two-dial grid structurally cannot reach because `seedsPerCell`
    * and `nProbe` trade off against each other). Same machinery as
    * [[tuneWalk]] (one shared brute-force truth pass, one walk per
    * setting, cheapest-at-floor choice, persisted table + held-out
    * sample); cost is the walk's TRUE per-query scored-vector budget
    * `nProbe·seeds + rounds·ef·degree` (seed scoring + beam
    * expansion), which needs the build-time `degree` dial. The
    * persisted table carries per-row `n_probe`/`seeds`, so
    * [[refreshWalkTuning]] re-measures and re-chooses over the full
    * joint grid. */
  def tuneWalkJoint(spark: SparkSession, flatDir: String, nswDir: String,
                    sampleQueries: DataFrame, k: Int, degree: Int,
                    settings: Seq[WalkSetting],
                    recallFloor: Double): WalkSetting = {
    require(settings.nonEmpty, "tuneWalkJoint needs at least one setting")
    require(degree >= 1, s"degree must be >= 1, got $degree")
    settings.foreach { s =>
      require(s.ef >= k && s.rounds >= 0 && s.nProbe >= 1 && s.seeds >= 1,
        s"need ef >= k, rounds >= 0, nProbe >= 1, seeds >= 1, got $s") }
    val costed = settings.map { s =>
      (s, s.nProbe.toLong * s.seeds + s.rounds.toLong * s.ef * degree) }
    tuneWalkGrid(spark, flatDir, nswDir, sampleQueries, k, costed, recallFloor)
  }

  /** Shared tuner core for [[tuneWalk]]/[[tuneWalkJoint]]: measure
    * every costed setting, choose, persist table + sample. */
  private def tuneWalkGrid(spark: SparkSession, flatDir: String,
                           nswDir: String, sampleQueries: DataFrame, k: Int,
                           costed: Seq[(WalkSetting, Long)],
                           recallFloor: Double,
                           sharedTruth: Option[DataFrame] = None): WalkSetting =
      withStoreLease(nswDir) {
    require(recallFloor > 0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1], got $recallFloor")
    val queries = sampleQueries.localCheckpoint()
    val rec = measureWalkRecall(spark, flatDir, nswDir, queries, k, costed,
        sharedTruth)
      .localCheckpoint()
    val c = chooseWalkSetting(rec, recallFloor)
    rec.withColumn("chosen",
        col("n_probe") === c.nProbe && col("ef") === c.ef &&
          col("rounds") === c.rounds && col("seeds") === c.seeds)
      .withColumn("recall_floor", lit(recallFloor))
      .withColumn("at_k", lit(k))
      .write.mode("overwrite").parquet(s"$nswDir/tuning")
    // persist the held-out sample WITH the operating point: the
    // staleness check ([[refreshWalkTuning]]) re-measures after
    // lifecycle verbs without the caller having to re-supply it
    queries.select(col("q_id"), col("qv")).coalesce(1)
      .write.mode("overwrite").parquet(s"$nswDir/tuning_sample")
    c
  }

  /** The measurement core shared by [[tuneWalk]] and
    * [[refreshWalkTuning]]: one brute-force truth pass over the
    * held-out `queries`, then one query-bounded walk per `(ef,
    * rounds)` setting, returning one row per setting — `(ef, rounds,
    * cost, n_queries, total_hits, avg_recall, min_recall)` with the
    * recalls ROUNDED (the cross-engine-gateable values the choice rule
    * reads). */
  /** `sharedTruth`, when supplied, is a `(q_id, n_id)` brute-force
    * truth table over the SAME (queries, flat store, k) — the r20
    * lifecycle-sharing hook (guide §1.2, the [[IvfIndex.recallAtK]]
    * contract): [[refreshWalkTuning]]'s stale path measures the point
    * and re-tunes the grid on ONE brute pass, not two (lease held
    * across both, so the store cannot mutate between them). */
  private def measureWalkRecall(spark: SparkSession, flatDir: String,
                                nswDir: String, queries: DataFrame, k: Int,
                                costed: Seq[(WalkSetting, Long)],
                                sharedTruth: Option[DataFrame]
                               ): DataFrame = {
    // the [[search]] precondition, re-checked here because this path is
    // also reached through [[refreshWalkTuning]] reading a PERSISTED
    // tuning table — a corrupt or hand-edited table must fail fast, not
    // silently measure an ef < k walk
    require(k > 0, s"measureWalkRecall needs k > 0, got $k")
    costed.foreach { case (s, _) =>
      require(s.ef >= k, s"need ef >= k ($k), got $s") }
    val (cent, idxRaw) = IvfIndex.load(spark, flatDir)
    val indexed = idxRaw.select(col("id"), col("v"), col("cluster"))
    val (graph, entries) = loadNsw(spark, nswDir)
    val truth = sharedTruth.getOrElse(
      Similarity.bruteForceTopKAgg(spark, queries,
          indexed.select(col("id").as("n_id"), col("v").as("cv")), k)
        .select(col("q_id"), col("n_id")).localCheckpoint())
    // ONE walk per distinct (nProbe, ef, seeds) — settings differing
    // only in `rounds` read that walk's per-round snapshots
    // ([[walkVisitedSnapshots]]: round r's visited set is the state of
    // the shorter walk, bit-identical), instead of re-walking from the
    // seeds once per grid point (guide §1.2).
    val walked: Map[WalkSetting, DataFrame] = costed.map(_._1)
      .groupBy(s => (s.nProbe, s.ef, s.seeds))
      .flatMap { case ((np, ef, seeds), ss) =>
        val snaps = walkVisitedSnapshots(spark, queries, graph, indexed,
          cent, entries, np, ef, ss.map(_.rounds).distinct, seeds)
        ss.map(s => s -> trimTopK(snaps(s.rounds), k))
      }.toMap
    costed.map { case (s, cost) =>
      IvfIndex.recallSummary(queries,
        walked(s).select(col("q_id"), col("n_id")), truth, k,
        lit(s.nProbe).cast("int").as("n_probe"),
        lit(s.ef).cast("int").as("ef"),
        lit(s.rounds).cast("int").as("rounds"),
        lit(s.seeds).cast("int").as("seeds"),
        lit(cost).as("cost"))
    }.reduce(_ unionByName _)
  }

  /** [[tuneWalk]]/[[tuneWalkJoint]]'s choice rule over a measured
    * settings table: the CHEAPEST (cost, nProbe, ef, rounds, seeds)
    * setting whose rounded avg recall meets `recallFloor`;
    * highest-recall fallback when none does. On a legacy two-dial grid
    * (constant nProbe, seeds = 1) this orders identically to the
    * original (cost, ef, rounds) rule. */
  private def chooseWalkSetting(rec: DataFrame,
                                recallFloor: Double): WalkSetting = {
    val rows = rec.select(col("n_probe"), col("ef"), col("rounds"),
        col("seeds"), col("cost"), col("avg_recall")).collect()
      .map(r => (WalkSetting(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3)), r.getLong(4), r.getDouble(5)))
    def order(t: (WalkSetting, Long, Double)) =
      (t._2, t._1.nProbe, t._1.ef, t._1.rounds, t._1.seeds)
    rows.filter(_._3 >= recallFloor).sortBy(order).headOption
      .orElse(rows.sortBy(t => (-t._3, order(t))).headOption)
      .map(_._1).get
  }

  /** STALENESS REFRESH for the persisted walk operating point — the
    * closing of the tune-once loop: [[tuneWalk]]'s `(ef, rounds)` was
    * measured against the corpus at build time, and nothing about
    * [[appendToNsw]]/[[deleteFromNsw]] keeps it valid as the corpus
    * drifts away from the fitted centroids (appended mass concentrates
    * in few cells; a fixed walk budget covers a shrinking fraction of
    * them — recall decays SILENTLY while the store keeps serving).
    * After a lifecycle verb commits, call this: it re-measures recall
    * at the PERSISTED operating point over the persisted held-out
    * sample (or `sampleQueries` when the workload itself drifted),
    * appends the measurement to the `tuning_check` audit table, and —
    * only when the rounded avg recall fell below the persisted floor —
    * re-measures the full persisted settings grid and commits a
    * refreshed tuning table under the same choice rule. Cost: one walk
    * when healthy; one [[tuneWalk]]-equivalent pass when stale.
    * Returns `(ef, rounds, refreshed)`; q199 gates check + refresh
    * against a drifting-delta fixture with the oracle replaying every
    * walk, every recall and both rules. */
  def refreshWalkTuning(spark: SparkSession, flatDir: String, nswDir: String,
                        sampleQueries: Option[DataFrame] = None
                       ): (Int, Int, Boolean) = withStoreLease(nswDir) {
    val tuning = spark.read.parquet(s"$nswDir/tuning")
    val prov = tuning.select(col("recall_floor"), col("at_k")).head()
    val (floor, k) = (prov.getDouble(0), prov.getInt(1))
    // settings + cost read back from the table (a joint grid's costs
    // embed the build-time degree, which refresh need not re-derive);
    // a pre-seeds table reads as seeds = 1
    val hasSeeds = tuning.columns.contains("seeds")
    val costed = tuning.select(col("n_probe"), col("ef"), col("rounds"),
        (if (hasSeeds) col("seeds") else lit(1)).as("seeds"), col("cost"))
      .collect()
      .map(r => (WalkSetting(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3)), r.getLong(4)))
      .toSeq.sortBy(t => (t._1.nProbe, t._1.ef, t._1.rounds, t._1.seeds))
    val point = loadTunedWalkSetting(spark, nswDir)
    val pointCost = costed.find(_._1 == point).map(_._2)
      .getOrElse(point.ef.toLong * point.rounds)
    // A store tuned before the sample-persisting tuneWalk has a tuning
    // table but no tuning_sample — fail with the remedy instead of a
    // raw path-not-found AnalysisException from the parquet read.
    if (sampleQueries.isEmpty) {
      val (fs, sp) = graft.sources.StoreFs.of(s"$nswDir/tuning_sample")
      require(fs.exists(sp),
        s"$nswDir has a tuning table but no tuning_sample: it was tuned " +
          "before tuneWalk persisted its held-out sample. Re-run tuneWalk " +
          "(which now saves the sample) or pass sampleQueries explicitly.")
    }
    val queries = sampleQueries
      .getOrElse(spark.read.parquet(s"$nswDir/tuning_sample"))
      .localCheckpoint()
    // ONE brute-force truth pass for the check AND the (possible)
    // re-tune (guide §1.2): this verb holds the store lease, so the
    // flat store cannot mutate between them — the re-tune's truth is
    // bit-identical to this one
    val (_, idxRaw) = IvfIndex.load(spark, flatDir)
    val truth = Similarity.bruteForceTopKAgg(spark, queries,
        idxRaw.select(col("id").as("n_id"), col("v").as("cv")), k)
      .select(col("q_id"), col("n_id")).localCheckpoint()
    val check = measureWalkRecall(spark, flatDir, nswDir, queries, k,
      Seq((point, pointCost)), Some(truth)).localCheckpoint()
    val avg = check.select(col("avg_recall")).head().getDouble(0)
    val stale = avg < floor
    check.withColumn("recall_floor", lit(floor))
      .withColumn("at_k", lit(k))
      .withColumn("stale", lit(stale))
      .coalesce(1)
      .write.mode("append").parquet(s"$nswDir/tuning_check")
    if (!stale) (point.ef, point.rounds, false)
    else {
      val c = tuneWalkGrid(spark, flatDir, nswDir, queries, k, costed, floor,
        Some(truth))
      (c.ef, c.rounds, true)
    }
  }

  /** The persisted `(ef, rounds)` operating point of [[tuneWalk]],
    * read back from the graph store — the legacy two-dial view of
    * [[loadTunedWalkSetting]]. */
  def loadTunedWalk(spark: SparkSession, nswDir: String): (Int, Int) = {
    val s = loadTunedWalkSetting(spark, nswDir)
    (s.ef, s.rounds)
  }

  /** The persisted FULL operating point — all four dials — of
    * [[tuneWalk]]/[[tuneWalkJoint]]; a pre-seeds tuning table reads
    * as seeds = 1. */
  def loadTunedWalkSetting(spark: SparkSession, nswDir: String): WalkSetting = {
    val t = spark.read.parquet(s"$nswDir/tuning").filter(col("chosen"))
    val hasSeeds = t.columns.contains("seeds")
    val r = t.select(col("n_probe"), col("ef"), col("rounds"),
      (if (hasSeeds) col("seeds") else lit(1)).as("seeds")).head()
    WalkSetting(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** Final per-query trim shared by the search faces: best `k` of the
    * (possibly predicate-restricted) visited set, map-side bounded
    * heap, `(q_id, rank, n_id, cos)`. */
  private def trimTopK(visited: DataFrame, k: Int): DataFrame =
    visited
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg(k, col("cos"), col("id")).as("topk"))
      .select(col("q_id"), posexplode(col("topk.items")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("int").as("rank"),
        col("e.id").as("n_id"), round(col("e.score"), 4).as("cos"))

  private def walkVisited(spark: SparkSession, queries: DataFrame,
                          graph: DataFrame, indexed: DataFrame,
                          centroids: DataFrame, entries: DataFrame,
                          nProbe: Int, ef: Int, rounds: Int,
                          seedsPerCell: Int): DataFrame =
    walkVisitedSnapshots(spark, queries, graph, indexed, centroids, entries,
      nProbe, ef, Seq(rounds), seedsPerCell)(rounds)

  /** [[walkVisited]] returning the visited set AFTER EACH round in
    * `roundsWanted` (0 = the scored seeds) from ONE walk to
    * `roundsWanted.max`. The beam loop's state after round r does not
    * depend on later rounds and every round is already materialized by
    * its `localCheckpoint`, so the snapshots are free — a tuner
    * evaluating several `rounds` values at the same (nProbe, ef,
    * seeds) walks ONCE instead of once per value ([[tuneWalk]]'s
    * measurement core, guide §1.2), and each snapshot is
    * bit-identical to the standalone walk of that length. */
  private def walkVisitedSnapshots(spark: SparkSession, queries: DataFrame,
                                   graph: DataFrame, indexed: DataFrame,
                                   centroids: DataFrame, entries: DataFrame,
                                   nProbe: Int, ef: Int,
                                   roundsWanted: Seq[Int],
                                   seedsPerCell: Int): Map[Int, DataFrame] = {
    require(roundsWanted.nonEmpty, "walkVisitedSnapshots needs >= 1 rounds value")
    require(roundsWanted.forall(_ >= 0), s"negative rounds: $roundsWanted")
    val rounds = roundsWanted.max
    require(seedsPerCell >= 1, s"seedsPerCell must be >= 1, got $seedsPerCell")
    val probes = IvfIndex.probeCells(spark, queries, centroids, nProbe)
    val qv = queries.select(col("q_id"), col("qv"))
    // seed: each probed cell's entry point, scored exactly
    val entrySeeds = probes
      .join(broadcast(entries), Seq("cluster"))
      .select(col("q_id"), col("qv"), col("cluster"), col("entry").as("id"))
    // plus, when asked, a deterministic SPREAD per probed cell (the
    // lowest seedsPerCell - 1 ids — see [[search]]); map-side bounded
    // heap, so the spread costs one linear pass over the index, no
    // corpus shuffle
    val seeds =
      if (seedsPerCell <= 1) entrySeeds
      else {
        val spread = indexed
          .groupBy(col("cluster"))
          .agg(graft.functions.TopKAgg(seedsPerCell - 1,
            -col("id").cast("double"), col("id")).as("topk"))
          .select(col("cluster"), explode(col("topk.items")).as("e"))
          .select(col("cluster"), col("e.id").as("id"))
        entrySeeds.unionByName(
          probes.select(col("q_id"), col("qv"), col("cluster"))
            .join(spread, Seq("cluster")))
      }
    var visited = seeds
      .join(indexed, Seq("cluster", "id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .select(col("q_id"), col("cluster"), col("id"), col("cos"))
    // an entry point can coincide with a spread seed — dedup so a
    // duplicate id can never occupy two top-k slots downstream
    if (seedsPerCell > 1)
      visited = visited.groupBy(col("q_id"), col("cluster"), col("id"))
        .agg(max(col("cos")).as("cos"))
    visited = visited.localCheckpoint()
    val snapshots = scala.collection.mutable.Map.empty[Int, DataFrame]
    snapshots(0) = visited
    var frontier = visited
    (1 to rounds).foreach { r =>
      val expanded = frontier
        .join(graph, Seq("cluster", "id"))
        .select(col("q_id"), col("cluster"), explode(col("nbrs")).as("id"))
        .distinct()
        .join(indexed, Seq("cluster", "id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
        .select(col("q_id"), col("cluster"), col("id"), col("cos"))
      // visited set: union + per-(q, node) dedup (scores are equal by
      // determinism; max is the formal dedup)
      visited = visited.unionByName(expanded)
        .groupBy(col("q_id"), col("cluster"), col("id"))
        .agg(max(col("cos")).as("cos"))
        .localCheckpoint()
      snapshots(r) = visited
      // beam: best ef visited per query (map-side trimmed)
      frontier = visited
        .groupBy(col("q_id"))
        .agg(graft.functions.TopKAgg(ef, col("cos"), col("id")).as("topk"))
        .select(col("q_id"), explode(col("topk.items")).as("e"))
        .select(col("q_id"), col("e.id").as("id"))
        .join(visited.select(col("q_id"), col("cluster"), col("id"), col("cos")),
          Seq("q_id", "id"))
    }
    roundsWanted.map(r => r -> snapshots(r)).toMap
  }
}
