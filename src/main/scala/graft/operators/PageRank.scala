package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point PageRank — graph centrality for the curation use cases
  * that rank entities by link structure (host/domain quality à la
  * Common Crawl ranking, supplier/customer importance, author graphs).
  *
  * Arithmetic is EXACT scaled integers, not floats: ranks live as
  * 10⁻⁹-scaled BIGINTs, contributions are integer divisions
  * (`rank div out_degree`), and the damping update is
  * `(100−d)% · 10⁹ + (d · Σcontrib) div 100`. Floating-point PageRank
  * sums contributions in partition order, so low-order bits differ
  * run-to-run and across engines — after three iterations that noise
  * is amplified into rank flips near ties. The fixed-point form is
  * deterministic on any partitioning and replayable in SQL verbatim
  * (the systematic ≤1-unit-per-division truncation is identical
  * everywhere and irrelevant at 10⁻⁹ scale).
  *
  * Scale shape (r19 rework, guide §2.4 "remove shuffles outright" /
  * §1.2 "don't compute things twice"): everything loop-invariant is
  * materialized ONCE — the edge list pre-joined with its out-degree
  * (`eDeg`) and the node table carrying an `is_sink` flag. The
  * previous shape re-derived `deg` (an edge-sized aggregation) three
  * times per iteration — once under the contribution join and twice
  * under the sink anti-join — at 8 exchanges/iteration; hoisting
  * leaves one edge-sized contribution shuffle plus node-sized joins
  * (which AQE plans as broadcasts at these node counts). DANGLING
  * nodes (out-degree 0 — real web/host graphs always have sinks)
  * don't leak their mass: the hoisted `is_sink` flag turns the former
  * per-iteration anti-join into a filter over the rank table, the
  * sink ranks fold into a one-row aggregate, and `sinkMass div N`
  * redistributes to every node's incoming mass before damping — the
  * standard dangling-mass correction, kept exact-integer (the `div N`
  * truncates < N·10⁻⁹ of total mass per iteration, the same
  * systematic truncation the per-edge `div outdeg` already accepts).
  * The sink aggregate reaches the update as
  * `crossJoin(broadcast(1-row))` — no driver round-trip, no extra
  * exchange on the node table. Iteration plans are cut with
  * `localCheckpoint` (the [[Components]] loop pattern) so lineage
  * stays bounded. */
object PageRank {

  private val Scale = 1000000000L

  /** `edges(src, dst)` — deduplicated directed edges. Nodes appearing
    * only as `dst` are sinks; their mass redistributes uniformly (see
    * object doc). Returns `(node, rank)`, rank 10⁻⁹-scaled (initial
    * mass `Scale` per node). */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int,
                         dampingPct: Int = 85,
                         edgesDistinct: Boolean = false): DataFrame = {
    require(iterations >= 0, s"negative iterations: $iterations")
    val g = Graph(edges, dampingPct, edgesDistinct)
    var ranks = g.initial
    // the LAST iteration skips its checkpoint: its output feeds exactly
    // one action (the caller's), and its inputs are the materialized
    // previous round — one job saved per call. Earlier rounds still
    // checkpoint: `ranks` feeds both the contribution join and the
    // sink-mass aggregate, so an unmaterialized round would recompute
    // its whole subtree twice per consumer, compounding per level
    // (measured: fully checkpoint-free is NOT faster — see step()).
    (1 to iterations).foreach(i =>
      ranks = g.step(ranks, checkpoint = i < iterations))
    ranks.select(col("node"), col("rank"))
  }

  /** CONVERGENCE-DRIVEN fixed point — the serving mode for graphs
    * whose mixing time is unknown: iterate until the EXACT-INTEGER L1
    * movement `Σ|rankᵢ − rankᵢ₋₁|` falls to `epsPerNode · |nodes|`
    * (per-node tolerance, so the stop iteration is roughly
    * scale-invariant), capped at `maxIterations`. The movement is an
    * integer total of integer ranks — partition-order-proof like the
    * ranks themselves, so the stop decision replays in SQL verbatim
    * (q195's oracle unrolls the cap, computes every movement, and
    * picks the same first-below-ε iteration). The previous rank rides
    * INSIDE the step's node join (`withPrev` — all three frames meet
    * on `node`, so carrying it adds no exchange) and the movement
    * total is one aggregate over the already-checkpointed step output,
    * replacing the former per-iteration join of two checkpoint scans;
    * the scalar is the only driver round-trip. Returns
    * `(ranks, iterationsRun)`. */
  def pageRankConverged(edges: DataFrame, epsPerNode: Long,
                        maxIterations: Int,
                        dampingPct: Int = 85,
                        edgesDistinct: Boolean = false): (DataFrame, Int) = {
    require(maxIterations >= 1, s"need maxIterations >= 1, got $maxIterations")
    require(epsPerNode >= 0, s"negative epsPerNode: $epsPerNode")
    val g = Graph(edges, dampingPct, edgesDistinct)
    val epsTotal = epsPerNode * g.n
    var ranks = g.initial
    var iters = 0
    var moved = Long.MaxValue
    while (moved > epsTotal && iters < maxIterations) {
      val next = g.step(ranks, withPrev = true)
      moved = next.agg(sum(abs(col("rank") - col("prev"))).as("d"))
        .head().getLong(0)
      ranks = next
      iters += 1
    }
    (ranks.select(col("node"), col("rank")), iters)
  }

  /** The shared per-iteration machinery: ONE implementation of the
    * damped, dangling-corrected update for both the fixed-iteration
    * and the convergence-driven faces — their arithmetic cannot
    * drift. */
  private case class Graph(edges: DataFrame, dampingPct: Int,
                           edgesDistinct: Boolean = false) {
    require(dampingPct > 0 && dampingPct < 100, s"bad damping $dampingPct")
    // `edgesDistinct = true` (r20): the caller asserts its edge list is
    // already duplicate-free, so the defensive dedup — a full
    // edge-sized shuffle, the exact "distinct on data that is already
    // unique" accidental exchange of guide §2.4 — is skipped. The
    // catalog's trade-graph callers build edges from a distinct() pair
    // table (directions disjoint by the c/s key prefixes), so they
    // qualify; the forgiving default keeps multigraph inputs deduped.
    private val e0 = edges.select(col("src"), col("dst"))
    private val e = (if (edgesDistinct) e0 else e0.distinct())
      .localCheckpoint()
    private val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // LOOP-INVARIANT, hoisted and materialized once: the edge list
    // pre-joined with its out-degree. The previous shape recomputed
    // `deg` under the contribution join EVERY iteration (and twice
    // more under the sink anti-join below) — an edge-sized aggregation
    // per recompute.
    private val eDeg = e.join(deg, Seq("src")).localCheckpoint()
    // node table with the sink flag precomputed ONCE — the former
    // per-iteration `ranks ANTI JOIN srcNodes` existed only to find
    // out-degree-0 nodes, which are loop-invariant.
    private val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .join(deg.select(col("src").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .select(col("node"), col("has_out").isNull.as("is_sink"))
      .localCheckpoint()
    // node count: one scalar, fixed across iterations (nodes is
    // checkpointed, so this is a cheap count over materialized rows)
    val n: Long = nodes.count()
    private val teleport = (100L - dampingPct) * Scale / 100L
    def initial: DataFrame =
      nodes.select(col("node"), col("is_sink"), lit(Scale).as("rank"))
    /** One damped update. Input `(node, is_sink, rank)` (the shape
      * [[initial]] and this method emit); output the same, plus the
      * incoming rank as `prev` when `withPrev` is set.
      *
      * `checkpoint = false` (r20) skips the materialization — used by
      * the fixed-iteration face for its LAST round only, whose output
      * feeds exactly one action. Skipping it for EVERY round was tried
      * and measured NOT faster: `ranks` feeds both the contribution
      * join and the sink-mass aggregate, so each unmaterialized round
      * recomputes its subtree twice per consumer, compounding per
      * level — the doubled recomputation eats the saved job. */
    def step(ranks: DataFrame, withPrev: Boolean = false,
             checkpoint: Boolean = true): DataFrame = {
      val contrib = eDeg
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      // total rank sitting on out-degree-0 nodes this iteration (0 when
      // the graph has no sinks — the correction is then the identity):
      // a filter over the rank table, not a join (is_sink is hoisted)
      val sinkMass = ranks.filter(col("is_sink"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("sink_mass"))
      val withContrib = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
      val joined = // the prev-rank ride-along: only when the caller folds
        if (withPrev) // a movement total, and exchange-free (meets on node)
          withContrib.join(
            ranks.select(col("node"), col("rank").as("prev")), Seq("node"))
        else withContrib
      val next = joined
        .crossJoin(broadcast(sinkMass))
        .select(Seq(col("node"), col("is_sink"),
          (lit(teleport) +
            expr(s"($dampingPct * (coalesce(in_mass, 0L) + sink_mass div $n)) div 100"))
            .as("rank")) ++
          (if (withPrev) Seq(col("prev")) else Seq.empty): _*)
      if (checkpoint) next.localCheckpoint() else next
    }
  }
}
