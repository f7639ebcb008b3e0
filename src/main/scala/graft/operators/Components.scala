package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the transitive
  * closure of a near-duplicate pair graph, turning pairwise matches into
  * dedup CLUSTERS (canonical id = smallest member). The greedy
  * drop-the-greater-id rule ([[Curation.funnel]]) mis-handles chains
  * (A~B, B~C, A≁C); clustering is the production-grade answer.
  *
  * Algorithm: iterated min-label propagation. Every vertex starts
  * labeled with its own id; each round it takes the min of its label and
  * its neighbors' labels; fixpoint = per-component minimum. Rounds
  * needed = graph diameter, and each round is ONE dataflow —
  * `union(edges ⋈ labels, labels) → min-by-id` — i.e. two shuffles
  * (join key, then group key), both partially aggregated map-side. For
  * dedup graphs (tiny, shallow clusters) this converges in a handful of
  * rounds. Convergence is tested with an exact decimal label-sum:
  * labels only ever decrease, so the sum is strictly decreasing until
  * the fixpoint — the driver sees one number per round, never data.
  * For adversarially long path graphs the alternating
  * small-star/large-star contraction halves the diameter per round;
  * [[connectedComponentsContraction]] provides exactly that as the
  * explicit opt-in, while the default trades it away for the cheaper
  * per-round dataflow, with `maxIter` bounding the worst case.
  */
object Components {

  /** Label every vertex of the `(aCol, bCol)` edge list with its
    * component's minimum vertex id. Returns `(id, comp)` — vertices that
    * appear in at least one edge only (isolated ids never enter the edge
    * list; callers left-join and coalesce to `id`). Duplicate edges are
    * tolerated (min-aggregation is idempotent); heavily duplicated edge
    * lists should be `distinct()`-ed by the caller to shrink the join.
    * Fails fast if the propagation has not converged within `maxIter`
    * rounds rather than return a partially-merged clustering. */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // no distinct(): a_id < b_id pair lists are already duplicate-free in
    // both directions, and min-agg absorbs any stray duplicates anyway —
    // dropping the distinct removes a full shuffle + materialization
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the edge cache ONCE before the loop: round 1 otherwise
    // references sym from several plan subtrees at once and the upstream
    // edge computation (for q58, the whole MinHash chain) runs per
    // subtree instead of filling the cache first
    sym.count()
    // initial labels are referenced twice per round (join side + union
    // side): checkpoint once so neither subtree recomputes the distinct
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    // outer None = no previous round yet; inner None = null sum (empty graph)
    var prevSum: Option[Option[java.math.BigDecimal]] = None
    while (!converged && iter < maxIter) {
      // one dataflow per round: neighbor labels ∪ own labels → min per
      // id. The id set is invariant (sym is symmetric, so every vertex
      // occurs as dst; the union keeps the rest), so this is exactly
      // "comp := min(comp, min over neighbors' comp)".
      //
      // localCheckpoint (eager) — NOT just persist: every round's plan
      // embeds the previous round's, so without truncation the logical
      // plan grows per round and analysis time compounds long before any
      // data moves. Checkpointing cuts the plan to the materialized
      // result; on a cluster, reliable `checkpoint()` to HDFS serves the
      // same role with executor-loss tolerance.
      val next = sym
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("comp"))
        .unionByName(labels)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      // exact decimal sum: labels are monotonically non-increasing, so
      // an unchanged sum ⇔ no label changed ⇔ fixpoint (decimal(38,0)
      // cannot overflow or round — a bigint sum could overflow at 10¹⁹)
      // sums carry the fixed declared scale (0), so Option/BigDecimal
      // equality is exact value equality here
      val curSum = Option(
        next.agg(sum(col("comp").cast("decimal(38,0)")).as("s"))
          .head.getDecimal(0))
      converged = prevSum.contains(curSum)
      prevSum = Some(curSum)
      labels.unpersist()
      labels = next
      iter += 1
    }
    sym.unpersist()
    if (!converged)
      sys.error(s"connectedComponents did not converge in $maxIter rounds " +
        "(graph diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Alternating small-star/large-star contraction — the
    * high-diameter-safe alternative to [[connectedComponents]]'s label
    * propagation (public algorithm: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Propagation needs
    * diameter-many rounds; contraction REWIRES the graph each round
    * (large-star hangs every high neighbor off the local minimum,
    * small-star then flattens the low side), roughly halving effective
    * diameter per round, so a 10⁶-long path converges in ~20 rounds
    * instead of 10⁶. Per round it is two grouped mins + two joins —
    * about twice propagation's dataflow — which is why propagation stays
    * the default for shallow dedup graphs and this is the explicit
    * opt-in for adversarial/path-like graphs.
    *
    * Same contract as [[connectedComponents]]: returns `(id, comp)` with
    * comp = component minimum, for every vertex appearing in an edge;
    * property-tested equal to propagation on chains, cliques, stars and
    * random graphs (`ComponentsSpec`).
    *
    * Convergence detection: cheap invariant stats per round (edge count
    * + exact decimal endpoint sums; both non-increasing under
    * contraction) gate an EXACT multiset comparison (`exceptAll`), so a
    * stats collision can cost one extra round but never a wrong answer. */
  def connectedComponentsContraction(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    // not persisted: referenced exactly once, in the final (lazy) join —
    // a cache here could never be read before the caller's action
    val vertices = edges.select(col(aCol).as("id"))
      .unionByName(edges.select(col(bCol).as("id")))
      .distinct()
    // canonical directed form: u = max endpoint, v = min endpoint
    var e = edges
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    def stats(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")), sum(col("v").cast("decimal(38,0)"))).head
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    var curStats = stats(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: for every center c, m = min(c ∪ neighbors); every
      // neighbor n > c re-hangs onto m (n > c ≥ m keeps u > v invariant)
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e.select(col("v").as("c"), col("u").as("n")))
      val lmins = sym.groupBy(col("c"))
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      val ls = sym.join(lmins, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: per max-side node u (all its v are < u), m = min(v);
      // point every v and u itself at m
      val smins = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = ls.join(smins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val nextStats = stats(next)
      // stats equal → candidate fixpoint; confirm exactly (both sides
      // are distinct() lists, so count match + empty except ⇔ equality)
      converged = nextStats == curStats && next.exceptAll(e).isEmpty
      e = next
      curStats = nextStats
      iter += 1
    }
    if (!converged)
      sys.error(s"connectedComponentsContraction did not converge in $maxIter " +
        "rounds; raise maxIter")
    // fixpoint edge list is the star (v → component min); the min itself
    // has no outgoing edge, so coalesce to self on the full vertex set
    vertices
      .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
