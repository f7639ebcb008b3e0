package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join reduction — the classic 100 TB join shrinker:
  * build a compact Bloom sketch of the dimension-side join keys, ship it
  * to every fact-side task, and drop fact rows that cannot possibly
  * match BEFORE the shuffle. The exact join that follows removes the
  * sketch's false positives, so the final result is identical to the
  * plain join — the sketch only changes how many rows reach the
  * exchange.
  *
  * Spark's optimizer injects this automatically inside a single query
  * when `spark.sql.optimizer.runtime.bloomFilter.enabled` fires; the
  * explicit operator exists for the cases the rule cannot see — building
  * the filter ONCE and reusing it across many queries/tables of a
  * pipeline (every fact table derived from the same curated dimension),
  * or filtering before a non-join operator (e.g. a pre-shuffle
  * aggregation keyed on the dimension).
  */
object BloomJoin {

  /** Sketch of `dim`'s `keyCol` (long-typed keys). One distributed
    * aggregation; the returned filter is `expectedItems·~10 bits`
    * regardless of dim row count. */
  def keyFilter(dim: DataFrame, keyCol: String,
                expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    dim.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Reduce `fact` to rows whose `factKey` *might* be in `filter`.
    * Guarantees no false negatives: every truly-matching row survives.
    *
    * The probe is Spark's own `BloomFilterMightContain` — the codegen'd
    * predicate its runtime-filter rule injects — surfaced by name via
    * [[graft.plans.GraftFunctions]] (Spark does not register it for SQL
    * callers). The serialized sketch rides the plan as a binary literal,
    * so the filter stays inside WholeStageCodegen instead of breaking
    * the span at a closure udf; each task deserializes the sketch once
    * (the expression caches it lazily). A null key probes as null →
    * filter drops it, matching an inner join's null-key semantics.
    *
    * Trade-off vs a broadcast: the literal rides the task binary and is
    * deserialized per TASK, not per executor — the same shape Spark's
    * own runtime-filter rule produces (its bloom arrives as a scalar-
    * subquery literal). Right for the normal few-MB sketch; for a
    * multi-tens-of-MB sketch (10⁸+ expected items) where per-task
    * deserialization would dominate, use [[reduceBroadcast]]. */
  def reduce(fact: DataFrame, factKey: String, filter: BloomFilter): DataFrame = {
    graft.plans.GraftFunctions.register(fact.sparkSession)
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    fact.filter(call_function("might_contain",
      lit(bos.toByteArray), col(factKey).cast("long")))
  }

  /** [[reduce]] via an executor-broadcast sketch probed by a closure
    * udf: one deserialization per executor instead of per task, at the
    * cost of breaking the codegen span at the filter. The right variant
    * only when the sketch itself is big enough (tens of MB) that
    * per-task deserialization outweighs a codegen break.
    *
    * Why NOT the native `might_contain` here (it IS the probe in
    * [[reduce]], the hot path): `BloomFilterMightContain` requires its
    * sketch operand to be a foldable expression — a binary literal or
    * scalar subquery embedded in the plan — so every task that compiles
    * the predicate deserializes those bytes once. There is no form of
    * the native expression that can probe a `Broadcast` handle, which
    * is the entire point of this variant: for a 10⁸-item sketch the
    * per-executor broadcast amortization beats codegen, and the closure
    * udf is the only way to reach it. Equivalence with [[reduce]] is
    * spec-pinned (`SelectOpsSpec`). */
  def reduceBroadcast(fact: DataFrame, factKey: String, filter: BloomFilter): DataFrame = {
    val bcast = fact.sparkSession.sparkContext.broadcast(filter)
    val might = udf((k: java.lang.Long) => k != null && bcast.value.mightContainLong(k))
    fact.filter(might(col(factKey)))
  }

  /** The composed shape: sketch the dimension keys, pre-filter the fact,
    * then run the EXACT inner join (which removes false positives).
    * Result ≡ `fact ⋈ dim`, with the fact-side shuffle carrying only
    * ~|matching| + fpp·|fact| rows instead of |fact|. */
  def bloomJoin(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
                expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val reduced = reduce(fact, factKey, keyFilter(dim, dimKey, expectedItems, fpp))
    reduced.join(dim, col(factKey) === dim(dimKey))
  }
}
