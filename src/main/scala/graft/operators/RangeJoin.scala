package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binned range join — the scale path for point-in-interval joins.
  *
  * A naive `points JOIN intervals ON p >= lo AND p < hi` has no equi
  * key, so Spark plans a broadcast-nested-loop (or worse, a cartesian)
  * — O(|points|·|intervals|) comparisons. Binning restores an equi key:
  * chop the value domain into fixed-width bins, expand each interval to
  * the bins it touches (`sequence(floor(lo/w), floor(hi/w))` — an
  * interval row replicates only ceil(len/w)+1 times), tag each point
  * with its single bin, hash-join on the bin, and re-check the exact
  * predicate. Each (point, interval) pair meets in exactly one bin —
  * the point's — so no dedup pass is needed. Shuffle keys are bins:
  * pick `binWidth` near the median interval length so expansion stays
  * O(|intervals|) while each bin's candidate set stays small.
  */
object RangeJoin {

  /** Join `points` to the intervals of `intervals` containing them:
    * half-open containment `lo <= p < hi`. `binWidth` must be positive.
    * Output: all point columns + all interval columns. */
  def binnedRangeJoin(points: DataFrame, pCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val pBin = floor(col(pCol) / binWidth).cast("long")
    // hi is exclusive, but a point exactly at floor(hi/w)·w may still be
    // below hi when hi is not bin-aligned — expand through hi's bin and
    // let the exact predicate cut the overshoot
    val iBins = sequence(
      floor(col(loCol) / binWidth).cast("long"),
      floor(col(hiCol) / binWidth).cast("long"))
    val binnedIntervals = intervals
      .withColumn("__bin", explode(iBins))
    points.withColumn("__bin", pBin)
      .join(binnedIntervals, Seq("__bin"))
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("__bin")
  }
}
