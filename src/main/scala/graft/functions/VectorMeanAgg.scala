package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Per-group elementwise mean of `array<double>` vectors as a true
  * partial aggregation — the unordered Lloyd centroid update without
  * the `posexplode` (r20, VERDICT item 7).
  *
  * The exploded form shuffled n·dim `(group, dim, x)` rows to average
  * per dimension and then re-grouped to rebuild the array; this
  * Aggregator keeps ONE dim-sized `(sums, counts)` buffer per group,
  * partial-aggregates map-side (merge is elementwise add —
  * associative/commutative, the partial-agg contract), and shuffles a
  * single buffer row per (partition, group). Per-dimension COUNTS, not
  * one group count, reproduce the exploded `avg` semantics exactly on
  * ragged input: each dimension averages over the rows that HAVE it,
  * and null/empty vectors contribute nothing (a null/empty array
  * explodes to no rows). One difference from the exploded form: a
  * group whose vectors are ALL null or empty still yields a row, with
  * a null mean, where the posexplode form produced no row for it at
  * all. No current caller feeds such a group: the ANN fits run on
  * fixed-dim, non-empty embeddings. Like every unordered float sum,
  * low-order bits depend on partitioning — the bit-reproducible path
  * is [[graft.operators.IvfIndex]]'s `orderedMean = true`.
  */
class VectorMeanAgg
    extends Aggregator[VectorMeanAgg.In, VectorMeanAgg.Buf, VectorMeanAgg.Out] {
  import VectorMeanAgg.{Buf, In, Out}

  override def zero: Buf = Buf(Vector.empty, Vector.empty)

  private def add(sums: Seq[Double], counts: Seq[Long],
                  v: Seq[Double]): Buf = {
    val n = math.max(sums.length, v.length)
    val s = new Array[Double](n)
    val c = new Array[Long](n)
    var i = 0
    while (i < n) {
      val prev = if (i < sums.length) sums(i) else 0.0
      val cnt = if (i < counts.length) counts(i) else 0L
      if (i < v.length) { s(i) = prev + v(i); c(i) = cnt + 1L }
      else { s(i) = prev; c(i) = cnt }
      i += 1
    }
    Buf(s.toIndexedSeq, c.toIndexedSeq)
  }

  override def reduce(buf: Buf, a: In): Buf =
    if (a.v == null) buf else add(buf.sums, buf.counts, a.v)

  override def merge(x: Buf, y: Buf): Buf = {
    val n = math.max(x.sums.length, y.sums.length)
    val s = new Array[Double](n)
    val c = new Array[Long](n)
    var i = 0
    while (i < n) {
      s(i) = (if (i < x.sums.length) x.sums(i) else 0.0) +
        (if (i < y.sums.length) y.sums(i) else 0.0)
      c(i) = (if (i < x.counts.length) x.counts(i) else 0L) +
        (if (i < y.counts.length) y.counts(i) else 0L)
      i += 1
    }
    Buf(s.toIndexedSeq, c.toIndexedSeq)
  }

  override def finish(buf: Buf): Out =
    if (buf.sums.isEmpty) Out(null)
    else Out(buf.sums.zip(buf.counts).map { case (s, n) => s / n })

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Out] = Encoders.product[Out]
}

object VectorMeanAgg {
  case class In(v: Seq[Double])
  case class Buf(sums: Seq[Double], counts: Seq[Long])
  case class Out(mean: Seq[Double])

  /** Column form: `{mean: array<double>}` per group — select `.mean`. */
  def apply(v: Column): Column =
    udaf(new VectorMeanAgg, Encoders.product[In]).apply(v)
}
