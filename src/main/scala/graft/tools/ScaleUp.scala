package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-scale data multiplier: builds an sf×N copy of a testdata
  * directory by unioning N key-shifted replicas of each table.
  *
  * Purpose (bench-only, never correctness): constant factors that hide
  * at sf0.1 — a quadratic candidate join, a driver-side collect, a
  * partition count that stops fitting — surface at 10×. Keys are
  * SHIFTED per replica (not duplicated) so join fan-outs and dedup
  * group sizes keep their real-data shape instead of turning into
  * degenerate 10-way duplicates; foreign keys shift by the same
  * constant as their referenced primary keys, so referential joins
  * keep resolving within each replica.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  * [tables]` — `tables` is an optional comma-separated subset (e.g.
  * `documents,embeddings` for a text/ANN-only probe, so a 100× corpus
  * build does not also write 100× of lineitem it will never read).
  */
object ScaleUp {

  /** int64 id columns: shifted by replica × 10⁹ (far above any sf0.1
    * key; stays well inside int64 for any sane copy count). */
  private val bigKeys = Set(
    "l_orderkey", "l_partkey", "l_suppkey",
    "o_orderkey", "o_custkey",
    "c_custkey", "p_partkey", "s_suppkey",
    "doc_id", "vec_id", "event_id", "user_id")

  /** int32 dimension keys: shifted by replica × 100 (nation/region key
    * spaces are tiny; 100 keeps every replica disjoint inside int32). */
  private val smallKeys = Set(
    "n_nationkey", "n_regionkey", "c_nationkey", "s_nationkey", "r_regionkey")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Replica-decorrelated content: replicating text/vectors VERBATIM
    * would make every replica an exact/near duplicate of every other,
    * so near-dup pair outputs (and the work to verify them) grow
    * quadratically in the copy count by construction — measuring
    * degenerate-corpus behavior, not plan scaling. Instead:
    *  - documents: rotate the alphabet per replica (length, token
    *    structure and quality metrics preserved; shingle/minhash/simhash
    *    spaces disjoint across replicas → dedup group sizes keep their
    *    per-replica shape);
    *  - embeddings: flip element signs by a per-replica pseudo-random
    *    pattern (norms preserved; cross-replica cosine ≈ 0 → ANN
    *    neighborhoods stay within-replica). */
  private def decorrelate(df: DataFrame, table: String, i: Int): DataFrame =
    table match {
      case _ if i == 0 => df
      case "documents" =>
        val lower = "abcdefghijklmnopqrstuvwxyz"
        val upper = lower.toUpperCase
        val r = i % 25 + 1 // never the identity rotation
        val rotL = lower.drop(r) + lower.take(r)
        val rotU = upper.drop(r) + upper.take(r)
        df.withColumn("text", translate(col("text"), lower + upper, rotL + rotU))
      case "embeddings" =>
        df.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(pmod(hash(j * 31 + lit(i)), lit(2)) === 0, x).otherwise(-x)))
      case _ => df
    }

  def scaleTable(df: DataFrame, table: String, copies: Int): DataFrame = {
    // CHAINED scaling (src itself a ScaleUp output) folds replicas onto
    // each other: this run's replica r shifts an id already at s×10⁹ to
    // (r+s)×10⁹ — colliding with replica r+s (a ×10-of-×10 build keeps
    // only ~19 of 100 intended id spaces). Refuse it: scale from the
    // BASE directory with more copies instead — the 10⁹ stride holds
    // thousands of replicas inside int64.
    val bigs = df.columns.filter(bigKeys).toSeq
    if (bigs.nonEmpty && copies > 1) {
      val row = df.agg(max(col(bigs.head).cast("long")).as(bigs.head),
        bigs.tail.map(c => max(col(c).cast("long")).as(c)): _*).head()
      bigs.zipWithIndex.foreach { case (c, j) =>
        val m = if (row.isNullAt(j)) 0L else row.getLong(j)
        require(m < 1000000000L,
          s"$table.$c max id $m >= 1e9 — the source looks like ScaleUp " +
            "output, and chained scaling collides the replica stride; " +
            "scale from the base directory with a larger copy count")
      }
    }
    val shifted = (0 until copies).map { i =>
      val keyed = df.columns.foldLeft(df) { (d, c) =>
        if (bigKeys(c)) d.withColumn(c, col(c) + i * 1000000000L)
        else if (smallKeys(c)) d.withColumn(c, (col(c) + lit(i * 100)).cast("int"))
        else d
      }
      decorrelate(keyed, table, i)
    }
    shifted.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val selected =
      if (args.length > 3) {
        val sel = args(3).split(",").map(_.trim).toSeq
        val unknown = sel.filterNot(tables.contains)
        require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
        sel
      } else tables
    // the session reads events' ns-as-INT64 `ts` as a raw long, written
    // back untouched; Tables.repairTs adapts to whichever encoding the
    // scaled copy carries
    val spark = graft.Sessions.local()
    selected.foreach { t =>
      scaleTable(spark.read.parquet(s"$src/$t.parquet"), t, copies)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t done")
    }
    spark.stop()
  }
}
