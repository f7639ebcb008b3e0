package graft.tools

import org.apache.spark.sql.functions._
import graft._
import graft.operators._

/** Dev-only micro-profiler: times individual pipeline stages so operator
  * costs are attributable (the bench times whole queries only). */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    import spark.implicits._

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), concat($"text", lit(" zz qq")).as("text")))

    time("corpus count")(corpus.count())
    time("normalize+tokens") {
      corpus.select(graft.functions.TextAnalysis.wsTokens($"text").as("w")).count()
    }
    time("shingles explode") {
      TextDedup.shingleTable(corpus, "doc_id", "text", 5).count()
    }
    val sh = TextDedup.shingleTable(corpus, "doc_id", "text", 5)
    time("shingle self-join agg") {
      val a = sh.select($"id".as("a_id"), $"n_shingles".as("na"), $"s")
      val b = sh.select($"id".as("b_id"), $"n_shingles".as("nb"), $"s")
      a.join(b, Seq("s")).filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("i")).count()
    }
    time("jaccard full")(TextDedup.jaccardPairs(sh, 0.3).count())
    time("minhash signature")(TextDedup.minHashSignature(sh, 8).count())
    time("lsh candidates") {
      TextDedup.lshCandidatePairs(TextDedup.minHashSignature(sh, 8), 8, 2).count()
    }
    time("minhash lsh full")(TextDedup.minHashLshPairs(sh, 8, 2, 0.3).count())
    spark.stop()
  }
}

/** Dev-only NSW graph-tier scale probe with CORPUS-SCALED k — the
  * honest ×10/×100 shape: the gates pin k=8 for oracle replay, but the
  * documented 100 TB story holds cell size ~constant by scaling the
  * cell count with the corpus (and splitting when appends skew it), so
  * the probe fits k ≈ n/250 cells and times each lifecycle stage —
  * fit, assign, graph build, store save, 10% append, search, and a
  * forced worst-case split round (cap = avg/2 ⇒ every cell splits).
  *
  * Usage: `runMain graft.tools.ProbeNsw <dir> [k]` over
  * `/root/testdata/sf0.1`, `target/sf1.0`, `target/sf10`. */
object ProbeNsw {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    import spark.implicits._

    // process-CPU seconds beside wall: this host has heavy external CPU
    // interference (the r19 lesson) — wall alone cannot A/B two
    // implementations of the same stage
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      val r = f
      println(f"[nsw] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"  (cpu ${(osBean.getProcessCpuTime - c0) / 1e9}%.1f s)")
      r
    }

    val e = QueriesSimilarity.corpus(spark, dir).localCheckpoint()
    val n = e.count()
    val k = if (args.length > 1) args(1).toInt
            else math.max(8L, n / 250).toInt
    println(s"[nsw] corpus=$n k=$k (~${n / k}/cell) dir=$dir")
    val base = e.filter($"id" % 10 < 9)
    val delta = e.filter($"id" % 10 === 9)
    val cent = time(s"fit centroids k=$k") {
      IvfIndex.fitCentroids(spark, base, k, iterations = 1).localCheckpoint()
    }
    val idxBase = time("assign base (90%)") {
      val i = IvfIndex.assign(base, cent).localCheckpoint(); i.count(); i
    }
    val graph = time("fit graph d=4") {
      val g = NswIndex.fitGraph(idxBase, degree = 4).localCheckpoint()
      g.count(); g
    }
    // the stores are deleted when the probe ends, also when it fails
    graft.Scratch.withTempDir("probe_nsw") { d =>
      val flat = s"$d/flat"
      val nsw = s"$d/nsw"
      time("save flat + nsw stores") {
        IvfIndex.save(cent, idxBase, flat)
        NswIndex.saveNsw(graph, NswIndex.entryPoints(idxBase, cent), nsw)
      }
      time("append 10% delta (exact)") {
        val idxDelta = IvfIndex.assign(delta, cent).localCheckpoint()
        NswIndex.appendToNsw(spark, nsw, idxBase, idxDelta, cent, degree = 4)
        idxDelta.write.mode("append").partitionBy("cluster").parquet(s"$flat/index")
      }
      time("search 100 queries") {
        val (g2, en2) = NswIndex.loadNsw(spark, nsw)
        val (c2, i2) = IvfIndex.load(spark, flat)
        val qs = e.filter($"id" < 100).select($"id".as("q_id"), $"v".as("qv"))
        NswIndex.search(spark, qs, g2, i2.select($"id", $"v", $"cluster"),
          c2, en2, k = 10, nProbe = 2, ef = 16, rounds = 2).count()
      }
      val cap = math.max(2L, (n / k) / 2)
      val split = time(s"split round (cap=$cap, worst case)") {
        NswIndex.splitOversizedNswCells(spark, flat, nsw, cap, degree = 4)
      }
      println(s"[nsw] cells split: $split")
    }
    spark.stop()
  }
}
