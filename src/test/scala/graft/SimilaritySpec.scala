package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => Fn}
import graft.operators.Similarity
import graft.plans.GraftFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  describe("CosineSimilarity expression") {
    it("computes exact cosine for known vectors") {
      GraftFunctions.register(spark)
      val df = Seq(
        (Array(1.0, 0.0), Array(0.0, 1.0), 0.0), // orthogonal
        (Array(1.0, 2.0), Array(2.0, 4.0), 1.0), // parallel
        (Array(1.0, 0.0), Array(-1.0, 0.0), -1.0), // opposite
        (Array(1.0, 1.0), Array(1.0, 0.0), math.sqrt(0.5))
      ).toDF("a", "b", "expected")
      val bad = df.filter(
        abs(Similarity.cosine($"a", $"b") - $"expected") > 1e-12)
      bad.count() shouldBe 0
    }

    it("returns 0.0 for length-mismatched or zero-norm input") {
      GraftFunctions.register(spark)
      val df = Seq(
        (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),
        (Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
      df.select(Similarity.cosine($"a", $"b").as("c"))
        .collect().map(_.getDouble(0)) shouldBe Array(0.0, 0.0)
    }

    it("matches the pure-Catalyst fold bit-for-bit") {
      GraftFunctions.register(spark)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .limit(500)
        .select(Similarity.cosine(col("a.v"), col("b.v")).as("expr"),
          Similarity.cosineFold(col("a.v"), col("b.v")).as("fold"))
      pairs.filter($"expr" =!= $"fold").count() shouldBe 0
    }
  }

  describe("bruteForceTopK") {
    it("ranks nearest neighbors per query deterministically") {
      GraftFunctions.register(spark)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val q = e.filter($"vec_id" < 3)
        .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
      val c = e.filter($"vec_id" >= 3)
        .select($"vec_id".as("n_id"), $"embedding".cast("array<double>").as("cv"))
      val out = Similarity.bruteForceTopK(spark, q, c, 4)
      out.count() shouldBe 12
      out.groupBy($"q_id").agg(count(lit(1)).as("n"))
        .filter($"n" =!= 4).count() shouldBe 0
      // rank 1 has the max cos within each query group
      val r = out.groupBy($"q_id")
        .agg(max($"cos").as("mx"), max(when($"rank" === 1, $"cos")).as("r1"))
      r.filter($"mx" =!= $"r1").count() shouldBe 0
    }
  }

  describe("bruteForceTopKAgg") {
    it("matches the window-based top-k exactly") {
      GraftFunctions.register(spark)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("qv"))
      val c = e.filter($"vec_id" >= 5)
        .select($"vec_id".as("n_id"), $"embedding".cast("array<double>").as("cv"))
      val win = Similarity.bruteForceTopK(spark, q, c, 7)
      val agg = Similarity.bruteForceTopKAgg(spark, q, c, 7)
      rowsOf(agg) shouldBe rowsOf(win)
    }
  }

  describe("IvfIndex") {
    it("fits k centroids of the right shape and finds planted near-dups") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val centroids = graft.operators.IvfIndex.fitCentroids(spark, e, k = 4)
      centroids.count() shouldBe 4
      centroids.filter(Fn.size($"centroid") =!= 64).count() shouldBe 0

      val indexed = graft.operators.IvfIndex.assign(e, centroids)
      indexed.count() shouldBe e.count()
      // queries = scaled copies; their true nearest original is themselves/1.01
      val queries = e.limit(20).select($"id".as("q_id"),
        transform($"v", x => x * lit(1.01)).as("qv"))
      val hits = graft.operators.IvfIndex
        .search(spark, queries, indexed, centroids, k = 1, nProbe = 1)
      // scaling preserves cosine → same cell as the original → recall 1
      hits.filter($"rank" === 1 && $"n_id" === $"q_id").count() shouldBe 20
    }

    it("recallAtK is non-decreasing in nProbe and exactly 1 at full probe width") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cent = graft.operators.IvfIndex
        .fitCentroids(spark, e, k = 8, iterations = 1, orderedMean = true)
        .localCheckpoint()
      val indexed = graft.operators.IvfIndex.assign(e, cent).localCheckpoint()
      val queries = e.filter($"id" < 10).select($"id".as("q_id"), $"v".as("qv"))
      val rows = graft.operators.IvfIndex
        .recallAtK(spark, queries, indexed, cent, k = 10, nProbes = Seq(1, 2, 4, 8))
        .orderBy($"n_probe").collect()
      val recalls = rows.map(r => r.getAs[Double]("avg_recall"))
      recalls.sliding(2).foreach { case Array(a, b) => a should be <= b }
      // probing every cell IS brute force — the truth set itself
      recalls.last shouldBe 1.0
      rows.last.getAs[Long]("total_hits") shouldBe 100L
      // a narrow probe really prunes (otherwise the dial measures nothing)
      rows.head.getAs[Double]("avg_recall") should be < 1.0
    }

    it("refitIndex equals a direct build and refreshes a persisted tuning point") {
      import graft.operators.IvfIndex
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
        .localCheckpoint()
      val base = e.filter($"id" % 10 < 9)
      val cent8 = IvfIndex
        .fitCentroids(spark, base, k = 8, iterations = 1, orderedMean = true)
        .localCheckpoint()
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-refit").toString
      IvfIndex.save(cent8, IvfIndex.assign(base, cent8), dir)
      IvfIndex.appendToIndex(spark, e.filter($"id" % 10 === 9), dir)
      val queries = e.filter($"id" < 10).select($"id".as("q_id"), $"v".as("qv"))
      IvfIndex.tuneNProbe(spark, dir, queries,
        k = 10, nProbes = Seq(1, 2, 4), recallFloor = 0.9): Unit
      // refit to a DIFFERENT k: the store must equal the direct build
      // over its full vector set (orderedMean ⇒ file order cannot leak)
      IvfIndex.refitIndex(spark, dir, k = 4) shouldBe 4L
      val (centR, idxR) = IvfIndex.load(spark, dir)
      val centD = IvfIndex
        .fitCentroids(spark, e, k = 4, iterations = 1, orderedMean = true)
      val want = IvfIndex.assign(e, centD)
        .select($"id", $"cluster".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      idxR.select($"id", $"cluster".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe want
      centR.count() shouldBe 4L
      // the persisted operating point was re-measured against the new
      // layout (a tuning_check row exists past the tuneNProbe write)
      spark.read.parquet(s"$dir/tuning_check").count() should be >= 1L
      IvfIndex.loadTunedNProbe(spark, dir) should be >= 1
      Scratch.rmTree(dir)
    }

    it("tuneNProbe picks the cheapest width meeting the floor and persists the choice") {
      import graft.operators.IvfIndex
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cent = IvfIndex
        .fitCentroids(spark, e, k = 8, iterations = 1, orderedMean = true)
        .localCheckpoint()
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tune").toString
      IvfIndex.save(cent, indexed, dir)
      val queries = e.filter($"id" < 10).select($"id".as("q_id"), $"v".as("qv"))
      val chosen = IvfIndex.tuneNProbe(spark, dir, queries,
        k = 10, nProbes = Seq(1, 2, 4, 8), recallFloor = 0.9)
      val tuning = spark.read.parquet(s"$dir/tuning").orderBy($"n_probe").collect()
      tuning.length shouldBe 4
      val byWidth = tuning.map(r =>
        (r.getAs[Int]("n_probe"), r.getAs[Double]("avg_recall")))
      // floor: the chosen width meets it (full width always does, so a
      // qualifying width exists and the fallback arm is not in play)
      byWidth.find(_._1 == chosen).get._2 should be >= 0.9
      // minimality: every cheaper width missed the floor
      byWidth.filter(_._1 < chosen).foreach { case (_, r) => r should be < 0.9 }
      // the persisted flag marks exactly the chosen row, and the
      // operating point round-trips through the store
      tuning.filter(_.getAs[Boolean]("chosen")).map(
        _.getAs[Int]("n_probe")).toSeq shouldBe Seq(chosen)
      IvfIndex.loadTunedNProbe(spark, dir) shouldBe chosen
      // the serving call: search at the persisted operating point must
      // equal an explicit search at the chosen width
      val served = IvfIndex.searchTuned(spark, queries, dir, k = 10)
      val explicit = {
        val (c2, i2) = IvfIndex.load(spark, dir)
        IvfIndex.search(spark, queries, i2, c2, k = 10, nProbe = chosen)
      }
      served.exceptAll(explicit).count() shouldBe 0L
      explicit.exceptAll(served).count() shouldBe 0L
      // an unreachable floor falls back to the widest candidate rather
      // than silently under-delivering — and 1.0 recall still "misses"
      // a floor of 1.0 only when pruning loses truth, so force it with
      // a floor no width can meet via an impossible-but-valid 1.0 on a
      // narrow candidate set whose best width is below it
      val narrow = IvfIndex.tuneNProbe(spark, dir, queries,
        k = 10, nProbes = Seq(1, 2), recallFloor = 1.0)
      val narrowRecalls = spark.read.parquet(s"$dir/tuning")
        .orderBy($"n_probe").collect()
        .map(r => (r.getAs[Int]("n_probe"), r.getAs[Double]("avg_recall")))
      if (narrowRecalls.forall(_._2 < 1.0)) narrow shouldBe 2
      else narrowRecalls.filter(_._2 >= 1.0).map(_._1).min shouldBe narrow
    }

    it("refreshNProbeTuning keeps a healthy width and re-tunes a stale one") {
      import graft.operators.IvfIndex
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cent = IvfIndex
        .fitCentroids(spark, e, k = 8, iterations = 1, orderedMean = true)
        .localCheckpoint()
      val indexed = IvfIndex.assign(e, cent).localCheckpoint()
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-ref").toString
      IvfIndex.save(cent, indexed, dir)
      val queries = e.filter($"id" < 10).select($"id".as("q_id"), $"v".as("qv"))
      // floor -> 0+: width 1 wins and cannot go stale on the same corpus
      IvfIndex.tuneNProbe(spark, dir, queries,
        k = 10, nProbes = Seq(1, 2, 4, 8), recallFloor = 1e-9) shouldBe 1
      val (w1, refreshed1) = IvfIndex.refreshNProbeTuning(spark, dir)
      (w1, refreshed1) shouldBe ((1, false))
      val audit = spark.read.parquet(s"$dir/tuning_check")
      audit.count() shouldBe 1L
      audit.select($"stale").head().getBoolean(0) shouldBe false
      // drift: re-tune with the floor pinned to width 1's OWN measured
      // recall (so the stored point exactly meets it on the base
      // corpus), append shifted twins of the whole corpus, and refresh
      // against the drifted workload — the doubled cells and moved
      // mass push the narrow width below its own old recall
      val r1 = spark.read.parquet(s"$dir/tuning")
        .filter($"n_probe" === 1).select($"avg_recall").head().getDouble(0)
      IvfIndex.tuneNProbe(spark, dir, queries,
        k = 10, nProbes = Seq(1, 2, 4, 8), recallFloor = r1) shouldBe 1
      val delta = e.select(($"id" + 100000).as("id"),
        transform($"v", x => x + lit(0.1)).as("v"))
      IvfIndex.appendToIndex(spark, delta, dir): Unit
      val driftQ = delta.filter($"id" < 100010)
        .select($"id".as("q_id"), $"v".as("qv"))
      val (w2, refreshed2) = IvfIndex.refreshNProbeTuning(spark, dir,
        Some(driftQ))
      val auditRows = spark.read.parquet(s"$dir/tuning_check")
        .orderBy($"stale").collect()
      auditRows.length shouldBe 2
      // the audit row's verdict and the refresh decision agree, and
      // a refresh rewrote the table under the recorded floor's rule
      val lastStale = auditRows.map(
        _.getAs[Boolean]("stale")).contains(true)
      refreshed2 shouldBe lastStale
      if (refreshed2) {
        IvfIndex.loadTunedNProbe(spark, dir) shouldBe w2
        w2 should be > 1
      }
      // a store tuned before the sample-persisting tuneNProbe (no
      // tuning_sample) fails with the remedy, not a raw path-not-found
      graft.sources.StoreFs.deleteChild(dir, "tuning_sample")
      val ex = the[IllegalArgumentException] thrownBy
        IvfIndex.refreshNProbeTuning(spark, dir)
      ex.getMessage should include("tuning_sample")
    }
  }

  describe("annLshPairs") {
    it("recovers every brute-force near-dup pair on the scaled corpus") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val corpus = e.unionByName(
        e.select(($"id" + 100000L).as("id"), transform($"v", x => x * lit(1.01)).as("v")))
      val brute = Similarity.bruteForcePairs(spark, corpus, 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planes = Similarity.hyperplanes(nPlanes = 12, dim = 64)
      val ann = Similarity.annLshPairs(spark, corpus, planes, 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.nonEmpty shouldBe true
      ann shouldBe brute // scaling never flips a sign bit → recall 1.0
    }

    it("maxBucketSize bounds the candidate join on a degenerate corpus") {
      // 30 copies of one vector: all land in the same bucket, so the
      // uncapped join scores C(30,2) = 435 pairs from a single bucket
      val base = Array.tabulate(64)(i => math.sin(i + 1))
      val hot = spark.createDataFrame(
        (1L to 30L).map(i => (i, base))).toDF("id", "v")
      val planes = Similarity.hyperplanes(nPlanes = 12, dim = 64)
      Similarity.annLshPairs(spark, hot, planes, 0.0).count() shouldBe 435
      // cap below the hot bucket → it is dropped before the self-join
      Similarity.annLshPairs(spark, hot, planes, 0.0, maxBucketSize = Some(10))
        .count() shouldBe 0
    }

    it("semanticDedup drops exactly the scaled copies, keeping originals") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val corpus = e.unionByName(e.select(($"id" + 100000L).as("id"),
        transform($"v", x => x * lit(1.01)).as("v")))
      val out = Similarity.semanticDedup(spark, corpus, k = 8,
        iterations = 1, threshold = 0.99)
      out.count() shouldBe corpus.count() // every row labeled
      val dropped = out.filter(!$"keep").select($"id")
        .collect().map(_.getLong(0)).toSet
      val originals = e.collect().map(_.getLong(0)).toSet
      // scaling never moves the argmax centroid, so each copy shares its
      // original's cell and (being the larger id) is the one dropped;
      // originals are mutually far (max cross cos ≈ 0.51) and survive
      dropped shouldBe originals.map(_ + 100000L)
    }

    it("semanticDedupAuto derives k = max(floor, ceil(n/target)) and matches the explicit-k call") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val corpus = e.unionByName(e.select(($"id" + 100000L).as("id"),
        transform($"v", x => x * lit(1.01)).as("v"))) // n = 1000
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      // derivation engages: ceil(1000/100) = 10 > floor 8
      canon(Similarity.semanticDedupAuto(spark, corpus, iterations = 1,
        threshold = 0.99, targetCellSize = 100L, kFloor = 8)) shouldBe
        canon(Similarity.semanticDedup(spark, corpus, k = 10,
          iterations = 1, threshold = 0.99))
      // floor engages: ceil(1000/10⁶) = 1 < floor 8
      canon(Similarity.semanticDedupAuto(spark, corpus, iterations = 1,
        threshold = 0.99, targetCellSize = 1000000L, kFloor = 8)) shouldBe
        canon(Similarity.semanticDedup(spark, corpus, k = 8,
          iterations = 1, threshold = 0.99))
    }

    it("l2Normalize and truncateDims rescale exactly; zero vectors pass through") {
      val df = Seq(
        (1L, Array(3.0, 4.0, 0.0)),
        (2L, Array(0.0, 0.0, 0.0))
      ).toDF("id", "v")
      val out = df.select($"id",
          Similarity.l2Normalize($"v").as("n"),
          Similarity.truncateDims($"v", 2).as("t"))
        .orderBy($"id").collect()
      out(0).getSeq[Double](1) shouldBe Seq(0.6, 0.8, 0.0)
      out(0).getSeq[Double](2) shouldBe Seq(0.6, 0.8) // ||(3,4)|| = 5
      // zero vector: unchanged, never null/NaN
      out(1).getSeq[Double](1) shouldBe Seq(0.0, 0.0, 0.0)
      out(1).getSeq[Double](2) shouldBe Seq(0.0, 0.0)
    }

    it("semanticDedupBalanced derives k = ceil(sqrt(n)) and matches the explicit-k call") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val corpus = e.unionByName(e.select(($"id" + 100000L).as("id"),
        transform($"v", x => x * lit(1.01)).as("v"))) // n = 1000
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      // derivation engages: ceil(sqrt(1000)) = 32 > floor 8
      canon(Similarity.semanticDedupBalanced(spark, corpus, iterations = 1,
        threshold = 0.99, kFloor = 8)) shouldBe
        canon(Similarity.semanticDedup(spark, corpus, k = 32,
          iterations = 1, threshold = 0.99))
      // floor engages when sqrt(n) is below it
      canon(Similarity.semanticDedupBalanced(spark, corpus, iterations = 1,
        threshold = 0.99, kFloor = 40)) shouldBe
        canon(Similarity.semanticDedup(spark, corpus, k = 40,
          iterations = 1, threshold = 0.99))
    }

    it("IVF save/load round-trips centroids and index exactly; search is identical") {
      import graft.operators.IvfIndex
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cent = IvfIndex.fitCentroids(spark, e, k = 4, iterations = 2, orderedMean = true)
        .persist()
      val indexed = IvfIndex.assign(e, cent)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      IvfIndex.save(cent, indexed, dir)
      val (cent2, indexed2) = IvfIndex.load(spark, dir)
      // binary-exact round trip: doubles through parquet lose nothing
      def centSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
      centSet(cent2) shouldBe centSet(cent)
      indexed2.count() shouldBe indexed.count()
      val queries = e.filter($"id" < 5).select($"id".as("q_id"), $"v".as("qv"))
      def run(idx: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
        IvfIndex.search(spark, queries, idx, c, k = 3, nProbe = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      run(indexed2, cent2) shouldBe run(indexed, cent)
      cent.unpersist()
    }

    it("appendToIndex equals assign-all-to-base-centroids; split repairs oversized cells") {
      import graft.operators.IvfIndex
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val base = e.filter($"id" % 10 < 9)
      val delta = e.filter($"id" % 10 === 9)
      val cent = IvfIndex.fitCentroids(spark, base, k = 4, iterations = 1,
        orderedMean = true).persist()
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
      IvfIndex.save(cent, IvfIndex.assign(base, cent), dir)
      IvfIndex.appendToIndex(spark, delta, dir)
      val (cent2, indexed2) = IvfIndex.load(spark, dir)
      // appended index ≡ assigning the full corpus to the base centroids
      val expect = IvfIndex.assign(e, cent)
      indexed2.count() shouldBe expect.count()
      indexed2.select($"id", $"cluster".cast("long"))
        .exceptAll(expect.select($"id", $"cluster".cast("long")))
        .count() shouldBe 0L
      // search sees delta vectors without any refit (count captured NOW:
      // the split below rewrites the files this plan's listing points at)
      val queries = e.filter($"id" < 5).select($"id".as("q_id"), $"v".as("qv"))
      val hitsCount = IvfIndex.search(spark, queries, indexed2, cent2,
        k = 3, nProbe = 4).count()
      hitsCount should be > 0L
      // force a split: every cell is "oversized" at maxCellSize = 2
      val nCells0 = spark.read.parquet(s"$dir/centroids").count()
      val nVecs = indexed2.count() // materialize BEFORE files are rewritten
      val split = IvfIndex.splitOversizedCells(spark, dir, maxCellSize = 2L)
      split should be > 0
      spark.catalog.refreshByPath(s"$dir/index")
      val (cent3, indexed3) = IvfIndex.load(spark, dir)
      cent3.count() shouldBe nCells0 + split
      // no vector lost or duplicated, and no cell id is dangling
      indexed3.count() shouldBe nVecs
      indexed3.select($"id").distinct().count() shouldBe nVecs
      indexed3.select($"cluster".cast("long")).distinct()
        .exceptAll(cent3.select($"cluster".cast("long"))).count() shouldBe 0L
      // search still returns a full result set over the split layout
      IvfIndex.search(spark, queries, indexed3, cent3, k = 3,
        nProbe = cent3.count().toInt).count() shouldBe hitsCount
      cent.unpersist()
    }

    it("splitOversizedCells skips degenerate cells instead of faking a split") {
      import graft.operators.IvfIndex
      // every vector identical → the 2-means sub-fit cannot separate
      // anything; a "split" would leave one side empty and stale files
      val e = spark.range(0, 40)
        .selectExpr("id", "cast(array(1.0, 2.0, 3.0, 4.0) as array<double>) as v")
      val cent = IvfIndex.fitCentroids(spark, e, k = 1, iterations = 1,
        orderedMean = true)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-degen").toString
      IvfIndex.save(cent, IvfIndex.assign(e, cent), dir)
      IvfIndex.splitOversizedCells(spark, dir, maxCellSize = 10L) shouldBe 0
      val (cent2, indexed2) = IvfIndex.load(spark, dir)
      cent2.count() shouldBe 1L
      indexed2.count() shouldBe 40L // nothing lost, nothing duplicated
    }

    it("maxBucketSize above every bucket is a result no-op on normal data") {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val planes = Similarity.hyperplanes(nPlanes = 12, dim = 64)
      val plain = Similarity.annLshPairs(spark, e, planes, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val capped = Similarity.annLshPairs(spark, e, planes, 0.9,
          maxBucketSize = Some(4096))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      capped shouldBe plain
    }
  }

  describe("Similarity.projectJL") {
    it("projects to the target dimension, deterministically") {
      val planes = Similarity.hyperplanes(nPlanes = 16, dim = 64)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val p1 = e.select($"vec_id",
          Similarity.projectJL($"v", planes).as("pv"))
        .orderBy($"vec_id").collect().map(_.getSeq[Double](1))
      p1.foreach(_.length shouldBe 16)
      val p2 = e.repartition(7).select($"vec_id",
          Similarity.projectJL($"v", planes).as("pv"))
        .orderBy($"vec_id").collect().map(_.getSeq[Double](1))
      p1 shouldBe p2
    }

    it("preserves pairwise squared distances in expectation (JL/Rademacher)") {
      val planes = Similarity.hyperplanes(nPlanes = 16, dim = 64)
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("pv", Similarity.projectJL($"v", planes))
        .localCheckpoint()
      val ratios = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select((graft.operators.PqIndex.l2Sq(col("a.pv"), col("b.pv")) /
          graft.operators.PqIndex.l2Sq(col("a.v"), col("b.v"))).as("r"))
      // E[ratio] = 1 for a Rademacher projection; the mean over ALL
      // ~125k pairs of the fixture must sit near it (per-pair std
      // ≈ √(2/k) ≈ 0.35 — a small correlated sample would not settle)
      val mean = ratios.agg(avg($"r")).head().getDouble(0)
      mean shouldBe 1.0 +- 0.1
    }
  }
}
