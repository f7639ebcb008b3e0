package graft

import graft.operators.TextDedup
import graft.sources.StoreFs
import graft.streaming.EventStreams
import graft.tools.StoreDoctor

/** Each store family's ONE layout listing, pinned on hand-built
  * layouts: every entry on disk is classified, and the family's
  * StoreDoctor audit — which reads that listing — reports the same
  * (kind, severity) set the audit gave when it parsed the layout
  * itself. */
class StoreLayoutSpec extends SparkSpec {

  private def mkdirs(path: String): Unit = new java.io.File(path).mkdirs(): Unit

  private def kindSeverities(fs: Seq[StoreDoctor.Finding]): Set[(String, String)] =
    fs.map(f => (f.kind, f.severity)).toSet

  describe("the dir-per-generation listing (two-tier, NSW)") {
    it("classifies committed, above-head, scratch and swap-leftover entries") {
      Scratch.withTempDir("layout_dir") { dir =>
        Seq(1, 2, 3).foreach(g => Seq("centroids", "codebooks", "codes", "full")
          .foreach(t => mkdirs(s"$dir/g$g/$t")))
        mkdirs(s"$dir/g2__abc")
        StoreFs.writeFileAtomic(s"$dir/manifest", "2")
        StoreFs.touchMarker(dir, "manifest__tmp")
        val layout = StoreFs.listGenerationDirs(dir)
        layout.head shouldBe Some(2L)
        layout.committed shouldBe Seq(1L, 2L)
        layout.aboveHead shouldBe Seq(3L)
        layout.scratch shouldBe Seq(("g2__abc", "abc"))
        layout.swapLeftovers shouldBe Seq("manifest__tmp")
        val classified = layout.gens.map("g" + _) ++ layout.scratch.map(_._1) ++
          layout.swapLeftovers :+ "manifest"
        StoreFs.childNames(dir).sorted shouldBe classified.sorted
        StoreFs.committedGenerationDirs(dir) shouldBe layout.committed
        kindSeverities(StoreDoctor.auditTwoTier(spark, dir)) shouldBe Set(
          ("manifest", "ok"), ("generations", "warn"), ("manifest-swap", "warn"),
          ("scratch", "warn"), ("time-travel", "info"), ("writer-lease", "ok"))
      }
    }
  }

  describe("the agg-store listing") {
    it("classifies markers and data dirs, torn and in-flight alike") {
      Scratch.withTempDir("layout_agg") { dir =>
        // markers 1 and 2; data dirs 1, 2 and the in-flight 3; torn 0
        // below the committed watermark
        Seq(0, 1, 2, 3).foreach(g => mkdirs(s"$dir/batch_id=$g"))
        Seq(1, 2).foreach(g => StoreFs.touchMarker(dir, s".gen_${g}_committed"))
        val layout = EventStreams.listAggStore(dir)
        layout.committed shouldBe Seq(1L, 2L)
        layout.dataDirs shouldBe Seq(0L, 1L, 2L, 3L)
        layout.unmarked shouldBe Seq(0L, 3L)
        val classified = layout.committed.map(g => s".gen_${g}_committed") ++
          layout.dataDirs.map(g => s"batch_id=$g")
        StoreFs.childNames(dir).sorted shouldBe classified.sorted
        EventStreams.committedAggGenerations(dir) shouldBe layout.committed
        kindSeverities(StoreDoctor.auditAggStore(spark, dir)) shouldBe Set(
          ("generations", "ok"), ("torn-writes", "warn"), ("generations", "warn"),
          ("time-travel", "info"))
      }
    }
  }

  describe("the dedup-store listing") {
    it("classifies segment tables, descriptors and scratch tables") {
      Scratch.withTempDir("layout_dedup") { dir =>
        val prefix = s"$dir/store"
        Seq(1, 2).foreach(g => Seq("fp", "bands", "mh")
          .foreach(t => mkdirs(s"${prefix}_g${g}_$t")))
        mkdirs(s"${prefix}_g3_fp__abc")
        StoreFs.writeFileAtomic(s"${prefix}_g2_segments", "g1\ng2")
        StoreFs.writeFileAtomic(s"${prefix}_manifest", "2")
        val layout = TextDedup.listDedupStore(prefix)
        layout.spine.head shouldBe Some(2L)
        layout.spine.committed shouldBe Seq(1L, 2L)
        layout.spine.aboveHead shouldBe empty
        layout.spine.scratch shouldBe Seq(("store_g3_fp__abc", "abc"))
        layout.spine.swapLeftovers shouldBe empty
        layout.tables shouldBe Map(1L -> Set("fp", "bands", "mh"),
          2L -> Set("fp", "bands", "mh"))
        layout.descriptors shouldBe Seq(2L)
        val classified = layout.tables.toSeq.flatMap { case (g, ts) =>
          ts.map(t => s"store_g${g}_$t") } ++ layout.spine.scratch.map(_._1) ++
          layout.descriptors.map(g => s"store_g${g}_segments") :+ "store_manifest"
        StoreFs.childNames(dir).sorted shouldBe classified.sorted
        TextDedup.committedGenerations(spark, prefix) shouldBe Seq(2L)
        kindSeverities(StoreDoctor.auditDedup(spark, prefix)) shouldBe Set(
          ("scratch", "warn"), ("time-travel", "ok"), ("manifest", "ok"),
          ("segments", "info"), ("writer-lease", "ok"))
      }
    }
  }
}
