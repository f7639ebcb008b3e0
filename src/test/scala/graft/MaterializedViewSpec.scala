package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Pins the streaming materialized-view store the q173 gate exercises
  * end-to-end: every generation is a complete point-in-time snapshot,
  * the merge folds correctly across batches, and a REPLAYED batch
  * (foreachBatch's at-least-once window) rewrites its own generation
  * to the identical state instead of double-counting.
  */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def readGen(store: String, gen: Long) =
    spark.read.parquet(s"$store/batch_id=$gen")
      .select($"k", $"n", $"v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  it("folds batches into complete generational snapshots") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val base = java.nio.file.Files.createTempDirectory("mv-spec").toString
    val store = s"$base/store"
    val query = EventStreams.materializedAggStore(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"x").as("v")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")),
      store = store, checkpoint = s"$base/ckpt")
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      query.processAllAvailable()
      mem.addData(("a", 4.0), ("c", 7.0))
      query.processAllAvailable()

      readGen(store, 0) shouldBe Set(("a", 2L, 3.0), ("b", 1L, 10.0))
      readGen(store, 1) shouldBe
        Set(("a", 3L, 7.0), ("b", 1L, 10.0), ("c", 1L, 7.0))
      // latestGeneration picks the newest; `before` gives the replay view
      EventStreams.latestGeneration(spark, store).get
        .agg(sum($"n")).as[Long].head() shouldBe 5L
      EventStreams.latestGeneration(spark, store, before = 1L).get
        .agg(sum($"n")).as[Long].head() shouldBe 3L
    } finally query.stop()

    // simulate foreachBatch replaying batch 1: fold the SAME partial
    // from generation 0 again — the generation must rewrite, not grow
    val partial = Seq(("a", 1L, 4.0), ("c", 1L, 7.0)).toDF("k", "n", "v")
    val prev = EventStreams.latestGeneration(spark, store, before = 1L).get
    val merged = prev.unionByName(partial).groupBy($"k")
      .agg(sum($"n").as("n"), sum($"v").as("v"))
    EventStreams.writeBatchIdempotent(merged, 1L, store)
    readGen(store, 1) shouldBe
      Set(("a", 3L, 7.0), ("b", 1L, 10.0), ("c", 1L, 7.0))

    // a TORN generation (data dir present, crash before the commit
    // marker) must be invisible to readers until its batch replays
    Seq(("zz", 99L, 0.0)).toDF("k", "n", "v")
      .write.parquet(s"$store/batch_id=7")
    EventStreams.latestGeneration(spark, store).get
      .agg(sum($"n")).as[Long].head() shouldBe 5L // still generation 1
    new java.io.File(store, ".gen_7_committed").createNewFile()
    EventStreams.latestGeneration(spark, store).get
      .agg(sum($"n")).as[Long].head() shouldBe 99L // now visible

    // retention: keep the newest committed generation only; the older
    // committed ones AND sub-watermark torn debris are swept, and the
    // survivor still reads
    Seq(("torn", 1L, 0.0)).toDF("k", "n", "v")
      .write.parquet(s"$store/batch_id=3") // unmarked crash debris
    EventStreams.vacuumGenerations(store, keepLast = 1)
    new java.io.File(store, "batch_id=0").exists() shouldBe false
    new java.io.File(store, "batch_id=1").exists() shouldBe false
    new java.io.File(store, "batch_id=3").exists() shouldBe false
    EventStreams.latestGeneration(spark, store).get
      .agg(sum($"n")).as[Long].head() shouldBe 99L
    EventStreams.latestGeneration(spark, store, before = 7L) shouldBe None
    assertCleanAudit(graft.tools.StoreDoctor.auditAggStore(spark, store))
  }

  it("time-travel reads serve any committed snapshot and refuse vacuumed ones") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val base = java.nio.file.Files.createTempDirectory("mv-tt").toString
    val store = s"$base/store"
    val query = EventStreams.materializedAggStore(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"x").as("v")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")),
      store = store, checkpoint = s"$base/ckpt")
    try {
      mem.addData(("a", 1.0), ("b", 10.0))
      query.processAllAvailable()
      mem.addData(("a", 4.0))
      query.processAllAvailable()
      mem.addData(("c", 2.0))
      query.processAllAvailable()
    } finally query.stop()
    EventStreams.committedAggGenerations(store) shouldBe Seq(0L, 1L, 2L)
    // every committed generation is a complete point-in-time snapshot
    EventStreams.loadAggStoreAt(spark, store, Some(0L))
      .agg(sum($"n")).as[Long].head() shouldBe 2L
    EventStreams.loadAggStoreAt(spark, store, Some(1L))
      .agg(sum($"n")).as[Long].head() shouldBe 3L
    // None = the newest committed snapshot
    EventStreams.loadAggStoreAt(spark, store)
      .agg(sum($"n")).as[Long].head() shouldBe 4L
    // the shared refusal contract: unreadable generations name the
    // readable list and the retention remedy
    intercept[IllegalStateException](
      EventStreams.loadAggStoreAt(spark, store, Some(9L)))
      .getMessage should include("not readable")
    EventStreams.vacuumGenerations(store, keepLast = 1)
    EventStreams.committedAggGenerations(store) shouldBe Seq(2L)
    val ex = intercept[IllegalStateException](
      EventStreams.loadAggStoreAt(spark, store, Some(0L)))
    ex.getMessage should include("generation 0")
    ex.getMessage should include("[2]")
    assertCleanAudit(graft.tools.StoreDoctor.auditAggStore(spark, store))
  }

  it("keyed retraction forgets across head + history, folds forward physically, and re-arrival returns clean") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val base = java.nio.file.Files.createTempDirectory("mv-retract").toString
    val store = s"$base/store"
    val query = EventStreams.materializedAggStore(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"x").as("v")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")),
      store = store, checkpoint = s"$base/ckpt")
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      query.processAllAvailable()
      mem.addData(("a", 4.0), ("c", 7.0))
      query.processAllAvailable()
    } finally query.stop()

    def keysAt(at: Option[Long]): Set[String] =
      EventStreams.loadAggStoreAt(spark, store, at)
        .select($"k").collect().map(_.getString(0)).toSet

    // an empty store refuses
    intercept[IllegalArgumentException](
      EventStreams.retractFromAggStore(spark, s"$base/nostore",
        Seq("a").toDF("k"))).getMessage should include("no committed")

    EventStreams.retractFromAggStore(spark, store,
      Seq("a", "a").toDF("k")) shouldBe 1L // distinct keys recorded
    // head AND every historic snapshot forget immediately
    keysAt(None) shouldBe Set("b", "c")
    keysAt(Some(0L)) shouldBe Set("b")
    keysAt(Some(1L)) shouldBe Set("b", "c")
    // the physical bytes still carry the key (no rewrite) — only the
    // overlay hides it; the NEXT fold makes removal physical
    readGen(store, 1).map(_._1) should contain("a")

    // in-flight refusal: an unmarked dir at/above the head means a
    // fold read pre-retraction state — the verb must refuse
    Seq(("x", 1L, 0.0)).toDF("k", "n", "v")
      .write.parquet(s"$store/batch_id=2")
    intercept[IllegalArgumentException](
      EventStreams.retractFromAggStore(spark, store, Seq("b").toDF("k")))
      .getMessage should include("in-flight")
    graft.sources.StoreFs.deleteChild(store, "batch_id=2")

    // the next fold (what the stream's foreachBatch runs): reads the
    // SCRUBBED head, so the generation it commits is physically
    // key-free except for the re-arriving key's fresh contribution
    val partial = Seq(("a", 1L, 5.0), ("b", 1L, 1.0)).toDF("k", "n", "v")
    val merged = EventStreams.latestGeneration(spark, store).get
      .unionByName(partial).groupBy($"k")
      .agg(sum($"n").as("n"), sum($"v").as("v"))
    EventStreams.writeBatchIdempotent(merged, 2L, store)
    graft.sources.StoreFs.touchMarker(store, ".gen_2_committed")
    // re-arrival: "a" returns with ONLY its post-retraction data
    readGen(store, 2) shouldBe
      Set(("a", 1L, 5.0), ("b", 2L, 11.0), ("c", 1L, 7.0))
    // generation 2 >= the retraction watermark: never scrubbed
    keysAt(Some(2L)) shouldBe Set("a", "b", "c")
    // pre-retraction history stays scrubbed
    keysAt(Some(0L)) shouldBe Set("b")

    // release: once nothing readable predates the watermark the
    // overlay is inert and vacuum drops it
    new java.io.File(store, "retractions").exists() shouldBe true
    EventStreams.vacuumGenerations(store, keepLast = 1)
    EventStreams.committedAggGenerations(store) shouldBe Seq(2L)
    new java.io.File(store, "retractions").exists() shouldBe false
    keysAt(None) shouldBe Set("a", "b", "c")
    assertCleanAudit(graft.tools.StoreDoctor.auditAggStore(spark, store))

    // torn overlay debris (a crash inside the FIRST retraction append:
    // only _temporary, no part file) reads as absent — conservative,
    // nothing recorded — and the next vacuum sweeps it
    new java.io.File(s"$store/retractions/_temporary").mkdirs() shouldBe true
    keysAt(None) shouldBe Set("a", "b", "c")
    EventStreams.retractionWatermark(spark, store) shouldBe None
    EventStreams.vacuumGenerations(store, keepLast = 1)
    new java.io.File(store, "retractions").exists() shouldBe false
  }

  it("retraction validates the key frame against the store's recorded key columns") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val base = java.nio.file.Files.createTempDirectory("mv-keychk").toString
    val store = s"$base/store"
    val query = EventStreams.materializedAggStore(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"x").as("v")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")),
      store = store, checkpoint = s"$base/ckpt")
    try {
      mem.addData(("a", 1.0), ("b", 10.0))
      query.processAllAvailable()
    } finally query.stop()

    // the fold recorded its key columns
    EventStreams.aggStoreKeyColumns(store) shouldBe Some(Seq("k"))

    // wrong column name: rejected up front, nothing appended
    intercept[IllegalArgumentException](
      EventStreams.retractFromAggStore(spark, store,
        Seq("a").toDF("key"))).getMessage should include("do not match")
    // extra column COLLIDING with an aggregate column ('n'): without
    // validation this would silently join on (k, n) and part-scrub;
    // with it the call is refused before the overlay append
    intercept[IllegalArgumentException](
      EventStreams.retractFromAggStore(spark, store,
        Seq(("a", 1L)).toDF("k", "n"))).getMessage should include("do not match")
    new java.io.File(store, "retractions").exists() shouldBe false

    // a store predating the meta refuses with the remedy (re-fold)
    graft.sources.StoreFs.deleteFile(s"$store/.keycols")
    intercept[IllegalArgumentException](
      EventStreams.retractFromAggStore(spark, store,
        Seq("a").toDF("k"))).getMessage should include("no .keycols meta")

    // the meta is idempotently restored by the next fold
    val q2 = EventStreams.materializedAggStore(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"x").as("v")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")),
      store = store, checkpoint = s"$base/ckpt")
    try {
      mem.addData(("c", 2.0))
      q2.processAllAvailable()
    } finally q2.stop()
    EventStreams.aggStoreKeyColumns(store) shouldBe Some(Seq("k"))
    EventStreams.retractFromAggStore(spark, store,
      Seq("a").toDF("k")) shouldBe 1L
  }
}
