package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  describe("windowedTypeCounts (batch parity)") {
    it("aggregates per event-time window on a batch frame") {
      val df = Seq(
        (ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(61), "click", 4.0),
        (ts(10), "view", 8.0)
      ).toDF("ts", "event_type", "value")
      val out = EventStreams.windowedTypeCounts(df, "1 hour", "10 minutes")
      val rows = out.collect().map(r =>
        (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      rows shouldBe Set(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0),
        (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L, 4.0),
        (Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 8.0))
    }
  }

  describe("windowedTypeCounts (streaming)") {
    it("emits closed windows through a watermark over micro-batches") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Timestamp, String, Double)]
      val stream = mem.toDF().toDF("ts", "event_type", "value")
      val query = EventStreams.startToMemory(spark, stream, "win_counts")
      try {
        mem.addData((ts(5), "click", 1.0), (ts(20), "click", 2.0))
        query.processAllAvailable()
        // advance event time far past 10:00–11:00 + lateness → closes it
        mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "view", 1.0))
        query.processAllAvailable()
        val rows = spark.table("win_counts").collect().map(r =>
          (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
        rows should contain(
          (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0))
      } finally query.stop()
    }
  }

  describe("writeBatchIdempotent") {
    it("replaying a batch overwrites its partition instead of duplicating") {
      val out = java.nio.file.Files.createTempDirectory("idem_sink").toString
      val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      EventStreams.writeBatchIdempotent(batch, batchId = 7L, out)
      EventStreams.writeBatchIdempotent(batch, batchId = 7L, out) // replay
      EventStreams.writeBatchIdempotent(batch, batchId = 8L, out)
      val back = spark.read.parquet(out)
      back.count() shouldBe 4L // 2 rows per DISTINCT batch, no dupes
      // partition values come back type-inferred from the path (int)
      back.select($"batch_id".cast("long")).distinct().collect()
        .map(_.getLong(0)).toSet shouldBe Set(7L, 8L)
    }
  }

  describe("streaming token shards (q135 multi-batch shape)") {
    it("packs each micro-batch independently with no doc lost or duplicated") {
      // two files → maxFilesPerTrigger=1 → two micro-batches, each
      // FFD-packed on its own (the q135 foreachBatch path); the gate
      // query's single-batch case is oracle-gated, this pins the
      // multi-batch contract: every doc in exactly one shard of its own
      // batch partition, every bin within capacity
      val src = java.nio.file.Files.createTempDirectory("tokshard_src").toString
      val out = java.nio.file.Files.createTempDirectory("tokshard_out").toString
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"doc_id", $"text")
      docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$src/f0")
      docs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$src/f1")
      val merges = Seq(("e", "s"), ("es", "t"))
      val vocab = Map("e" -> 0, "s" -> 1, "t" -> 2, "es" -> 3, "est" -> 4)
      val schema = docs.schema
      val encoded = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*")
        .select($"doc_id",
          graft.operators.BpeTrain.encodeIds($"text", merges, vocab).as("ids"))
        .select($"doc_id", org.apache.spark.sql.functions.array_join($"ids", ",").as("ids_str"),
          org.apache.spark.sql.functions.size($"ids").cast("long").as("n_toks"))
      val query = encoded.writeStream
        .option("checkpointLocation", s"$out/_ckpt")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            val b = batch.toDF().localCheckpoint()
            val n = b.filter($"n_toks" > 0 && $"n_toks" <= 512).count()
            EventStreams.writeBatchIdempotent(
              QueriesText.packTokenShards(b, n), batchId, s"$out/shards")
        }
        .start()
      try query.processAllAvailable() finally query.stop()
      val shards = spark.read.parquet(s"$out/shards")
      shards.select($"batch_id".cast("long")).distinct().collect()
        .map(_.getLong(0)).toSet shouldBe Set(0L, 1L)
      // capacity respected in every bin of every batch
      shards.filter($"bin_tokens" > 512).count() shouldBe 0L
      // conservation: every eligible doc lands in exactly one shard of
      // its own batch (n_docs sums to the eligible count)
      val eligible = docs
        .select(org.apache.spark.sql.functions.size(
          graft.operators.BpeTrain.encodeIds($"text", merges, vocab))
          .cast("long").as("n_toks"))
        .filter($"n_toks" > 0 && $"n_toks" <= 512).count()
      shards.agg(sum($"n_docs")).head().getLong(0) shouldBe eligible
    }
  }

  describe("sessionize (batch mode)") {
    it("splits a user's events into gap-separated sessions") {
      val events = Seq(
        Event(1L, ts(0), "click", 1.0),
        Event(1L, ts(2), "view", 2.0),
        Event(1L, ts(30), "click", 4.0), // > 10 min gap → new session
        Event(2L, ts(7), "signup", 8.0)
      ).toDS()
      val sessions = EventStreams.sessionize(events, gapMs = 10 * 60 * 1000L)
        .collect().toSet
      sessions shouldBe Set(
        Session(1L, ts(0), ts(2), 2, 3.0),
        Session(1L, ts(30), ts(30), 1, 4.0),
        Session(2L, ts(7), ts(7), 1, 8.0))
    }
  }

  describe("sessionize (streaming mode)") {
    it("closes sessions via event-time timeout across micro-batches") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val sessions = EventStreams.sessionize(
        mem.toDS().withWatermark("ts", "0 seconds").as[Event],
        gapMs = 10 * 60 * 1000L)
      val query = sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append").start()
      try {
        mem.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(2), "view", 2.0))
        query.processAllAvailable()
        // watermark jumps past end+gap → the open session times out
        mem.addData(Event(9L, ts(45), "click", 0.5))
        query.processAllAvailable()
        mem.addData(Event(9L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.25))
        query.processAllAvailable()
        val got = spark.table("sessions_out").as[Session].collect().toSet
        got should contain(Session(1L, ts(0), ts(2), 2, 3.0))
      } finally query.stop()
    }
  }

  describe("sessionWindowAgg (native session_window)") {
    it("matches the custom sessionize operator on a batch frame") {
      val events = Seq(
        (1L, ts(0), "click", 1.0), (1L, ts(2), "view", 2.0),
        (1L, ts(30), "click", 4.0), (2L, ts(7), "signup", 8.0)
      ).toDF("user_id", "ts", "event_type", "value")
      val got = EventStreams.sessionWindowAgg(events, gapMs = 10 * 60 * 1000L)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
      got shouldBe Set(
        (1L, ts(0), ts(2), 2L, 3.0),
        (1L, ts(30), ts(30), 1L, 4.0),
        (2L, ts(7), ts(7), 1L, 8.0))
    }

    it("closes sessions through the watermark in streaming mode") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp, String, Double)]
      val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
        .withWatermark("ts", "0 seconds")
      val query = EventStreams.sessionWindowAgg(stream, gapMs = 10 * 60 * 1000L)
        .writeStream.format("memory").queryName("native_sessions")
        .outputMode("append").start()
      try {
        mem.addData((1L, ts(0), "click", 1.0), (1L, ts(2), "view", 2.0))
        query.processAllAvailable()
        // event time far past end+gap → watermark closes the session
        mem.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.25))
        query.processAllAvailable()
        val got = spark.table("native_sessions")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getLong(3), r.getDouble(4))).toSet
        got should contain((1L, ts(0), ts(2), 2L, 3.0))
      } finally query.stop()
    }
  }

  describe("runningTotals (transformWithState, RocksDB state store)") {
    it("accumulates typed ValueState across micro-batches") {
      implicit val sqlCtx = spark.sqlContext
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Event]
      val query = EventStreams.runningTotals(mem.toDS())
        .writeStream.format("memory").queryName("running_totals")
        .outputMode("update").start()
      try {
        mem.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(1), "view", 2.0),
          Event(2L, ts(2), "click", 5.0))
        query.processAllAvailable()
        mem.addData(Event(1L, ts(10), "click", 4.0))
        query.processAllAvailable()
        // update mode: latest row per (user, batch); user 1 appears in
        // both batches — its LAST row carries the accumulated state
        val rows = spark.table("running_totals")
          .groupBy($"user_id")
          .agg(max(struct($"n_events", $"value_sum")).as("s"))
          .select($"user_id", $"s.n_events", $"s.value_sum")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        rows shouldBe Set((1L, 3L, 7.0), (2L, 1L, 5.0))
      } finally {
        query.stop()
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
    }
  }

  describe("quietUsers (transformWithState event-time timers)") {
    it("emits a churn row only after the watermark proves the quiet gap") {
      implicit val sqlCtx = spark.sqlContext
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Event]
      val quiet = EventStreams.quietUsers(
        mem.toDS().withWatermark("ts", "0 seconds"), quietMs = 10 * 60 * 1000L)
      val query = quiet.writeStream.format("memory").queryName("quiet_users")
        .outputMode("append").start()
      try {
        mem.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(5), "view", 2.0),
          Event(2L, ts(6), "click", 3.0))
        query.processAllAvailable()
        // nothing can have expired yet: watermark is at 10:06
        spark.table("quiet_users").count() shouldBe 0L
        // user 2 stays active past both deadlines; user 1 goes quiet
        mem.addData(Event(2L, ts(20), "view", 1.0))
        query.processAllAvailable()
        mem.addData(Event(9L, Timestamp.valueOf("2024-01-01 11:00:00"), "view", 0.0))
        query.processAllAvailable()
        val rows = spark.table("quiet_users")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        rows.map(_._1) should contain(1L)
        val u1 = rows.find(_._1 == 1L).get
        u1._2 shouldBe ts(5) // last seen at 10:05
        u1._3 shouldBe 2L    // two events before going quiet
        // user 2's re-arm moved its deadline to 10:30 < 11:00 watermark,
        // so it expires too — but with the LATER last_seen
        rows.find(_._1 == 2L).foreach(_._2 shouldBe ts(20))
      } finally {
        query.stop()
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
    }
  }

  describe("checkpoint recovery") {
    it("a restarted query resumes aggregation state from the checkpoint") {
      implicit val sqlCtx = spark.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      val mem = MemoryStream[(Timestamp, String, Double)]
      def agg = mem.toDF().toDF("ts", "event_type", "value")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      def start(name: String) = agg.writeStream
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).outputMode("complete").start()

      val q1 = start("recov_1")
      try {
        mem.addData((ts(0), "click", 1.0), (ts(1), "view", 2.0))
        q1.processAllAvailable()
        spark.table("recov_1").filter($"event_type" === "click")
          .head().getLong(1) shouldBe 1L
      } finally q1.stop()

      // data arriving while the query is DOWN, then restart on the same
      // checkpoint: offsets + state-store contents must both recover
      mem.addData((ts(2), "click", 3.0), (ts(3), "click", 4.0))
      val q2 = start("recov_2")
      try {
        q2.processAllAvailable()
        val counts = spark.table("recov_2")
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        counts shouldBe Map("click" -> 3L, "view" -> 1L)
      } finally q2.stop()
    }
  }

  describe("clickPurchaseAttributionOuter (streaming)") {
    it("emits unmatched purchases with null clicks once the watermark passes") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp, String, Double)]
      val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
      val query = EventStreams.clickPurchaseAttributionOuter(stream)
        .writeStream.format("memory").queryName("attr_outer")
        .outputMode("append").start()
      try {
        def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
        // user 1: click then purchase in horizon; user 2: bare purchase
        mem.addData((1L, t(5), "click", 1.0), (1L, t(30), "purchase", 10.0),
          (2L, t(31), "purchase", 20.0))
        query.processAllAvailable()
        // advance both watermarks far past the join window so the
        // unmatched outer row can prove absence and emit
        mem.addData((9L, Timestamp.valueOf("2024-01-01 14:00:00"), "click", 0.0),
          (9L, Timestamp.valueOf("2024-01-01 14:00:00"), "purchase", 0.0))
        query.processAllAvailable()
        val rows = spark.table("attr_outer")
          .select($"user_id", $"click_ts", $"purchase_ts").collect()
        rows.find(_.getLong(0) == 1L).get.getTimestamp(1) shouldBe t(5)
        val bare = rows.find(_.getLong(0) == 2L).get
        bare.isNullAt(1) shouldBe true // outer row, no click
        bare.getTimestamp(2) shouldBe t(31)
      } finally query.stop()
    }
  }

  describe("enrich (stream-static broadcast join)") {
    it("labels stream rows from the static dimension, null on miss") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Timestamp, String, Double)]
      val stream = mem.toDF().toDF("ts", "event_type", "value")
      val dim = Seq(("click", "interaction"), ("purchase", "conversion"))
        .toDF("event_type", "category")
      val query = EventStreams.enrich(stream, dim, Seq("event_type"))
        .writeStream.format("memory").queryName("enrich_out")
        .outputMode("append").start()
      try {
        def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
        mem.addData((t(0), "click", 1.0), (t(1), "signup", 2.0),
          (t(2), "purchase", 3.0))
        query.processAllAvailable()
        val got = spark.table("enrich_out")
          .collect()
          .map(r => r.getAs[String]("event_type")
            -> Option(r.getAs[String]("category"))).toSet
        got shouldBe Set("click" -> Some("interaction"),
          "purchase" -> Some("conversion"), "signup" -> None)
      } finally query.stop()
    }
  }

  describe("streamableDir") {
    it("keys the watch dir on the data dir's full path, not its basename") {
      import java.nio.file.{Files, Paths}
      // two data dirs that share a basename, like two `sf0.1` copies:
      // each watch dir must link to its own file, not the first one's
      val dirs = Seq("a", "b").map { p =>
        val d = Files.createDirectories(
          Files.createTempDirectory(s"graft-watch-$p").resolve("sf0.1"))
        Files.write(d.resolve("documents.parquet"), p.getBytes("UTF-8"))
        d
      }
      try {
        val watches = dirs.map(d => QueriesStreaming.streamableDir(
          d.toString, "documents.parquet", "spec_watch"))
        watches.distinct.size shouldBe 2
        watches.zip(dirs).foreach { case (w, d) =>
          Files.readSymbolicLink(Paths.get(w, "documents.parquet")) shouldBe
            d.resolve("documents.parquet")
        }
      } finally {
        Scratch.clearSession()
        dirs.foreach(d => Scratch.rmTree(d.getParent.toString))
      }
    }
  }

  describe("replayGuardedBatches") {
    it("runs the body once per batch id and skips a batch whose marker exists") {
      Scratch.withTempDir("replay_guard") { dir =>
        val src = s"$dir/src"
        spark.range(40).toDF("id").write.parquet(src)
        val markers = s"$dir/markers"
        def marker(id: Long) = s".rg_batch_${id}_applied"
        // an earlier attempt finished batch 2 and touched its marker
        graft.sources.StoreFs.touchMarker(markers, marker(2))
        def run(staging: String): Seq[(Long, Seq[Long])] = {
          val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
          val stream = QueriesStreaming.keyedMultiBatchStream(
            spark, src, staging, identity, col("id") % 4)
          QueriesStreaming.replayGuardedBatches(spark, stream, staging,
            markers, "rg") { (batch, batchId) =>
            seen.add((batchId, batch.collect().map(_.getLong(0)).toSeq.sorted)): Unit
          }
          seen.asScala.toSeq
        }
        val first = run(s"$dir/staging1")
        first.map(_._1) shouldBe Seq(0L, 1L, 3L)
        // batch k of the keyed stream is the id % 4 = k slice
        first.foreach { case (k, ids) =>
          ids shouldBe (0L until 40L).filter(_ % 4 == k)
        }
        graft.sources.StoreFs.childNames(markers).toSet shouldBe
          (0L to 3L).map(marker).toSet
        // a replay of every batch id (a fresh checkpoint) runs no body
        run(s"$dir/staging2") shouldBe empty
      }
    }
  }

  describe("QueriesText.plantedArrivals") {
    it("plants each lane's ids and payloads, the same for a batch frame and a stream") {
      Scratch.withTempDir("planted_arrivals") { dir =>
        // ids 0–31 are store rows (b < 8), 32–39 fresh arrivals (b 8, 9)
        val base = (0L until 40L)
          .map(i => (i, (i / 4).toInt, s"doc $i", Seq(i.toDouble, 1.0)))
          .toDF("id", "b", "text", "v")
        val fresh = 32L until 40L
        val store = 0L until 32L
        def expected[P](payload: Long => P, perturbed: Long => P): Seq[(Long, P)] =
          (fresh.map(i => (i, payload(i))) ++
            store.filter(_ % 7 == 0).map(i => (i + 200000L, payload(i))) ++
            store.filter(_ % 11 == 0).map(i => (i + 300000L, perturbed(i))) ++
            fresh.filter(_ % 13 == 0).map(i => (i + 400000L, payload(i))))
            .sortBy(_._1)
        val text = expected(i => s"doc $i", i => s"doc $i zz qq")
        val vec = expected(i => Seq(i.toDouble, 1.0), i => Seq(i * 1.01, 1.01))
        text.map(_._1) shouldBe (32L to 39L) ++
          Seq(200000L, 200007L, 200014L, 200021L, 200028L) ++
          Seq(300000L, 300011L, 300022L) ++ Seq(400039L)

        def plantText(t: DataFrame) =
          QueriesText.plantedArrivals(t, "id", "text", QueriesText.zzQq)
        def plantVec(t: DataFrame) =
          QueriesText.plantedArrivals(t, "id", "v", QueriesText.scaled101)
        def texts(df: DataFrame) =
          df.as[(Long, String)].collect().toSeq.sortBy(_._1)
        def vecs(df: DataFrame) =
          df.as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
        texts(plantText(base)) shouldBe text
        vecs(plantVec(base)) shouldBe vec

        // the same rows arriving as a two-file stream, one file a batch
        base.filter($"id" < 20).coalesce(1).write.parquet(s"$dir/watch")
        base.filter($"id" >= 20).coalesce(1).write.mode("append").parquet(s"$dir/watch")
        def streamed(plant: DataFrame => DataFrame, name: String) = {
          val arriving = spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$dir/watch")
          EventStreams.runMicroBatches(spark)(plant(arriving).writeStream
            .format("memory").queryName(name).start())
          spark.table(name)
        }
        texts(streamed(plantText, "planted_text")) shouldBe text
        vecs(streamed(plantVec, "planted_vec")) shouldBe vec
      }
    }
  }
}
