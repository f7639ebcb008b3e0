package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{IvfIndex, NswIndex, PqIndex}
import graft.sources.StoreFs
import graft.streaming.EventStreams

/** Structured-Streaming gate query: the events table consumed through
  * a real file-stream source (not a batch scan), windowed-aggregated
  * with event-time semantics, and compared to the batch GROUP BY
  * oracle — stream/batch parity is exactly the guarantee Structured
  * Streaming is supposed to give, so it is gateable.
  */
object QueriesStreaming {
  import Queries.Q
  import QueriesSimilarity.{fullTier, idVectors, pqTier, querySample, twoTierServe}
  import QueriesText.{docBucketsSql, md5Bits32Sql, normSql, plantedArrivals,
    plantedDeltaSql, storeCorpusSql, storeDeltaSigCtes, storeNearCtes, zzQq}
  import graft.operators.Sampling.hashBucket

  /** A directory a file-stream source can watch for `$dir/$name`: the
    * testdata fixtures are single parquet FILES (exposed through a
    * repo-scratch symlink dir), while Spark-written datasets — e.g. the
    * ScaleUp probe corpora — are DIRECTORIES and stream directly. A
    * directory SYMLINK must never be used: the source lists zero files
    * through it, and the query silently streams nothing (caught by the
    * round-5 10× probe — q45/q68/q110 "ran" in 0.2 s because they
    * processed an empty stream; round 4's sf1.0 streaming numbers had
    * the same flaw). */
  private[graft] def streamableDir(dir: String, name: String, tag: String): String = {
    val target = java.nio.file.Paths.get(s"$dir/$name")
    if (java.nio.file.Files.isDirectory(target)) target.toString
    else Scratch.session(tag, dir) { watch =>
      // keyed on the data dir's FULL path: two dirs that share a
      // basename (two `sf0.1` copies) each stream their own file
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(watch, name), target)
      watch
    }
  }

  // ----------------------------------- shared dedup-ingest gate parts
  /** The dedup store's corpus: the `documents` in hash buckets 0–7. */
  private[graft] def storeCorpus(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .filter(hashBucket(col("doc_id"), 10) < 8)
      .select(col("doc_id"), col("text"))

  /** The planted arrivals ([[QueriesText.plantedArrivals]], ` zz qq`
    * near copies) of `documents.parquet`, read as a file stream from
    * the watch dir `tag`. */
  private def streamedArrivals(s: SparkSession, dir: String, tag: String): DataFrame = {
    val file = s"$dir/documents.parquet"
    val watch = streamableDir(dir, "documents.parquet", tag)
    plantedArrivals(s.readStream.schema(s.read.parquet(file).schema).parquet(watch)
      .withColumn("b", hashBucket(col("doc_id"), 10)), "doc_id", "text", zzQq)
  }

  /** The four `(dup_exact, dup_near)` verdict classes of `flags`, each
    * with its row count and id sum. */
  private def verdictClasses(flags: DataFrame): DataFrame = {
    import flags.sparkSession.implicits._
    flags.groupBy($"dup_exact", $"dup_near")
      .agg(count(lit(1)).as("n_docs"), sum($"id").as("id_sum"))
      .orderBy($"dup_exact", $"dup_near")
  }

  /** q128/q132/q198's verdict tail: the verdict stream `flags` run
    * through its micro-batches into the memory sink `name`, then
    * [[verdictClasses]]. */
  private def streamVerdictClasses(s: SparkSession, flags: DataFrame,
                                   name: String): DataFrame = {
    EventStreams.runMicroBatches(s)(flags.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    )
    verdictClasses(s.table(name))
  }

  // ---------------------------------------------------------------- q45
  /** File-stream → tumbling 1 h event-time windows per event_type →
    * memory sink in Complete mode (all windows emitted; the watermark
    * drops nothing on a finite replay) → read back as a batch frame.
    * Window starts surface as epoch seconds (never raw timestamps).
    *
    * The timestamp repair is [[Tables.repairTs]] — schema-adaptive, so
    * it survives the testdata flipping between ns-as-INT64 and native
    * µs TIMESTAMP encodings (it did, in round 7). */
  val q45StreamWindow: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/events.parquet"
    val watch = streamableDir(dir, "events.parquet", "q45_events")
    // driver-side schema peek (footer metadata only, not a data scan) —
    // a streaming source cannot infer
    val schema = s.read.parquet(file).schema
    val stream = Tables.repairTs(s.readStream.schema(schema).parquet(watch))
    val name = s"q45_win_${System.nanoTime()}"
    EventStreams.runMicroBatches(s)(EventStreams.windowedTypeCounts(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    )
    s.table(name)
      .select(unix_timestamp($"window_start").as("ws"),
        $"event_type", $"n", $"value_sum")
      .orderBy($"ws", $"event_type")
  }
  val q45Sql: String =
    """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS ws,
      |  event_type, count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Gap-based sessionization through the custom-state operator
    * ([[EventStreams.sessionize]], `flatMapGroupsWithState`) run in
    * batch mode — semantics identical to streaming minus timeouts. The
    * oracle is the classic SQL shape (lag → break flag → running sum →
    * group), so the stateful fold is proven against relational
    * sessionization. Deterministic because (user_id, millisecond) is
    * unique in the fixture: the event-time sort inside the operator is
    * a total order. Boundaries surface as epoch millis. */
  val q46Sessionize: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_type", $"value")
      .as[EventStreams.Event]
    EventStreams.sessionize(ev, gapMs = 43200000L).toDF()
      .select($"user_id", unix_millis($"session_start").as("start_ms"),
        unix_millis($"session_end").as("end_ms"), $"n_events",
        round($"value_sum", 2).as("value_sum"))
      .orderBy($"user_id", $"start_ms")
  }
  val q46Sql: String = islandSessionSql(">")

  /** The relational sessionize oracle of q46 and q80 (lag → break flag
    * → running sum → group): a gap `breakOp` 12 h after its
    * predecessor starts a new session. */
  private def islandSessionSql(breakOp: String): String =
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
      |g AS (SELECT user_id, ms, value,
      |        CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) $breakOp 43200000
      |             THEN 1 ELSE 0 END AS brk
      |      FROM ev),
      |sess AS (SELECT user_id, ms, value,
      |           sum(brk) OVER (PARTITION BY user_id ORDER BY ms
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |         FROM g)
      |SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
      |       count(*) AS n_events, round(sum(value), 2) AS value_sum
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Click→purchase attribution (the bounded-state stream-stream
    * interval join) run on batch frames: one row per click–purchase
    * pair of the same user with the click inside the 1 h window before
    * the purchase. Pure join — no float aggregation — so the gate is
    * exact; event times surface as epoch millis. */
  val q47Attribution: Q = (s, dir) => {
    import s.implicits._
    // truncate to millis first: the oracle compares epoch-ms values, so
    // a µs-precision boundary exactly 1 h apart must not classify
    // differently between engines
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    EventStreams.clickPurchaseAttribution(ev, horizon = "1 hour")
      .select($"user_id",
        unix_millis($"click_ts").as("click_ms"),
        unix_millis($"purchase_ts").as("purchase_ms"),
        round($"click_value", 2).as("click_value"),
        round($"purchase_value", 2).as("purchase_value"))
      .orderBy($"user_id", $"purchase_ms", $"click_ms")
  }
  val q47Sql: String =
    """WITH c AS (SELECT user_id, epoch_ms(ts) AS click_ms, value AS click_value
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_ms(ts) AS purchase_ms, value AS purchase_value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, c.click_ms, p.purchase_ms,
      |       round(c.click_value, 2) AS click_value,
      |       round(p.purchase_value, 2) AS purchase_value
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c.click_ms <= p.purchase_ms
      |  AND c.click_ms >= p.purchase_ms - 3600000
      |ORDER BY p.user_id, p.purchase_ms, c.click_ms""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Unattributed-conversion report: the LEFT OUTER interval join
    * ([[EventStreams.clickPurchaseAttributionOuter]]) in batch mode —
    * every purchase, with its in-horizon clicks or null when none. Null
    * click columns are labeled (-1) before ordering: Spark sorts nulls
    * first, DuckDB last, and the gate must not depend on that. */
  val q72AttributionOuter: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    EventStreams.clickPurchaseAttributionOuter(ev, horizon = "1 hour")
      .select($"user_id",
        coalesce(unix_millis($"click_ts"), lit(-1L)).as("click_ms"),
        unix_millis($"purchase_ts").as("purchase_ms"),
        round(coalesce($"click_value", lit(-1.0)), 2).as("click_value"),
        round($"purchase_value", 2).as("purchase_value"))
      .orderBy($"user_id", $"purchase_ms", $"click_ms")
  }
  val q72Sql: String =
    """WITH c AS (SELECT user_id, epoch_ms(ts) AS click_ms, value AS click_value
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_ms(ts) AS purchase_ms, value AS purchase_value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, coalesce(c.click_ms, -1) AS click_ms, p.purchase_ms,
      |       round(coalesce(c.click_value, -1.0), 2) AS click_value,
      |       round(p.purchase_value, 2) AS purchase_value
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.click_ms <= p.purchase_ms
      |  AND c.click_ms >= p.purchase_ms - 3600000
      |ORDER BY p.user_id, p.purchase_ms, click_ms""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Native `session_window` sessionization
    * ([[EventStreams.sessionWindowAgg]]) in batch mode, against the SAME
    * relational island oracle as q46 — proving the built-in
    * merging-window aggregate, the custom flatMapGroupsWithState fold,
    * and the lag/running-sum SQL all implement one semantics. */
  val q80SessionWindow: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis($"ts")))
    EventStreams.sessionWindowAgg(ev, gapMs = 43200000L)
      .select($"user_id", unix_millis($"session_start").as("start_ms"),
        unix_millis($"session_end").as("end_ms"), $"n_events",
        round($"value_sum", 2).as("value_sum"))
      .orderBy($"user_id", $"start_ms")
  }
  /** q46's island oracle with a `>=` break: Spark's session windows
    * are half-open `[ts, ts+gap)`, so an event EXACTLY gap after its
    * predecessor starts a new session (the custom q46 operator keeps
    * it — the two agree except on exact-boundary data). */
  val q80Sql: String = islandSessionSql(">=")

  // ---------------------------------------------------------------- q68
  /** Streaming exact dedup: the events FILE STREAM deduplicated on
    * (event_type, user_id) with `dropDuplicates` state, then aggregated
    * per type in Complete mode — count plus a user-id checksum, so the
    * gate fails if dedup keeps any key twice or drops one. The oracle is
    * batch SELECT DISTINCT. (The watermark-bounded variant
    * `dedupWithinWatermark` is spec-gated — its keep-set depends on
    * arrival batches, which a batch oracle cannot restate.) */
  val q68StreamDedup: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/events.parquet"
    val watch = streamableDir(dir, "events.parquet", "q68_events")
    val schema = s.read.parquet(file).schema
    val stream = s.readStream.schema(schema).parquet(watch)
      .select($"event_type", $"user_id")
      .dropDuplicates("event_type", "user_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"), sum($"user_id").as("user_sum"))
    val name = s"q68_dedup_${System.nanoTime()}"
    EventStreams.runMicroBatches(s)(stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    )
    s.table(name).orderBy($"event_type")
  }
  val q68Sql: String =
    """SELECT event_type, count(*) AS n_users,
      |       CAST(sum(user_id) AS BIGINT) AS user_sum
      |FROM (SELECT DISTINCT event_type, user_id FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Streaming ingest deduplicated against a STATIC store — the
    * continuous face of q107's snapshot ingest, and the oracle gate for
    * the stream-static join surface ([[EventStreams.enrich]] is the
    * spec-gated enrichment face): documents arrive as a file stream
    * (unioned with a re-crawl copy, so the in-stream dedup state is
    * genuinely exercised), each row fingerprints in the scan, a
    * stream-static broadcast LEFT ANTI join drops fingerprints the
    * corpus store already holds (each micro-batch probes the broadcast
    * map; the static side never shuffles the stream and keeps NO state
    * store), and `dropDuplicates` on the fingerprint admits each novel
    * text once. The output aggregates fingerprint-derived values only
    * (count + first-32-bit checksum per fp hex prefix), so it is
    * arrival-order-independent — WHICH twin of a duplicate survives is
    * racy, its fingerprint is not; that is what makes a streaming dedup
    * gateable against a batch DISTINCT oracle. */
  val q110StreamIngest: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/documents.parquet"
    val watch = streamableDir(dir, "documents.parquet", "q110_docs")
    val schema = s.read.parquet(file).schema
    // static corpus store: fingerprints of md5 buckets 0-7 (as in q107)
    val storeFp = s.read.parquet(file)
      .filter(graft.operators.Sampling.hashBucket($"doc_id", 10) < 8)
      .select(graft.functions.TextAnalysis.fingerprint($"text").as("fp"))
      .distinct()
    def arriving = s.readStream.schema(schema).parquet(watch)
      .select(graft.functions.TextAnalysis.fingerprint($"text").as("fp"))
    val stream = arriving.union(arriving) // re-crawl: every text twice
      .join(broadcast(storeFp), Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .groupBy(substring($"fp", 1, 1).as("bucket"))
      .agg(count(lit(1)).as("n_accepted"),
        sum(conv(substring($"fp", 1, 8), 16, 10).cast("long")).as("fp_sum"))
    val name = s"q110_ingest_${System.nanoTime()}"
    EventStreams.runMicroBatches(s)(stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete()).start()
    )
    s.table(name).orderBy($"bucket")
  }
  val q110Sql: String =
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |sfp AS (
       |  SELECT DISTINCT md5($normSql) AS fp
       |  FROM bkt WHERE bk < 8),
       |novel AS (
       |  SELECT DISTINCT md5($normSql) AS fp
       |  FROM documents
       |  WHERE md5($normSql)
       |        NOT IN (SELECT fp FROM sfp))
       |SELECT substr(fp, 1, 1) AS bucket, count(*) AS n_accepted,
       |       CAST(sum(${md5Bits32Sql("fp")}) AS BIGINT) AS fp_sum
       |FROM novel GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Streaming NEAR-dup ingest against the persisted dedup store — the
    * r6-verdict extension of q110 (exact-fingerprint only) and the
    * continuous face of q107's snapshot classification
    * ([[graft.operators.TextDedup.ingestFlags]]): documents arrive as a
    * file stream carrying q107's planted delta
    * ([[QueriesText.plantedArrivals]]) — novel docs (md5
    * buckets 8–9), exact corpus copies (`dup_exact`), PERTURBED corpus
    * copies with a ` zz qq` suffix (NON-identical text, so only the
    * MinHash band path can catch them → `dup_near`), and in-shard
    * copies of novel docs (caught by neither flag — the store never saw
    * them). Per micro-batch every doc is fingerprinted and MinHash-
    * signed STATELESSLY ([[graft.operators.TextDedup.rowMinHashCols]] —
    * per-row array_min lanes, provably equal to the grouped min), its
    * band keys stream-static-join the BROADCAST store band table, lane
    * agreement ≥ 4/8 verifies candidates, and one streaming aggregation
    * folds band rows to per-doc verdicts. The gate groups verdicts into
    * the four (dup_exact, dup_near) classes with id checksums; the
    * planted near-dups populate the (false,true) class, so a broken
    * band join, lane disagreement, or missed store hit moves whole
    * classes. The oracle replays fingerprints, signatures, banding,
    * agreement, and classification in SQL. */
  val q128StreamNearDup: Q = (s, dir) => {
    val delta = streamedArrivals(s, dir, "q128_docs")
    val (storeFp, storeSig) = graft.operators.TextDedup
      .buildDedupStore(storeCorpus(s, dir), "doc_id", "text", shingleN = 5, k = 8)
    // eager-materialize the store tables: a stream-static join re-reads
    // its static side EVERY micro-batch, and the signature build is a
    // corpus scan + shingle explode we must not repeat per batch
    val sFp = storeFp.localCheckpoint()
    val sSig = storeSig.localCheckpoint()
    val flags = graft.operators.TextDedup.ingestFlags(delta, "doc_id", "text",
      sFp, sSig, shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
    streamVerdictClasses(s, flags, s"q128_neardup_${System.nanoTime()}")
  }
  val q128Sql: String = nearDupIngestSql("TRUE")
  /** ONE oracle text for q128/q132/q189/q198 — near-dup ingest
    * classification against the corpus store, with the store built
    * from the corpus docs satisfying `liveWhere` (q189 deletes the
    * complement; q128/q132 keep everything). The PLANTED DELTA
    * ([[QueriesText.plantedDeltaSql]]) is always built from the FULL
    * corpus — deleted docs' copies still arrive and must classify
    * against the shrunken store. */
  private def nearDupIngestSql(liveWhere: String): String =
    s"""WITH bkt AS (
       |  $docBucketsSql),
       |corpus AS ($storeCorpusSql),
       |live AS (SELECT doc_id, text FROM corpus WHERE $liveWhere),
       |delta AS (
       |$plantedDeltaSql),
       |${storeDeltaSigCtes("live")},
       |${storeNearCtes("cand", "near")},
       |verdicts AS (
       |  SELECT f.id,
       |    sf.fp IS NOT NULL AS dup_exact,
       |    nr.id IS NOT NULL AS dup_near
       |  FROM (SELECT doc_id AS id, md5($normSql) AS fp FROM delta) f
       |  LEFT JOIN sfp sf ON f.fp = sf.fp
       |  LEFT JOIN near nr ON f.id = nr.id)
       |SELECT dup_exact, dup_near, count(*) AS n_docs,
       |       CAST(sum(id) AS BIGINT) AS id_sum
       |FROM verdicts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q132
  /** q128's classification with the BUCKETED (non-broadcast) store —
    * the scale variant for a corpus store that has outgrown the
    * driver's broadcast budget
    * ([[graft.operators.TextDedup.ingestFlagsBucketed]]): the store's
    * fingerprint / band-key / signature tables are written ONCE as
    * bucketed external tables hashed on their join columns
    * ([[graft.operators.TextDedup.writeDedupStoreBucketed]]), and each
    * arriving micro-batch stream-static-joins them with NO broadcast —
    * the static sides read pre-partitioned (exchange-free, pinned by
    * `PlanShapeSpec`), only the arriving rows shuffle onto the join
    * keys. Same planted delta, same verdict classes, same oracle as
    * q128 — the two paths must agree exactly; what changes is only the
    * physical store transport. */
  val q132StreamNearDupBucketed: Q = (s, dir) => {
    val delta = streamedArrivals(s, dir, "q132_docs")
    val prefix = s"q132_store_${new java.io.File(dir).getName.replace('.', '_')}"
    // session-owned store ([[Scratch.session]]): a production ingest
    // service builds the corpus store ONCE and serves every later
    // micro-batch from it — the steady number models that; Bench
    // clears the session before cold passes so cold carries the build
    val store = Scratch.session("q132_store", dir) { d =>
      val path = s"$d/store"
      graft.operators.TextDedup.writeDedupStoreBucketed(
        storeCorpus(s, dir), "doc_id", "text", shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = prefix, pathPrefix = path, buckets = 8)
      path
    }
    val flags = graft.operators.TextDedup.ingestFlagsBucketed(
      delta, "doc_id", "text", prefix, store,
      shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
    streamVerdictClasses(s, flags, s"q132_neardup_${System.nanoTime()}")
  }

  // ---------------------------------------------------------------- q189
  /** Dedup store DELETE
    * ([[graft.operators.TextDedup.deleteFromDedupStore]]) — the
    * removal verb on the near-dup corpus store: the q132 bucketed
    * store is built, every `doc_id % 5 = 1` corpus document is
    * tombstoned (O(|ids|) append; all three tables are per-document
    * rows, so read-time anti-joins are exactly a rebuild without the
    * ids), and the planted delta ([[QueriesText.plantedArrivals]]) —
    * built from the FULL corpus, so
    * deleted docs' exact and perturbed copies still arrive — must
    * classify against the SHRUNKEN store: copies of deleted docs lose
    * their dup_exact/dup_near flags, everything else keeps its
    * verdict. The oracle is the shared q128 text with the store built
    * from the live (non-deleted) corpus. The gate then compacts the
    * store ([[graft.operators.TextDedup.compactDedupStore]] — the
    * tombstones folded into a rewritten generation) and requires the
    * SAME verdicts from the compacted store: compaction must be
    * invisible to ingest. Batch-frame ingest (the ingestCore
    * batch/stream contract); q128/q132 cover the streaming transports. */
  val q189DedupDelete: Q = (s, dir) => {
    import s.implicits._
    val corpus = storeCorpus(s, dir)
    val delta = plantedArrivals(s.read.parquet(s"$dir/documents.parquet")
      .withColumn("b", hashBucket($"doc_id", 10)), "doc_id", "text", zzQq)
    val name = s"q189_store_${new java.io.File(dir).getName.replace('.', '_')}"
    def flags(p: String, path: String) = verdictClasses(graft.operators.TextDedup
      .ingestFlagsBucketed(delta, "doc_id", "text", p, path,
        shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4))
    // session-owned lifecycle cache (the q142 contract, r14 verdict #2):
    // build + tombstone + the tombstoned-read classification + compact
    // + the compaction-invariance check run ONCE per session (that
    // whole sequence IS the lifecycle cold passes price); steady
    // passes classify the same delta against the COMPACTED store —
    // identical verdicts by the very invariance the builder asserts
    val store = Scratch.session("q189_store", dir) { d =>
      val path = s"$d/store"
      graft.operators.TextDedup.writeDedupStoreBucketed(corpus, "doc_id",
        "text", shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = name, pathPrefix = path, buckets = 8)
      graft.operators.TextDedup.deleteFromDedupStore(s, path,
        corpus.filter($"doc_id" % 5 === 1).select($"doc_id"))
      // two collects on purpose, NOT a compute-once candidate: the
      // first materializes the verdicts BEFORE the compaction mutates
      // the store, the second re-evaluates the (lazy) frame AGAINST the
      // compacted store — the pair IS the compaction-invariance check
      val tombstoned = flags(name, path).collect().toSeq
      graft.operators.TextDedup.compactDedupStore(s, name, path, buckets = 8)
      require(flags(name, path).collect().toSeq == tombstoned,
        "compaction changed ingest verdicts")
      path
    }
    flags(name, store)
  }
  val q189Sql: String = nearDupIngestSql("doc_id % 5 <> 1")

  // ---------------------------------------------------------------- q198
  /** STREAMING ingest against a TOMBSTONED dedup store — q132's
    * bucketed stream-static transport composed with
    * [[graft.operators.TextDedup.deleteFromDedupStore]]: the corpus
    * store is built, every `doc_id % 5 = 1` document tombstoned, and
    * the planted delta ([[QueriesText.plantedArrivals]]) then arrives
    * as a real file stream (the
    * q132 transport) — every micro-batch's static-side reads must apply the
    * tombstone anti-joins (still exchange-free on the bucketed
    * layout), so copies of deleted docs lose their flags exactly as in
    * the batch-frame gate. Oracle = q189's (the shared q128 text with
    * the live-store filter); q189 covers the batch frame + compaction,
    * this covers the streaming transport. */
  val q198StreamDedupDelete: Q = (s, dir) => {
    import s.implicits._
    val delta = streamedArrivals(s, dir, "q198_docs")
    val corpus = storeCorpus(s, dir)
    val p = s"q198_store_${new java.io.File(dir).getName.replace('.', '_')}"
    // session-owned lifecycle cache (the q142 contract, r14 verdict #2):
    // store build + tombstoning run ONCE per session; steady passes
    // price the STREAMING transport against the tombstoned store (the
    // thing this gate exists to cover), cold passes the full lifecycle
    val store = Scratch.session("q198_store", dir) { d =>
      val path = s"$d/store"
      graft.operators.TextDedup.writeDedupStoreBucketed(corpus, "doc_id",
        "text", shingleN = 5, k = 8, rowsPerBand = 2,
        namePrefix = p, pathPrefix = path, buckets = 8)
      graft.operators.TextDedup.deleteFromDedupStore(s, path,
        corpus.filter($"doc_id" % 5 === 1).select($"doc_id"))
      path
    }
    val flags = graft.operators.TextDedup.ingestFlagsBucketed(
      delta, "doc_id", "text", p, store,
      shingleN = 5, k = 8, rowsPerBand = 2, minAgree = 4)
    streamVerdictClasses(s, flags, s"q198_deldup_${System.nanoTime()}")
  }

  // ---------------------------------------------------------------- q201
  /** STREAMING two-tier ingest with an INTERLEAVED takedown — the q187
    * transport composed with [[graft.operators.PqIndex
    * .deleteFromTwoTier]]/[[graft.operators.PqIndex.compactTwoTier]]:
    * a base two-tier store is built, the delta arrives over four
    * micro-batches of [[graft.operators.PqIndex.appendToTwoTier]],
    * and BETWEEN batches (after batch 1) a delete of `id % 10 = 3`
    * base rows commits and compacts — the
    * right-to-be-forgotten-during-continuous-ingest shape. Append ≡
    * rebuild and delete ≡ rebuild-without-ids compose, so the end
    * state must serve identically to a direct build over
    * (base ∪ delta) ∖ deleted with the SAME base-fitted models — the
    * oracle replays exactly that (q146's text with the live filter).
    * Batch replay guard: per-batch marker ([[replayGuardedBatches]])
    * + [[twoTierReplayAppend]]'s ALL-delta-ids presence check against
    * the full tier; this single-session gate cannot crash mid-append,
    * and the torn-append windows of the store itself are
    * `StoreLifecycleSpec`'s contract. */
  val q201StreamTwoTierDelete: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/embeddings.parquet"
    val e = idVectors(s.read.parquet(file))
    val storeBase = Scratch.session("graft_q201", dir) { b =>
      val stream = stagedMultiBatchStream(s, file, b,
        _.filter(col("vec_id") % 10 === 9))
      val p = b + "/store"
      seedTwoTier(s, e.filter($"id" % 10 < 9), p)
      replayGuardedBatches(s, stream, b, b, "tt") { (batch, batchId) =>
        twoTierReplayAppend(s, idVectors(batch), p)
        // the INTERLEAVE: a takedown commits between micro-batches
        // (deleted ids are base rows, disjoint from every delta,
        // so the tombstone→compact cycle can never hide arrivals).
        // Deliberately OUTSIDE the empty-delta guard: repartition
        // can emit an empty part file, and skipping the takedown
        // on an empty batch 1 would silently diverge from the
        // live-filtered oracle; the tombstone append and eager
        // rebuild are idempotent for these fixed base ids.
        if (batchId == 1) {
          PqIndex.deleteFromTwoTier(s, p,
            e.filter($"id" % 10 === 3).select($"id"))
          PqIndex.compactTwoTier(s, p)
        }
      }
      b
    }
    twoTierServe(s, e, storeBase + "/store").orderBy($"q_id", $"rank")
  }

  // ---------------------------------------------------------------- q202
  /** STREAMING NSW ingest with an INTERLEAVED takedown — q187's
    * transport + replay guard composed with [[graft.operators
    * .NswIndex.deleteFromNsw]] (the EAGER cell-local rebuild — the
    * graph tier cannot lazy-tombstone): after batch 1's append
    * commits, `id % 10 = 3` base vectors are deleted (affected flat
    * partitions rewritten, their graph rows and entry points
    * recomputed, new generation committed), and the remaining batches
    * keep appending against the post-delete state. Every verb
    * preserves store ≡ rebuild-of-current-live-set, so the final walk
    * must equal a graph built directly on (base ∪ delta) ∖ deleted
    * under the same centroids — q186's oracle with the live filter. */
  val q202StreamNswDelete: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/embeddings.parquet"
    val e = idVectors(s.read.parquet(file))
    val base = Scratch.session("graft_q202", dir) { b =>
      val stream = stagedMultiBatchStream(s, file, b,
        _.filter(col("vec_id") % 10 === 9))
      val nswDir = b + "/nsw"
      val flatDir = b + "/flat"
      seedNsw(s, e.filter($"id" % 10 < 9), flatDir, nswDir)
      replayGuardedBatches(s, stream, b, b, "nsw") { (batch, batchId) =>
        nswReplayAppend(s, idVectors(batch), flatDir, nswDir)
        // the INTERLEAVE: an eager delete+rebuild generation
        // commits between micro-batches (base ids only, disjoint
        // from every delta). OUTSIDE the empty-delta guard — an
        // empty batch 1 part file must not silently skip the
        // takedown (the delete+rebuild is idempotent for these
        // fixed base ids).
        if (batchId == 1)
          NswIndex.deleteFromNsw(s, flatDir, nswDir,
            e.filter($"id" % 10 === 3).select($"id"), degree = 4): Unit
      }
      b
    }
    nswServe(s, e, base)
  }

  // ---------------------------------------------------------------- q207
  /** STREAMING codebook REFIT during ingest — q201's transport with
    * the q204 remedy interleaved: a base two-tier store (NO tuning —
    * this also gates [[graft.operators.PqIndex.refitTwoTier]]'s
    * untuned branch, which q204/q206 do not cover) ingests the delta
    * over four KEYED micro-batches (batch k = the `(id div 10) % 4 =
    * k` slice of the delta — [[keyedMultiBatchStream]]; the
    * hash-arbitrary repartition split would make the fit set
    * unreplayable); after batch 1's append lands, `refitTwoTier`
    * commits a NEW generation — codebooks refit over exactly
    * base ∪ batches 0-1, coarse centroids kept, `codebook_fit`
    * baseline reset — and batches 2-3 append THROUGH THE MANIFEST
    * SWAP, encoding under the refit codebooks. End state: every live
    * row carries refit-codebook codes (the refit re-encoded the early
    * rows, the post-swap appends encoded the late ones), so the ADC
    * serve replay + the reset baseline pin the whole
    * generation-swap-during-live-ingest shape on one hash. Same
    * single-session replay-guard caveat as q201. */
  val q207StreamTwoTierRefit: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/embeddings.parquet"
    val e = idVectors(s.read.parquet(file))
    val storeBase = Scratch.session("graft_q207", dir) { b =>
      val stream = keyedMultiBatchStream(s, file, b,
        _.filter(col("vec_id") % 10 === 9),
        expr("vec_id div 10") % 4)
      val p = b + "/store"
      seedTwoTier(s, e.filter($"id" % 10 < 9), p)
      replayGuardedBatches(s, stream, b, b, "ttrf") { (batch, batchId) =>
        twoTierReplayAppend(s, idVectors(batch), p)
        // the INTERLEAVE: the refit generation commits between
        // micro-batches. OUTSIDE the empty-delta guard (the q201
        // contract): an empty batch-1 part file must not skip
        // the refit, or batches 2-3 silently encode under the
        // base codebooks and diverge from the refit-fit oracle.
        if (batchId == 1)
          PqIndex.refitTwoTier(s, p, m = 4, subDim = 16, ks = 16,
            iterations = 1)
      }
      b
    }
    val serve = twoTierServe(s, e, storeBase + "/store")
      .select(lit("serve").as("phase"), $"q_id", $"rank", $"n_id",
        $"ad2", $"d2", lit(null).cast("double").as("mean_qerr"),
        lit(null).cast("long").as("n_rows"))
    val baseline = s.read.parquet(s"${storeBase}/store/codebook_fit")
      .select(lit("fit_baseline").as("phase"),
        lit(null).cast("long").as("q_id"), lit(null).cast("int").as("rank"),
        lit(null).cast("long").as("n_id"),
        lit(null).cast("double").as("ad2"), lit(null).cast("double").as("d2"),
        $"mean_qerr", $"n_rows")
    serve.unionByName(baseline).orderBy($"phase", $"q_id", $"rank")
  }

  /** The base two-tier store of q201/q207 at `p`: k=8 coarse centroids
    * and 4×16 PQ codebooks, both fitted over `base`. */
  private def seedTwoTier(s: SparkSession, base: DataFrame, p: String): Unit = {
    val cent = IvfIndex
      .fitCentroids(s, base, k = 8, iterations = 1, orderedMean = true)
      .localCheckpoint()
    val indexed = IvfIndex.assign(base, cent).localCheckpoint()
    val (cb, codesIdx) = pqTier(s, base, indexed)
    PqIndex.saveTwoTier(cent, cb, codesIdx, fullTier(indexed), p)
  }

  /** The replay check of one two-tier batch (q201/q207): `delta` is
    * appended unless every one of its ids is already in the full tier
    * — a crash after the append's commit and before the batch marker
    * leaves all of them there. An empty delta appends nothing. */
  private def twoTierReplayAppend(s: SparkSession, delta: DataFrame,
                                  p: String): Unit = {
    if (!delta.isEmpty) {
      val (_, _, _, fullPrev) = PqIndex.loadTwoTier(s, p)
      val landedAll = delta.select(col("id"))
        .join(fullPrev.select(col("id")), Seq("id"), "left_anti")
        .isEmpty
      if (!landedAll)
        PqIndex.appendToTwoTier(s, delta, p, m = 4, subDim = 16): Unit
    }
  }

  /** Registry: name → (spark program, oracle sql). */
  // ---------------------------------------------------------------- q143
  /** STREAMING heavy hitters — continuous frequency monitoring over a
    * document stream: each micro-batch aggregates its own Misra-Gries
    * summary + row count (one k-entry row to the driver per batch),
    * and the driver folds batches with the SAME
    * [[graft.functions.MisraGriesAgg.mergeItems]] rule the batch
    * aggregator uses — the mergeable-summaries property (Agarwal et
    * al.) makes the fold over ANY batching a valid MG(k) of the whole
    * stream, so the accumulated summary is a guaranteed superset of
    * the ε-heavy keys seen so far. An on-demand EXACT verify pass
    * ([[graft.operators.HeavyHitters.verifyCandidates]], reading only
    * candidate rows) turns the running superset into the exact
    * answer — here issued once at end-of-stream, where it must equal
    * the batch q138 result on the same corpus (same oracle). State:
    * k entries + one counter, constant in stream length. */
  val q143StreamHeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/documents.parquet"
    val k = 20
    def initials(df: DataFrame): DataFrame = df
      .select(explode(regexp_extract_all(lower($"text"),
        lit("[a-z]+"), lit(0))).as("w"))
      .select(substring($"w", 1, 1).as("key"))
    Scratch.withTempDir("graft_q143") { base =>
      val staged = stagedMultiBatchStream(s, file, base, identity)
      val stream = initials(staged)
      val acc = new java.util.concurrent.atomic.AtomicReference[
        (Seq[graft.functions.MisraGriesAgg.Entry], Long)]((Seq.empty, 0L))
      EventStreams.runMicroBatches(s)(stream.writeStream
        .foreachBatch {
          (batch: Dataset[Row], _: Long) =>
            val r = batch.toDF()
              .agg(graft.functions.MisraGriesAgg(k, $"key").as("mg"),
                count(lit(1)).as("n")).head()
            val items = r.getStruct(0).getSeq[Row](0)
              .map(x => graft.functions.MisraGriesAgg.Entry(
                x.getString(0), x.getLong(1)))
            val n = r.getLong(1)
            acc.updateAndGet { case (cur, cn) =>
              (graft.functions.MisraGriesAgg.mergeItems(k, cur, items), cn + n)
            }: Unit
        }
        .start()
      )
      val (summary, n) = acc.get()
      graft.operators.HeavyHitters
        .verifyCandidates(initials(s.read.parquet(file)),
          summary.map(_.key), n, eps = 0.05)
        .withColumnRenamed("key", "ch")
        .orderBy($"ch")
        .localCheckpoint() // materialize before the scratch dir is deleted
    }
  }

  /** Shared multi-batch staging harness of q143/q166/q172/q173: copy
    * the (projected) source table as a 4-FILE corpus under a
    * run-unique base dir and open it with one file per micro-batch
    * (`maxFilesPerTrigger=1`), so gates exercise the real cross-batch
    * fold rather than a degenerate single batch (the shipped fixture
    * is one parquet file = one micro-batch). The corpus is staged at
    * `base/watch`; `base` is the caller's scratch dir (a
    * [[Scratch.withTempDir]] or [[Scratch.session]] dir), and callers
    * own `base/store` and `base/ckpt` beside it. */
  private def stagedMultiBatchStream(s: SparkSession, srcFile: String,
                                     base: String,
                                     project: DataFrame => DataFrame)
      : DataFrame = {
    val watch = base + "/watch"
    project(s.read.parquet(srcFile)).repartition(4).write.parquet(watch)
    val schema = s.read.parquet(watch).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(watch)
  }

  /** [[stagedMultiBatchStream]] with a DETERMINISTIC, SQL-replayable
    * batch split: one file per value of `key` (must range over
    * 0..3), staged with strictly increasing modification times so
    * `maxFilesPerTrigger=1` processes them oldest-first — batch k IS
    * the `key = k` slice. The repartition(4) split is hash-arbitrary,
    * fine for gates whose models never change mid-stream (q201/q202:
    * the end state is batch-split-independent), unusable when a
    * mid-stream verb's result depends on which rows arrived before it
    * (q207's refit fits codebooks over exactly the pre-refit
    * arrivals). */
  private[graft] def keyedMultiBatchStream(s: SparkSession, srcFile: String,
                                    base: String,
                                    project: DataFrame => DataFrame,
                                    key: org.apache.spark.sql.Column)
      : DataFrame = {
    val watch = new java.io.File(base + "/watch")
    watch.mkdirs(): Unit
    val src = project(s.read.parquet(srcFile))
    // The 0..3 key contract is load-bearing, not advisory: a key
    // expression that strays outside the range (or yields null) would
    // silently DROP those rows from the staged corpus, so the fit set
    // diverges from its oracle with no error — the exact
    // non-determinism this helper exists to eliminate. One count job
    // up front, cheap against the four staged writes that follow.
    val outOfRange = src
      .filter(key.isNull || key < 0 || key > 3).count()
    require(outOfRange == 0,
      s"keyedMultiBatchStream($base): key expression must range over " +
        s"0..3 but $outOfRange source rows fall outside (or are null) " +
        "— those rows would be silently dropped from the staged corpus")
    val now = System.currentTimeMillis()
    (0 until 4).foreach { k =>
      val stage = s"$base/stage$k"
      src.filter(key === k).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(watch, f"b$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath): Unit
      // FileStreamSource orders candidate files by modification time
      // (latestFirst=false): widely spaced stamps pin batch order even
      // on coarse-mtime filesystems
      dst.setLastModified(now - 40000L + k * 10000L): Unit
    }
    val schema = s.read.parquet(watch.toString).schema
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(watch.toString)
  }

  /** Runs `stream` to completion ([[EventStreams.runMicroBatches]],
    * checkpoint at `staging/ckpt`) with every batch under the
    * at-least-once replay guard of the store-building gates.
    * `foreachBatch` may run a batch again (a restart between the body
    * and the checkpoint commit), and these bodies append to persisted
    * stores, so a finished batch must not apply twice: batch `id` runs
    * `body(batch, id)` only while `markers` lacks the
    * `.<tag>_batch_<id>_applied` marker, and touches it once the body
    * returns. A crash INSIDE the body leaves no marker, so the next
    * attempt re-runs the whole body; a body whose appends cannot simply
    * re-run adds its own presence check ([[nswReplayAppend]],
    * [[twoTierReplayAppend]]). */
  private[graft] def replayGuardedBatches(s: SparkSession, stream: DataFrame,
                                          staging: String, markers: String,
                                          tag: String)(
      body: (DataFrame, Long) => Unit): Unit =
    EventStreams.runMicroBatches(s)(stream.writeStream
      .option("checkpointLocation", s"$staging/ckpt")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val marker = s".${tag}_batch_${batchId}_applied"
        if (!StoreFs.childNames(markers).contains(marker)) {
          body(batch.toDF(), batchId)
          StoreFs.touchMarker(markers, marker)
        }
      }
      .start())

  /** Same oracle as q138 — end-of-stream state must equal the batch
    * computation on the same corpus. */
  val q143Sql: String = QueriesText.q138Sql

  // ---------------------------------------------------------------- q154
  /** Streaming SCD type-2 maintenance ([[EventStreams.scd2Updates]],
    * `flatMapGroupsWithState`) run in batch mode, q46-style: per-user
    * keyed state holds only the OPEN dimension version; each arriving
    * attribute change closes the previous version as an immutable
    * append. The gate aggregates the emitted history with the SAME
    * per-user digest as q151 and replays the SAME oracle — the
    * stateful incremental build and the batch gaps-and-islands window
    * build ([[graft.operators.Scd2.buildHistory]]) are two engines for
    * one relational truth, which is exactly what makes the stateful
    * path trustworthy as the production CDC shape (state = one tiny
    * case class per live key; closed versions never revisited). */
  val q154StreamScd2: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("attr"))
      .as[EventStreams.AttrEvent]
    QueriesAnalytic.scd2Gate(EventStreams.scd2Updates(ev).toDF(),
      "attr", $"valid_from_us", $"valid_to_us".isNull)
  }

  // ---------------------------------------------------------------- q166
  /** Streaming sketch maintenance: the q153 t-digest lifecycle driven
    * by a real file stream — documents staged as 4 files, one
    * micro-batch each (`maxFilesPerTrigger=1`, the q143 multi-batch
    * contract), each batch's per-source digests appended to a
    * partitioned store through the IDEMPOTENT batch sink
    * ([[EventStreams.writeBatchIdempotent]]: a replayed batch
    * overwrites its own `batch_id` partition, so the store is
    * exactly-once-effective). The verification tail is byte-identical
    * to q153 ([[QueriesScale.digestFlagReport]]) and so is the oracle:
    * digests built incrementally across micro-batches must verify
    * exactly like the one-shot batch build — the mergeability of the
    * sketch IS the streaming story, nothing else changes. */
  val q166StreamDigest: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TDigest
    val file = s"$dir/documents.parquet"
    Scratch.withTempDir("graft_q166") { base =>
      val stream = stagedMultiBatchStream(s, file, base,
        _.select($"source", $"n_chars".cast("double").as("x")))
      val store = sinkBatchesIdempotent(s, stream, base)(
        _.groupBy(col("source")).agg(TDigest.digestAgg(col("x")).as("digest")))
      val docs = s.read.parquet(file)
        .select($"source", $"n_chars".cast("double").as("x"))
      QueriesScale.digestFlagReport(s,
        docs, s.read.parquet(store).select($"source", $"digest"))
    }
  }

  /** Runs `stream` to completion (checkpoint `base/ckpt`), appending
    * each batch's `perBatch` aggregate to `base/store` through the
    * idempotent batch sink ([[EventStreams.writeBatchIdempotent]]) —
    * the sketch-store gates q166 and q172. Returns the store path. */
  private def sinkBatchesIdempotent(s: SparkSession, stream: DataFrame, base: String)(
      perBatch: DataFrame => DataFrame): String = {
    val store = base + "/store"
    EventStreams.runMicroBatches(s)(stream.writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        EventStreams.writeBatchIdempotent(perBatch(batch.toDF()), batchId, store)
      }
      .start())
    store
  }

  // ---------------------------------------------------------------- q172
  /** Streaming EXACT distinct maintenance: the q165 bitmap lifecycle
    * driven by a file stream — events staged as 4 files, one
    * micro-batch each, every batch's per-(type, bucket) bitmaps
    * appended through the idempotent sink. The read side OR-merges
    * across batch partitions before counting; OR is idempotent, so
    * replayed batches and split batches both converge to the one
    * exact answer — the property that lets an EXACT distinct count be
    * maintained incrementally at all (a count or a sum could not be).
    * Same oracle as q165: plain `count(DISTINCT)`, no error bound. */
  val q172StreamBitmap: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/events.parquet"
    Scratch.withTempDir("graft_q172") { base =>
      val stream = stagedMultiBatchStream(s, file, base,
        _.select($"event_type", $"user_id"))
      val store = sinkBatchesIdempotent(s, stream, base)(
        _.select(col("event_type"),
            expr("bitmap_bucket_number(user_id)").as("bkt"),
            expr("bitmap_bit_position(user_id)").as("pos"))
          .groupBy(col("event_type"), col("bkt"))
          .agg(expr("bitmap_construct_agg(pos)").as("bm")))
      QueriesScale.bitmapDistinctReport(s,
        s.read.parquet(store).select($"event_type", $"bkt", $"bm"))
    }
  }

  // ---------------------------------------------------------------- q173
  /** Streaming materialized view
    * ([[EventStreams.materializedAggStore]]): per-user event count +
    * value sum maintained as a DURABLE generational parquet store
    * across 4 micro-batches — each batch folds its partial into the
    * previous generation and writes a complete new snapshot under its
    * own `batch_id` partition (dynamic overwrite ⇒ replay-idempotent;
    * every generation is a queryable point-in-time state any engine
    * can read, unlike state-store-resident totals). The gate reads the
    * final generation and must equal the plain batch GROUP BY — count
    * exact, float sum rounded (q45 precedent). */
  val q173MaterializedView: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/events.parquet"
    Scratch.withTempDir("graft_q173") { base =>
      val store = foldToAggStore(s,
        stagedMultiBatchStream(s, file, base, _.select($"user_id", $"value")),
        base, keyCols = Seq("user_id"),
        batchAggs = Seq(count(lit(1)).as("n"), sum($"value").as("v")),
        mergeAggs = Seq(sum($"n").as("n"), sum($"v").as("v")))
      // the gate run itself must end with a clean store, not just the
      // specs' engineered states: StoreDoctor's aggstore audit (pure
      // layout inspection — marker/data-dir names) runs on every pass
      // at every SF, so a torn or marker-orphaned generation the
      // stream left behind fails the gate loudly here
      val findings = graft.tools.StoreDoctor.auditAggStore(s, store)
        .filter(_.severity == "error")
      if (findings.nonEmpty) sys.error("q173: aggstore audit errors: " +
        findings.map(f => s"[${f.kind}] ${f.detail}").mkString("; "))
      EventStreams.latestGeneration(s, store)
        .getOrElse(sys.error("q173: empty store"))
        .select($"user_id", $"n".as("n_events"),
          round($"v", 2).as("value_sum"))
        .orderBy($"user_id")
        .localCheckpoint() // user-cardinality-sized; pre-cleanup
    }
  }
  val q173Sql: String =
    """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS value_sum
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Folds `stream` to completion into a
    * [[EventStreams.materializedAggStore]] at `base/store` (checkpoint
    * `base/ckpt`) — the stream → store → micro-batch run of the
    * aggregate-store gates q173, q177, q215 and q217. Returns the
    * store path. */
  private def foldToAggStore(s: SparkSession, stream: DataFrame, base: String,
                             keyCols: Seq[String],
                             batchAggs: Seq[org.apache.spark.sql.Column],
                             mergeAggs: Seq[org.apache.spark.sql.Column]): String = {
    val store = base + "/store"
    EventStreams.runMicroBatches(s)(EventStreams.materializedAggStore(stream,
      keyCols, batchAggs, mergeAggs, store = store, checkpoint = base + "/ckpt"))
    store
  }

  // ---------------------------------------------------------------- q215
  /** TIME-TRAVEL reads of the materialized-view store
    * ([[EventStreams.loadAggStoreAt]] /
    * [[EventStreams.committedAggGenerations]]) — the FOURTH store
    * family to take the q212/q213/q214 historic-read contract, made
    * cheap by the shared [[graft.sources.StoreFs]] surface: every
    * [[EventStreams.materializedAggStore]] generation is already a
    * COMPLETE point-in-time snapshot (each batch folds the previous
    * full state with its partial), so time travel is just
    * marker-committed discovery + the uniform unreadable refusal —
    * no tombstone overlay (the family has no delete verb).
    *
    * The q207 transport lesson applies in full: reading snapshots
    * AS OF a batch makes the batch SPLIT part of the semantics, so
    * the fixture stages one file per `event_id % 4` slice
    * ([[keyedMultiBatchStream]]) — batch k ≡ the key-k slice and
    * every generation is SQL-replayable as the aggregate over slices
    * 0..k. Values ride as integer cents (the q177 precedent) so the
    * per-generation checksums are exact across engines. Gate: one
    * compact row per generation (users / events / cents at that
    * point in time) + the live `gens` discovery row; the refusal and
    * vacuum semantics are spec-pinned (`MaterializedViewSpec`).
    *
    * Scale shape: each snapshot read is one partition-pruned parquet
    * read of a state-sized dir; the serve rows are metadata-sized
    * aggregates of key-cardinality frames; `gens` is one directory
    * listing. History cost is the store's own generational layout —
    * nothing extra is written to keep it readable. */
  val q215AggTimeTravel: Q = (s, dir) => {
    import s.implicits._
    Scratch.withTempDir("graft_q215") { base =>
      val (store, gens) = keyedCentsAggStore(s, dir, base, "q215")
      val gensRow = Seq((-1L, gens.size.toLong, gens.sum, 0L))
        .toDF("gen", "n_users", "n_events", "cents")
      generationTotals(s, store, gens).unionByName(gensRow).orderBy($"gen")
        .localCheckpoint() // 5 rows; pre-cleanup (store lives under base)
    }
  }

  /** The q215/q217 store: events staged one file per `event_id % 4`
    * slice ([[keyedMultiBatchStream]]: batch k ≡ the key-k slice) and
    * folded per user into `n` events and `c` integer cents (the q177
    * precedent: exact across engines). Returns the store and its 4
    * committed generations. */
  private def keyedCentsAggStore(s: SparkSession, dir: String, base: String,
                                 gate: String): (String, Seq[Long]) = {
    import s.implicits._
    val stream = keyedMultiBatchStream(s, s"$dir/events.parquet", base,
      _.select($"event_id", $"user_id",
        round($"value" * 100).cast("long").as("cents")),
      col("event_id") % 4)
    val store = foldToAggStore(s, stream, base, keyCols = Seq("user_id"),
      batchAggs = Seq(count(lit(1)).as("n"), sum($"cents").as("c")),
      mergeAggs = Seq(sum($"n").as("n"), sum($"c").as("c")))
    val gens = EventStreams.committedAggGenerations(store)
    require(gens == Seq(0L, 1L, 2L, 3L),
      s"$gate: expected 4 committed generations, got $gens")
    (store, gens)
  }

  /** One `(gen, n_users, n_events, cents)` row per generation of a
    * [[keyedCentsAggStore]], each read AS OF its generation. */
  private def generationTotals(s: SparkSession, store: String,
                               gens: Seq[Long]): DataFrame = {
    import s.implicits._
    gens.map { g =>
      EventStreams.loadAggStoreAt(s, store, Some(g))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum($"n").cast("long").as("n_events"),
          sum($"c").cast("long").as("cents"))
        .select(lit(g).as("gen"), $"n_users", $"n_events", $"cents")
    }.reduce(_ unionByName _)
  }
  val q215Sql: String = {
    val perGen = (0 to 3).map { g =>
      s"""  SELECT CAST($g AS BIGINT) AS gen,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |         CAST(count(*) AS BIGINT) AS n_events,
         |         CAST(sum(cents) AS BIGINT) AS cents
         |  FROM ev WHERE event_id % 4 <= $g""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ev AS (SELECT event_id, user_id,
       |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
       |SELECT gen, n_users, n_events, cents FROM (
       |$perGen
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(4 AS BIGINT), CAST(6 AS BIGINT),
       |         CAST(0 AS BIGINT))
       |ORDER BY gen""".stripMargin
  }

  // ---------------------------------------------------------------- q217
  /** KEYED RETRACTION from the materialized-view store
    * ([[EventStreams.retractFromAggStore]]) — the fourth family's
    * right-to-be-forgotten verb, closing the q215 asymmetry (r17
    * verdict #3: time travel made the store retain user-keyed
    * aggregates across generations forever while the other three
    * families had tombstone/ledger stories). The verb is
    * generation-scoped like the NSW deletion ledger — an append-only
    * overlay `(key, retracted_at_gen = newest committed + 1)`, never
    * an in-place snapshot rewrite (which would open the
    * marker-with-torn-data window the family defines as corruption) —
    * and every read of generation `g` scrubs keys with
    * `retracted_at_gen > g`: head and history forget immediately, the
    * stream's NEXT fold reads the scrubbed head so physical
    * forgetting rides the store's own write path, and a re-arriving
    * key returns with only post-retraction contributions.
    *
    * Fixture: the q215 keyed 4-batch store (batch k ≡ `event_id % 4 =
    * k`, integer cents), then retract every `user_id % 7 = 3` key.
    * Gate: one row per generation AFTER the retraction (users /
    * events / cents — each snapshot minus the retracted keys' rows,
    * SQL-replayable as the slice-prefix aggregate over surviving
    * users) + a meta row (count of retracted keys, live `gens`
    * discovery). The in-flight refusal, forward-fold physical
    * removal, re-arrival, vacuum release and torn-overlay semantics
    * are spec-pinned (`MaterializedViewSpec`).
    *
    * Scale shape: the overlay is retraction-sized and broadcast into
    * every snapshot read's anti-join; recording is one append;
    * nothing rewrites — the cost of forgetting is one small table
    * until vacuum retires the history that needed it. */
  val q217AggRetraction: Q = (s, dir) => {
    import s.implicits._
    Scratch.withTempDir("graft_q217") { base =>
      val (store, gens) = keyedCentsAggStore(s, dir, base, "q217")
      val nRetracted = EventStreams.retractFromAggStore(s, store,
        s.read.parquet(s"$dir/events.parquet").filter($"user_id" % 7 === 3)
          .select($"user_id"))
      val metaRow = Seq((-1L, nRetracted, gens.size.toLong, gens.sum))
        .toDF("gen", "n_users", "n_events", "cents")
      generationTotals(s, store, gens).unionByName(metaRow).orderBy($"gen")
        .localCheckpoint() // 5 rows; pre-cleanup (store lives under base)
    }
  }
  val q217Sql: String = {
    val perGen = (0 to 3).map { g =>
      s"""  SELECT CAST($g AS BIGINT) AS gen,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |         CAST(count(*) AS BIGINT) AS n_events,
         |         CAST(sum(cents) AS BIGINT) AS cents
         |  FROM live WHERE event_id % 4 <= $g""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ev AS (SELECT event_id, user_id,
       |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |live AS (SELECT * FROM ev WHERE user_id % 7 <> 3)
       |SELECT gen, n_users, n_events, cents FROM (
       |$perGen
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT),
       |         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ev
       |          WHERE user_id % 7 = 3),
       |         CAST(4 AS BIGINT), CAST(6 AS BIGINT))
       |ORDER BY gen""".stripMargin
  }

  // ---------------------------------------------------------------- q177
  /** Streaming EXACT order statistics: for a bounded integer domain
    * (cent-scaled values), the mergeable exact-quantile state is simply
    * the per-(key, value) FREQUENCY TABLE — counts add across batches,
    * so the [[EventStreams.materializedAggStore]] generational store
    * maintains it incrementally, and any quantile reads off a
    * cumulative walk of the (keys × distinct-values)-sized final state.
    * This is the streaming complement of q170's batch bracketing
    * selection: same exact answer, same oracle (q170's literal
    * row_number replay), but the heavy input is only ever scanned
    * batch-by-batch as it arrives. Domain boundedness is the real
    * contract — unbounded-domain streams take the t-digest lane (q166)
    * instead. */
  val q177StreamExactMedian: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/events.parquet"
    Scratch.withTempDir("graft_q177") { base =>
      val stream = stagedMultiBatchStream(s, file, base,
        _.select($"event_type",
          round($"value" * 100).cast("long").as("cents")))
      val store = foldToAggStore(s, stream, base,
        keyCols = Seq("event_type", "cents"),
        batchAggs = Seq(count(lit(1)).as("cnt")),
        mergeAggs = Seq(sum($"cnt").as("cnt")))
      val freq = EventStreams.latestGeneration(s, store)
        .getOrElse(sys.error("q177: empty store"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"cents")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      freq
        .withColumn("cum", sum($"cnt").over(w))
        .withColumn("n", sum($"cnt").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
        .withColumn("kth", ceil($"n" * 0.5).cast("long"))
        .where($"cum" >= $"kth")
        .groupBy($"event_type")
        .agg(first($"n").as("n"), first($"kth").as("kth"),
          min($"cents").as("value"))
        .orderBy($"event_type")
        .localCheckpoint() // type-cardinality-sized; pre-cleanup
    }
  }

  // ---------------------------------------------------------------- q187
  /** STREAMING NSW ingest — the graph tier's streaming maintenance
    * story, closing the symmetry with q128/q132 (near-dup stores) and
    * q166/q172 (sketch/bitmap stores): the 10% delta arrives as a real
    * file stream in 4 micro-batches (`maxFilesPerTrigger=1`), and each
    * batch is folded into BOTH persisted tiers — the flat IVF index
    * (vectors appended into their cluster partitions) and the NSW
    * graph ([[graft.operators.NswIndex.appendToNsw]], committed as a
    * new generation per batch). Because each append is EXACTLY
    * equivalent to a rebuild over everything-so-far (the q186
    * invariant), the composition is batch-split-invariant by
    * induction: the end-of-stream graph equals the one-shot build over
    * base ∪ delta regardless of how the stream chopped the delta — so
    * the oracle is q186's verbatim. The previous index snapshot is
    * localCheckpoint-pinned BEFORE the batch's files append, so the
    * merge never reads its own writes ([[nswReplayAppend]]). */
  val q187StreamNswIngest: Q = (s, dir) => {
    import s.implicits._
    val file = s"$dir/embeddings.parquet"
    val e = idVectors(s.read.parquet(file))
    // session-owned stream-built store (the q142 serving contract):
    // the 4-batch ingest runs once per session; steady bench passes
    // load+search the maintained store, cold passes re-ingest after
    // the [[Scratch.session]] clear
    val base = Scratch.session("graft_q187", dir) { b =>
      val stream = stagedMultiBatchStream(s, file, b,
        _.filter(col("vec_id") % 10 === 9))
      val nswDir = b + "/nsw"
      val flatDir = b + "/flat"
      seedNsw(s, e.filter($"id" % 10 < 9), flatDir, nswDir)
      // q187 has no interleaved delete, so the append is the whole
      // batch (an empty batch has genuinely nothing to do)
      replayGuardedBatches(s, stream, b, b, "nsw") { (batch, _) =>
        nswReplayAppend(s, idVectors(batch), flatDir, nswDir)
      }
      b
    }
    nswServe(s, e, base)
  }

  /** The base store of q187/q202: k=8 centroids fitted over `baseRel`,
    * its flat index at `flatDir` and its degree-4 NSW graph at
    * `nswDir`. */
  private def seedNsw(s: SparkSession, baseRel: DataFrame, flatDir: String,
                      nswDir: String): Unit = {
    val cent = IvfIndex
      .fitCentroids(s, baseRel, k = 8, iterations = 1, orderedMean = true)
      .localCheckpoint()
    val idxBase = IvfIndex.assign(baseRel, cent).localCheckpoint()
    IvfIndex.save(cent, idxBase, flatDir)
    NswIndex.saveNsw(NswIndex.fitGraph(idxBase, degree = 4),
      NswIndex.entryPoints(idxBase, cent), nswDir)
  }

  /** One batch's NSW + flat appends (q187/q202), safe to re-run.
    * `foreachBatch` is at-least-once and the appends are NOT naturally
    * idempotent (a replayed append would duplicate delta vectors in the
    * flat store and violate appendToNsw's disjoint-id precondition).
    * [[replayGuardedBatches]]'s marker skips fully applied replays;
    * for a crash INSIDE the batch, the delta ids are checked against
    * the pinned pre-batch flat snapshot. The NSW append runs FIRST and
    * is content-idempotent on identical (prev, delta) — append ≡
    * rebuild, so a re-run just commits an equal generation — while the
    * flat append runs LAST. ALL delta ids present in the flat snapshot
    * ⟺ both appends landed fully; a PARTIAL presence means the flat
    * parquet append's job commit was torn mid-crash — and since the
    * flat append only starts after appendToNsw's generation committed,
    * the repair is to append ONLY the missing rows (rows are per-id,
    * so this completes the delta exactly, no duplicates) and skip the
    * NSW re-append. An empty delta appends nothing. */
  private def nswReplayAppend(s: SparkSession, delta: DataFrame,
                              flatDir: String, nswDir: String): Unit = {
    if (!delta.isEmpty) {
      val (cent2, prevRaw) = IvfIndex.load(s, flatDir)
      // pin the pre-batch snapshot before this batch appends
      val prev = prevRaw.select(col("id"), col("v"), col("cluster"))
        .localCheckpoint()
      val missing = delta
        .join(prev.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint()
      if (!missing.isEmpty) {
        val anyPresent = !delta.select(col("id"))
          .join(prev, Seq("id"), "left_semi").isEmpty
        val idxMissing = IvfIndex.assign(missing, cent2).localCheckpoint()
        // clean replay (no delta rows landed): run both appends;
        // torn flat append (some landed): NSW already committed
        // this delta — only complete the flat side
        if (!anyPresent)
          NswIndex.appendToNsw(s, nswDir, prev, idxMissing, cent2, degree = 4)
        idxMissing.write.mode("append").partitionBy("cluster")
          .parquet(s"$flatDir/index")
      }
    }
  }

  /** q187/q202's serve: the top-5 NSW walk over the stream-built store
    * under `base` for the first ten vectors of `e`. */
  private def nswServe(s: SparkSession, e: DataFrame, base: String): DataFrame = {
    val (graph, entries) = NswIndex.loadNsw(s, base + "/nsw")
    val (centF, idxAll) = IvfIndex.load(s, base + "/flat")
    NswIndex.search(s, querySample(e), graph,
        idxAll.select(col("id"), col("v"), col("cluster")), centF, entries,
        k = 5, nProbe = 2, ef = 8, rounds = 2)
      .select(col("q_id"), col("rank"), col("n_id"), (col("cos") + 0.0).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(
    ("q45_stream_window", q45StreamWindow, Some(q45Sql)),
    ("q46_sessionize", q46Sessionize, Some(q46Sql)),
    ("q47_attribution", q47Attribution, Some(q47Sql)),
    ("q68_stream_dedup", q68StreamDedup, Some(q68Sql)),
    ("q72_attribution_outer", q72AttributionOuter, Some(q72Sql)),
    ("q80_session_window", q80SessionWindow, Some(q80Sql)),
    ("q110_stream_ingest", q110StreamIngest, Some(q110Sql)),
    ("q128_stream_neardup", q128StreamNearDup, Some(q128Sql)),
    ("q132_stream_neardup_bucketed", q132StreamNearDupBucketed, Some(q128Sql)),
    ("q143_stream_heavy_hitters", q143StreamHeavyHitters, Some(q143Sql)),
    // two implementations, one oracle: the stateful incremental build
    // must agree with the batch window build's relational replay
    ("q154_stream_scd2", q154StreamScd2, Some(QueriesAnalytic.q151Sql)),
    // incrementally-built digests must verify exactly like q153's
    ("q166_stream_digest", q166StreamDigest, Some(QueriesScale.q153Sql)),
    // incrementally-built bitmaps must count exactly like q165's
    ("q172_stream_bitmap", q172StreamBitmap, Some(QueriesScale.q165Sql)),
    ("q173_materialized_view", q173MaterializedView, Some(q173Sql)),
    ("q215_agg_time_travel", q215AggTimeTravel, Some(q215Sql)),
    ("q217_agg_retraction", q217AggRetraction, Some(q217Sql)),
    // stream-maintained frequency state must select the SAME exact
    // median as q170's batch bracketing: one oracle, two engines
    ("q177_stream_exact_median", q177StreamExactMedian,
      Some(QueriesAnalytic.q170Sql)),
    // per-batch exact appends compose to the one-shot build: q186's oracle
    ("q187_stream_nsw_ingest", q187StreamNswIngest,
      Some(QueriesSimilarity.q186Sql)),
    ("q189_dedup_delete", q189DedupDelete, Some(q189Sql)),
    // batch-frame q189 and the streaming transport must agree: one oracle
    ("q198_stream_dedup_delete", q198StreamDedupDelete, Some(q189Sql)),
    // stream appends + interleaved delete ≡ direct build minus ids
    ("q201_stream_twotier_delete", q201StreamTwoTierDelete,
      Some(QueriesSimilarity.q201Sql)),
    ("q202_stream_nsw_delete", q202StreamNswDelete,
      Some(QueriesSimilarity.q202Sql)),
    // stream appends + interleaved codebook refit ≡ fit over the
    // pre-refit arrivals, every live row encoded under the new fit
    ("q207_stream_twotier_refit", q207StreamTwoTierRefit,
      Some(QueriesSimilarity.q207Sql)),
  )
}
