package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface for the events feed.
  *
  * The reference is batch-only, but its chartevents table is event-time
  * data (`chartTime` vs `storeTime` — exactly Spark's event-time vs
  * processing-time split, `dataset_curation.ipynb:cell 46`); these
  * transforms are the streaming generalization the driver brief asks
  * for. Every transform below is expressed on a plain DataFrame, so the
  * SAME code runs in batch (tests, backfills) and via `readStream` →
  * `writeStream` in production — the Structured Streaming contract.
  *
  * Scale notes: watermarking bounds state; the windowed aggregation
  * partial-aggregates map-side before the keyed state store shuffle;
  * sessionization state is one small case class per active user, purged
  * on event-time timeout.
  */
object EventStreams {

  /** Run a micro-batch query to completion with STATE-SIZED shuffle
    * width (r20, guide §2.2 / VERDICT item 4): AQE is disabled inside
    * streaming micro-batches (Spark logs exactly that at stream
    * resolution), so every stateful operator inherits the session's
    * full `spark.sql.shuffle.partitions` — one state-store instance,
    * one delta file and one fsync PER PARTITION per operator per
    * batch, paid even when the whole state is a few KB. State width
    * should track STATE SIZE, not cluster width; these finite-replay
    * gates carry key cardinalities in the hundreds, so the default
    * narrows micro-batch shuffles to `graft.streaming.shufflePartitions`
    * (default 8 — production streams with wide state raise the conf;
    * it is read per call, never cached). The generational commit
    * protocol is untouched: same batches, same folds, same markers —
    * only the width of the per-batch exchanges changes, which the
    * bench's own 8-vs-32-cpu runs already prove result-neutral.
    * The previous conf value is restored even on failure.
    *
    * The narrowing is a SESSION-GLOBAL `spark.sql.shuffle.partitions`
    * set, held for the whole run: every query on the session sees the
    * narrowed width until the call returns. So the call is not safe for
    * concurrent use on one session — two overlapping calls, or a batch
    * query running beside one, read each other's width, and the later
    * restore can clobber the earlier. */
  def runMicroBatches(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    val target = spark.conf.getOption("graft.streaming.shufflePartitions")
      .getOrElse("8")
    // never WIDEN a session that is already narrower than the target
    val narrowed = math.min(target.toInt,
      prev.map(_.toInt).getOrElse(target.toInt)).toString
    spark.conf.set(key, narrowed)
    try {
      val query = start
      try query.processAllAvailable() finally query.stop()
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Event-time tumbling-window counts with a watermark: late rows
    * beyond `lateness` are dropped, state for closed windows is purged.
    * Works identically on batch input (watermark is a no-op there). */
  def windowedTypeCounts(events: DataFrame, windowLen: String = "1 hour",
                         lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("value_sum"))

  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, nEvents: Int, valueSum: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Int, value_sum: Double)

  /** Gap-based sessionization with explicit keyed state
    * (`flatMapGroupsWithState`): a session closes when `gapMs` passes
    * with no event (event-time timeout in streaming; end-of-group in
    * batch). Emits one row per closed session. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    // plain Boolean captured by the state closure — capturing the
    // Dataset itself would fail task serialization
    val streaming = events.isStreaming

    def close(userId: Long, s: SessionState): Session =
      Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.nEvents, s.valueSum)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // streaming path: gap elapsed in event time → close session
            val out = state.getOption.map(close(userId, _))
            state.remove()
            out.iterator
          } else {
            // fold this micro-batch (or the whole group, in batch mode)
            // in event-time order, closing sessions at each gap
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.nEvents + 1, s.valueSum + e.value))
                case Some(s) =>
                  closed ::= close(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            if (streaming) {
              // keep the open session in state; close it on event-time
              // timeout (requires withWatermark upstream)
              cur.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(s.end + gapMs)
              }
              closed.reverse.iterator
            } else {
              // batch never times out: emit the trailing session too
              state.remove()
              (closed.reverse ++ cur.map(close(userId, _))).iterator
            }
          }
      }
  }

  case class AttrEvent(user_id: Long, ts: Timestamp, event_id: Long, attr: String)
  case class Scd2State(attr: String, fromUs: Long, version: Int)
  case class Scd2Version(user_id: Long, attr: String, valid_from_us: Long,
                         valid_to_us: Option[Long], version: Int)

  private def micros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Streaming SCD type-2 maintenance — the incremental sibling of the
    * batch [[graft.operators.Scd2.buildHistory]] window build: per-key
    * state holds only the OPEN version (attr, valid_from, version
    * counter); each arriving change CLOSES the previous version (one
    * appended output row, immutable thereafter) and opens the next.
    * That is exactly the CDC→dimension-table production shape: the
    * closed-version stream appends to the history table; the open
    * versions live in the state store. Ties on ts break by event_id,
    * matching the batch build's determinism contract.
    *
    * Batch mode (same code path, `isStreaming=false`) processes each
    * key's full group in one call and also emits the trailing open
    * version (valid_to null) — giving the complete history, which q154
    * gates against the SAME oracle as the batch window build: two
    * implementations, one relational truth. In streaming mode the open
    * version stays in state; state size is one tiny case class per
    * live key, no timeout needed (a dimension's current version never
    * expires).
    *
    * Scale: one hash exchange on the key; per-key work is a sort of
    * that micro-batch's rows for the key. 10⁹ keys ⇒ 10⁹ small state
    * entries sharded across executors — the state store's intended
    * load, vs the batch build's full-history shuffle every run. */
  def scd2Updates(events: Dataset[AttrEvent]): Dataset[Scd2Version] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Version](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AttrEvent], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var closed = List.empty[Scd2Version]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = micros(e.ts)
            cur match {
              case Some(s) if s.attr == e.attr => // same run — extend silently
              case Some(s) =>
                closed ::= Scd2Version(uid, s.attr, s.fromUs, Some(t), s.version)
                cur = Some(Scd2State(e.attr, t, s.version + 1))
              case None =>
                cur = Some(Scd2State(e.attr, t, 1))
            }
          }
          if (streaming) {
            cur.foreach(state.update)
            closed.reverse.iterator
          } else {
            state.remove()
            (closed.reverse ++ cur.map(s =>
              Scd2Version(uid, s.attr, s.fromUs, None, s.version))).iterator
          }
      }
  }

  /** Stream-stream event-time join: attribute each purchase to every
    * prior click by the same user within `horizon` (one output row per
    * qualifying click–purchase pair; a most-recent-only policy is a
    * `max_by` over this output). Both sides carry watermarks and the
    * join condition bounds event time on both ends, so state for
    * expired intervals is purged — the canonical bounded-state
    * stream-stream inner join. Works identically on batch frames. */
  def clickPurchaseAttribution(events: DataFrame, horizon: String = "1 hour",
                               lateness: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(purchases("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
  }

  /** Left-outer variant of [[clickPurchaseAttribution]]: every purchase
    * emits, with null click columns when no click fell in the horizon —
    * the "unattributed conversion" report. In streaming, the outer row
    * can only emit once the click-side watermark passes the purchase's
    * join window (state eviction proves absence); in batch it is a plain
    * outer interval join — same code, same result set. */
  def clickPurchaseAttributionOuter(events: DataFrame, horizon: String = "1 hour",
                                    lateness: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", lateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    purchases.join(clicks,
        purchases("user_id") === clicks("click_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
        "left_outer")
      .select(purchases("user_id"), col("click_ts"), col("purchase_ts"),
        col("click_value"), col("purchase_value"))
  }

  case class UserTotal(user_id: Long, n_events: Long, value_sum: Double)

  /** Per-user running totals on the `transformWithState` API (Spark 4's
    * arbitrary-stateful-processing surface, the successor of
    * `mapGroupsWithState`): typed `ValueState` in the RocksDB state
    * store, updated per micro-batch, one Update-mode row per touched
    * user. TTL on the state (`ttl`) is what bounds an unbounded key
    * space at scale — expired users evict without a watermark. */
  class RunningTotalProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: ValueState[UserTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", Encoders.product[UserTotal], ttl)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotal] = {
      val prev = if (totals.exists()) totals.get() else UserTotal(key, 0L, 0.0)
      val next = rows.foldLeft(prev)((acc, e) =>
        UserTotal(key, acc.n_events + 1L, acc.value_sum + e.value))
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Running per-user totals via [[RunningTotalProcessor]]. Requires the
    * RocksDB state store provider (`spark.sql.streaming.stateStore
    * .providerClass`) — the transformWithState operator does not run on
    * the default HDFS-backed store. */
  def runningTotals(events: Dataset[Event],
                    ttl: TTLConfig = TTLConfig.NONE): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  case class QuietUser(user_id: Long, last_seen: Timestamp, n_events: Long)

  /** Event-time TIMER side of the transformWithState API: track each
    * user's last event, (re)arm a timer `quietMs` past it, and when the
    * WATERMARK crosses the timer — absence proven, not merely observed —
    * emit one churn row and drop the state. The register/delete dance on
    * every input is the canonical sliding-deadline pattern; state and
    * timers are both per-key and purged on expiry, so an unbounded user
    * population stays bounded by the active set. */
  class QuietUserProcessor(quietMs: Long)
      extends StatefulProcessor[Long, Event, QuietUser] {
    @transient private var seen: ValueState[(Long, Long)] = _ // (lastSeenMs, n)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[(Long, Long)](
        "seen", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[QuietUser] = {
      val (prevLast, prevN) = if (seen.exists()) seen.get() else (Long.MinValue, 0L)
      var last = prevLast
      var n = prevN
      rows.foreach { e => last = math.max(last, e.ts.getTime); n += 1 }
      if (prevLast != Long.MinValue) getHandle.deleteTimer(prevLast + quietMs)
      getHandle.registerTimer(last + quietMs)
      seen.update((last, n))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[QuietUser] = {
      val out = if (seen.exists()) {
        val (last, n) = seen.get()
        Iterator.single(QuietUser(key, new Timestamp(last), n))
      } else Iterator.empty
      seen.clear()
      out
    }
  }

  /** Quiet-user (churn) detection via [[QuietUserProcessor]] — event-time
    * timers, so the stream needs a watermark on `ts`. RocksDB provider
    * required, as for [[runningTotals]]. */
  def quietUsers(events: Dataset[Event], quietMs: Long): Dataset[QuietUser] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new QuietUserProcessor(quietMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Gap-based sessionization via the NATIVE `session_window` aggregate —
    * the declarative sibling of [[sessionize]]'s custom-state fold. Spark
    * merges overlapping per-event windows `[ts, ts+gap)` into sessions
    * inside the aggregation operator itself (no user state code, and in
    * streaming the watermark closes sessions exactly like the custom
    * operator's event-time timeout). Emits one row per (user, session):
    * first/last event time, event count, value sum. `session_end` is the
    * LAST EVENT time (the raw window end is last+gap — an implementation
    * artifact callers shouldn't see). Works identically on batch frames,
    * which is what the oracle gate compares. */
  def sessionWindowAgg(events: DataFrame, gapMs: Long): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") - expr(s"INTERVAL $gapMs MILLISECONDS"))
          .as("session_end"),
        col("n_events"), col("value_sum"))

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen
    * within the watermark horizon — the streaming face of
    * [[graft.operators.TextDedup.exactDedup]]. State is bounded: keys
    * older than the watermark are purged, so this runs indefinitely on
    * an unbounded feed (the unbounded-state `dropDuplicates` variant
    * does not). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-static enrichment: join each streaming fact row to a small
    * static dimension (the streaming face of the reference's
    * harmonisation-key join, `dataset_curation.ipynb:cells 53-54`). The
    * dimension is broadcast explicitly — a stream-static join never
    * shuffles the stream side then, each micro-batch probes the
    * broadcast hash map, and no state store is involved at all (the
    * static side is re-resolved per batch, so a dimension refresh is
    * picked up without restarting the query). Left join: facts with no
    * dimension row pass through with nulls, the reference's
    * null-on-miss contract. */
  def enrich(events: DataFrame, dim: DataFrame, on: Seq[String]): DataFrame =
    events.join(broadcast(dim), on, "left")

  /** Streaming MATERIALIZED VIEW: maintain a keyed aggregate as a
    * durable parquet store across micro-batches — the
    * read-merge-write generational upsert. Each batch folds its own
    * partial aggregate into the previous generation's full state and
    * writes the merged state as a NEW generation (a `batch_id`
    * partition via dynamic overwrite), so a replayed batch rewrites
    * its own generation from the same predecessor — idempotent, and
    * the store is a complete queryable snapshot at every generation
    * (read the max `batch_id`). This is the durable complement of
    * `transformWithState` running totals: state lives in an ordinary
    * table any engine can read, not in the state store.
    *
    * `mergeAggs` must re-aggregate the UNION of previous state and the
    * batch partial (algebraic aggregates: sums/counts/min/max — the
    * [[graft.operators.IncrementalAgg]] contract). Scale: each
    * generation write is state-sized (distinct keys), not
    * stream-sized; the batch partial is the only stream-sized scan. */
  def materializedAggStore(stream: DataFrame, keyCols: Seq[String],
                           batchAggs: Seq[org.apache.spark.sql.Column],
                           mergeAggs: Seq[org.apache.spark.sql.Column],
                           store: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val partial = batch.toDF()
          .groupBy(keyCols.map(col): _*).agg(batchAggs.head, batchAggs.tail: _*)
        val prev = latestGeneration(spark, store, before = batchId)
        val merged = prev match {
          case Some(p) => p.unionByName(partial)
            .groupBy(keyCols.map(col): _*).agg(mergeAggs.head, mergeAggs.tail: _*)
          case None => partial
        }
        writeBatchIdempotent(merged, batchId, store)
        // COMMIT MARKER, written after the data: a crash mid-write
        // leaves a torn partition dir that readers must never select
        // (the root _SUCCESS is rewritten per batch and does not name
        // a generation). Replays recreate the marker harmlessly. Marker
        // IO goes through the Hadoop FS resolved from the store path
        // ([[graft.sources.StoreFs]]) so a non-local store (HDFS/S3)
        // keeps data and markers on the SAME filesystem.
        graft.sources.StoreFs.touchMarker(store, commitMarker(batchId))
        // KEY-COLUMN META, so [[retractFromAggStore]] can validate a
        // caller's key frame against the store's actual keys instead of
        // discovering a mis-shaped overlay at read time (which would
        // wedge every read AND the next fold until hand repair).
        // Idempotent atomic rewrite; skipped when already current.
        val keyMeta = keyCols.mkString("\n")
        if (!graft.sources.StoreFs.readSmallFile(keyColsPath(store))
              .contains(keyMeta))
          graft.sources.StoreFs.writeFileAtomic(keyColsPath(store), keyMeta)
      }
      .start()
  }

  /** The newest COMMITTED generation of a [[materializedAggStore]]
    * store (strictly before `before`, for the replay path); None if
    * absent. Only marker-committed generations are visible — a torn
    * partition dir from a crash between data write and marker is
    * skipped until its batch replays. Retraction-aware: keys recorded
    * by [[retractFromAggStore]] are scrubbed here, which is also what
    * makes retraction apply FORWARD — the stream's next fold reads
    * this scrubbed state, so the generation it commits is physically
    * key-free. */
  def latestGeneration(spark: SparkSession, store: String,
                       before: Long = Long.MaxValue): Option[DataFrame] =
    listAggStore(store).committed.filter(_ < before).lastOption
      .map(g => readGeneration(spark, store, g))

  /** The on-disk layout of a [[materializedAggStore]] store: the
    * marker-committed generation ids and the `batch_id` data dir ids,
    * both sorted. An unmarked data dir below the newest commit is torn
    * crash debris; one at or above it is an in-flight batch. */
  final case class AggLayout(committed: Seq[Long], dataDirs: Seq[Long]) {
    def unmarked: Seq[Long] = dataDirs.filterNot(committed.contains)
  }

  /** THE parse of a [[materializedAggStore]] store's layout, from one
    * directory listing: [[latestGeneration]], [[committedAggGenerations]],
    * [[retractFromAggStore]], [[vacuumGenerations]] and StoreDoctor's
    * audit all read it. */
  def listAggStore(store: String): AggLayout = {
    val names = graft.sources.StoreFs.childNames(store)
    val markerRe = "\\.gen_(\\d+)_committed".r
    val dataRe = "batch_id=(\\d+)".r
    AggLayout(names.collect { case markerRe(id) => id.toLong }.sorted,
      names.collect { case dataRe(id) => id.toLong }.sorted)
  }

  /** The commit marker of generation `batchId` ([[listAggStore]] parses it). */
  private def commitMarker(batchId: Long): String = s".gen_${batchId}_committed"

  private def dataDir(batchId: Long): String = s"batch_id=$batchId"

  /** Generation `g`'s snapshot minus the retraction overlay. */
  private def readGeneration(spark: SparkSession, store: String, g: Long): DataFrame =
    applyRetractions(spark, store, g, spark.read.parquet(s"$store/${dataDir(g)}"))

  /** The RETRACTION overlay of a [[materializedAggStore]] store — the
    * fourth store family's right-to-be-forgotten verb, closing the
    * asymmetry with the dedup/two-tier/NSW families (tombstones /
    * deletion ledger): with time travel (q215) the store retains
    * user-keyed aggregates across generations forever, so "a snapshot
    * IS its generation's bytes" needs a keyed forget path.
    *
    * Shape: generation-scoped like the NSW ledger, never an in-place
    * snapshot rewrite — rewriting data UNDER a committed marker would
    * open exactly the marker-with-torn-data window the family defines
    * as real corruption, and losing the overlay mid-rewrite would err
    * in the resurrection direction. Instead [[retractFromAggStore]]
    * appends `(key columns, retracted_at_gen = newest committed + 1)`
    * — the first generation the retraction is effective at, i.e. the
    * NSW ledger's exact `deleted_at_gen` convention — and every read
    * of generation `g` scrubs keys with `retracted_at_gen > g`:
    *  - historic reads of pre-retraction snapshots hide the keys
    *    (deleted content must stay deleted on time-travel reads);
    *  - the head read hides them, so the stream's next fold commits a
    *    generation that is PHYSICALLY key-free — physical forgetting
    *    rides the store's own write path instead of a rewrite verb;
    *  - a key RE-ARRIVING at batch b > watermark lands in generation
    *    b ≥ retracted_at_gen, which the rule never scrubs: it
    *    reappears with only its post-retraction contributions.
    * [[vacuumGenerations]] releases the overlay once no readable
    * generation predates any recorded retraction (the NSW release
    * rule); a torn append reads as absent ([[graft.sources.StoreFs
    * .committedParquet]]) — conservative: nothing recorded, nothing
    * scrubbed, the caller re-runs the retraction. */
  private def retractionsPath(store: String): String = s"$store/retractions"

  /** Meta file recording a [[materializedAggStore]]'s key columns
    * (newline-joined, written idempotently on every fold) — the
    * authority [[retractFromAggStore]] validates caller key frames
    * against. Kept out of the snapshot schema on purpose: deriving
    * "keys = snapshot columns minus aggregate columns" would need the
    * agg list too, and the fold loop already knows the keys. */
  private def keyColsPath(store: String): String = s"$store/.keycols"

  /** The key columns a [[materializedAggStore]] store was folded with,
    * per its committed meta file; None for a store that predates the
    * meta (its next fold records it). */
  def aggStoreKeyColumns(store: String): Option[Seq[String]] =
    graft.sources.StoreFs.readSmallFile(keyColsPath(store))
      .map(_.split("\n", -1).toSeq)

  /** Scrub [[retractFromAggStore]]-recorded keys from a read of
    * generation `gen` (see [[retractionsPath]]). Join keys are the
    * overlay's own columns, so callers need not re-supply `keyCols`;
    * the overlay is retraction-sized — broadcast. */
  private def applyRetractions(spark: SparkSession, store: String, gen: Long,
                               snap: DataFrame): DataFrame =
    graft.sources.StoreFs.committedParquet(spark, retractionsPath(store)) match {
      case None => snap
      case Some(r) =>
        val dead = r.filter(col("retracted_at_gen") > gen)
          .drop("retracted_at_gen").distinct()
        snap.join(broadcast(dead), dead.columns.toSeq, "left_anti")
    }

  /** RETRACT `keys` (a frame of the store's key columns, any other
    * columns rejected by the read-side join) from a
    * [[materializedAggStore]] — head, history and all future folds;
    * see [[retractionsPath]] for the full contract. Returns the
    * number of distinct keys recorded. REFUSES while an in-flight
    * (unmarked, at/above the head) batch dir exists: that batch
    * folded pre-retraction state and would commit the keys into a
    * generation the scrub rule deliberately never touches — quiesce
    * the stream (stop it, or call between micro-batches) first. */
  def retractFromAggStore(spark: SparkSession, store: String,
                          keys: DataFrame): Long = {
    val layout = listAggStore(store)
    require(layout.committed.nonEmpty,
      s"no committed generation at agg store $store — nothing to retract")
    val newest = layout.committed.last
    val inFlight = layout.unmarked.filter(_ >= newest)
    require(inFlight.isEmpty,
      s"agg store $store has in-flight batch dir(s) " +
        s"batch_id=${inFlight.mkString(", batch_id=")} — that fold read " +
        "pre-retraction state and would re-commit the keys past the " +
        "retraction watermark; stop the stream (quiesce between " +
        "micro-batches) before retracting")
    // Validate the caller's frame against the store's recorded key
    // columns BEFORE the overlay append. A mis-shaped overlay would
    // only surface inside applyRetractions — wedging every read and
    // the stream's next fold (so no newer generation could commit and
    // vacuum could never release) — and an extra column that collides
    // with an aggregate column would silently join on it and scrub
    // only part of the key's rows: a silent incomplete forget.
    val storeKeys = aggStoreKeyColumns(store).getOrElse(
      throw new IllegalArgumentException(
        s"agg store $store has no .keycols meta (created before the " +
          "retraction contract?) — run one more fold of its stream to " +
          "record the key columns, then retract"))
    require(keys.columns.toSet == storeKeys.toSet &&
        keys.columns.length == storeKeys.length,
      s"retraction frame columns [${keys.columns.mkString(", ")}] do " +
        s"not match agg store $store key columns " +
        s"[${storeKeys.mkString(", ")}] — a mismatched overlay would " +
        "wedge reads or silently part-scrub on an aggregate-column " +
        "name collision, so it is rejected up front")
    val rows = keys.distinct()
      .withColumn("retracted_at_gen", lit(newest + 1L))
      .localCheckpoint()
    rows.coalesce(1).write.mode("append").parquet(retractionsPath(store))
    rows.count()
  }

  /** The newest `retracted_at_gen` the committed retraction overlay
    * records, if any — the [[graft.tools.StoreDoctor]] inspection
    * surface (generations strictly below it are scrubbed on historic
    * reads). */
  def retractionWatermark(spark: SparkSession, store: String): Option[Long] =
    graft.sources.StoreFs.committedParquet(spark, retractionsPath(store))
      .flatMap { r =>
        val m = r.agg(max(col("retracted_at_gen"))).head()
        if (m.isNullAt(0)) None else Some(m.getLong(0))
      }

  /** Generations of a [[materializedAggStore]] store that are
    * READABLE — valid time-travel targets for [[loadAggStoreAt]] (the
    * fourth store family to take the q212/q213/q214 historic-read
    * contract, via the shared [[graft.sources.StoreFs]] surface):
    * marker-committed `batch_id` snapshots. Every generation is a
    * COMPLETE point-in-time state by construction (each batch folds
    * the previous full state with its partial), so any committed id
    * serves, not just the newest; torn unmarked dirs never qualify.
    * [[vacuumGenerations]] trims history — `keepLast` is the
    * retention dial. Metadata-only (one directory listing). */
  def committedAggGenerations(store: String): Seq[Long] =
    listAggStore(store).committed

  /** [[latestGeneration]] AS OF a retained generation — the
    * time-travel face of the materialized-view store: read the view's
    * state exactly as it stood after batch `atGeneration` committed
    * (audit an old snapshot, attribute a metric change to a batch,
    * replay a downstream job byte-for-byte) while the stream moves
    * the head on. Only [[committedAggGenerations]] qualify; anything
    * else REFUSES with the shared readable-list error. `None` reads
    * the newest committed snapshot, refusing (rather than returning
    * an empty frame) when the store has none. A snapshot is its
    * generation's bytes MINUS the retraction overlay
    * ([[retractFromAggStore]] — retracted keys must stay forgotten on
    * time-travel reads, the same contract as the sibling families'
    * tombstones/ledger). */
  def loadAggStoreAt(spark: SparkSession, store: String,
                     atGeneration: Option[Long] = None): DataFrame =
    atGeneration match {
      case None => latestGeneration(spark, store)
        .getOrElse(throw new IllegalStateException(
          s"no committed generation at agg store $store"))
      case Some(g) =>
        val readable = committedAggGenerations(store)
        if (!readable.contains(g))
          graft.sources.StoreFs.unreadableGeneration(
            "agg store", store, g, readable)
        readGeneration(spark, store, g)
    }

  /** Retention for a [[materializedAggStore]] store: drop all but the
    * newest `keepLast` COMMITTED generations (markers + data dirs), and
    * sweep torn data dirs older than the newest committed generation —
    * those can only be crash debris (an in-flight write is always ≥ the
    * checkpointed batch id, which is ≥ the newest committed). Never
    * touches unmarked dirs at or above the newest committed id. */
  def vacuumGenerations(store: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be ≥ 1, got $keepLast")
    val layout = listAggStore(store)
    if (layout.committed.isEmpty) return
    val newest = layout.committed.last
    val keep = layout.committed.takeRight(keepLast)
    layout.committed.filterNot(keep.contains).foreach { id =>
      // marker FIRST: a crash mid-vacuum leaves an unmarked (invisible)
      // dir for the debris sweep, never a marked dir with missing data
      graft.sources.StoreFs.deleteChild(store, commitMarker(id))
      graft.sources.StoreFs.deleteChild(store, dataDir(id))
    }
    // torn debris below the committed watermark
    layout.unmarked.filter(_ < newest)
      .foreach(id => graft.sources.StoreFs.deleteChild(store, dataDir(id)))
    // Release the retraction overlay once NO readable generation
    // predates any recorded retraction (every snapshot it could scrub
    // is gone and every retained one was folded post-retraction, so
    // the overlay is inert) — the NswIndex.vacuumNsw release rule on
    // the fourth family. Torn (never-committed) overlay debris is
    // swept; a lingering overlay is harmless (it only ever scrubs
    // generations older than its watermark).
    SparkSession.getActiveSession.foreach { spark =>
      if (graft.sources.StoreFs.tornParquetDebris(retractionsPath(store)))
        graft.sources.StoreFs.deleteChild(store, "retractions")
      else retractionWatermark(spark, store).foreach { wm =>
        // the retained generations are the readable ones now
        if (keep.head >= wm)
          graft.sources.StoreFs.deleteChild(store, "retractions")
      }
    }
  }

  /** Windowed counts as a memory-sink streaming query (test/demo
    * harness): returns the query so callers can processAllAvailable()
    * then read table `name`. */
  def startToMemory(spark: SparkSession, stream: DataFrame, name: String) =
    windowedTypeCounts(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()

  /** One micro-batch of the idempotent file sink: the batch lands in a
    * `batch_id=<id>` partition with DYNAMIC partition overwrite, so a
    * replayed batch (restart between sink write and checkpoint commit —
    * foreachBatch's at-least-once window) overwrites its own partition
    * instead of appending duplicates. Factored out of the stream wiring
    * so the idempotence property is directly testable. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
}
