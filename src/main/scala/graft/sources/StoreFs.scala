package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem access for generational stores, resolved through the
  * Hadoop [[FileSystem]] API from the STORE PATH — never `java.io.File`.
  *
  * Why this exists: the generational stores ([[graft.streaming
  * .EventStreams.materializedAggStore]], the IVF/two-tier ANN stores,
  * the dedup signature stores) write their parquet data through Spark's
  * Hadoop FS but originally tracked commit markers with `java.io.File`.
  * On any non-local store (HDFS, S3A) that split is silently wrong: the
  * data lands on the cluster store while the marker lands on the
  * driver's local disk, so generation listing returns nothing and every
  * batch quietly degrades to its own partial state. Routing ALL marker
  * and listing traffic through the scheme-resolved FileSystem makes the
  * store location-transparent — `file:`, `hdfs:` and `s3a:` paths all
  * behave identically.
  *
  * THE GENERATIONAL COMMIT PROTOCOL. The manifest-committed stores —
  * the two-tier ANN store ([[graft.operators.PqIndex]], `dir/manifest`),
  * the NSW graph store ([[graft.operators.NswIndex]], `dir/manifest`)
  * and the dedup signature store ([[graft.operators.TextDedup]],
  * `<prefix>_manifest`) — all commit through one sequence: under the
  * store's writer lease, read the head generation, build generation
  * head+1 in lease-tagged scratch paths, run the fenced swap into the
  * final paths ([[stageGenerationDir]]), then swap the manifest
  * ([[commitManifest]]), the single commit point. The dir-layout
  * stores (two-tier, NSW) call it whole as [[commitGenerationDir]] and
  * share [[vacuumGenerationDirs]] and [[generationRoot]]; the dedup
  * store's prefix layout shares the staging and the manifest swap and
  * keeps its own segment-aware vacuum. The flat IVF store uses only
  * the lease and marker helpers.
  *
  * The agg store ([[graft.streaming.EventStreams.materializedAggStore]])
  * stays marker-committed: its generation id is the stream's batch id,
  * and a replayed batch must rewrite its own generation from the same
  * predecessor. [[commitGenerationDir]] numbers generations head+1, so
  * a batch replayed after its commit would become a new generation and
  * fold its rows in twice.
  *
  * Each store family parses its on-disk layout in ONE listing that its
  * vacuum, its readable-generation listing and its
  * [[graft.tools.StoreDoctor]] audit all read: [[listGenerationDirs]]
  * here for the dir-layout stores, `TextDedup.listDedupStore` and
  * `EventStreams.listAggStore` for the other two.
  *
  * The Hadoop conf comes from the active Spark session when one exists
  * (so `fs.*` overrides like S3 credentials apply) and falls back to a
  * bare [[Configuration]] for session-less callers (vacuum jobs). */
object StoreFs {

  private def conf(): Configuration = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .map(_.sessionState.newHadoopConf())
    .getOrElse(new Configuration())

  /** The (filesystem, path) pair governing `store`, scheme-resolved. */
  def of(store: String): (FileSystem, Path) = {
    val p = new Path(store)
    (p.getFileSystem(conf()), p)
  }

  /** Create (or replay-recreate) a zero-byte marker file under `store`. */
  def touchMarker(store: String, name: String): Unit = {
    val (fs, p) = of(store)
    fs.mkdirs(p)
    // overwrite=true: marker recreation on batch replay is harmless by
    // contract, and create-then-close is atomic-enough for a 0-byte file
    fs.create(new Path(p, name), true).close()
  }

  /** Names of the direct children of `store`; empty if it is absent. */
  def childNames(store: String): Seq[String] = {
    val (fs, p) = of(store)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Delete a direct child of `store` (file or dir), recursively. */
  def deleteChild(store: String, name: String): Unit = {
    val (fs, p) = of(store)
    fs.delete(new Path(p, name), true): Unit
  }

  /** The two siblings an interrupted swap of `name` leaves beside it:
    * the complete new copy and the old one moved aside. The manifest
    * swap ([[writeFileAtomic]]) and the IVF centroid swap both stage
    * through them. */
  def swapSiblings(name: String): (String, String) = (name + "__tmp", name + "__old")

  /** Read a generation manifest: the file at `path` holding one long
    * (UTF-8 digits). Absent file = no committed generation. The head
    * read of the generational commit protocol (see the object doc),
    * shared by every manifest-committed store: two-tier ANN, NSW
    * graph and dedup signature. */
  def readManifest(path: String): Option[Long] = {
    val (fs, p) = of(path)
    def once(): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      }
    // One short retry on absence. Pay the 50 ms sleep ONLY when the
    // fallback (non-FileContext) commit path's rename-aside window is
    // plausibly open — i.e. a `__tmp` or `__old` sibling exists. Even
    // when it isn't, re-probe once without sleeping: the swap may have
    // completed between the failed first read and the sibling checks,
    // in which case the manifest now exists and a bare None would
    // misreport a committed store as absent. A legitimately absent
    // manifest (first build, vacuum early-return, tombstone probe)
    // costs one extra exists() and still returns None immediately.
    once().orElse {
      val (tmp, old) = swapSiblings(path)
      val inFlight =
        try fs.exists(new Path(tmp)) || fs.exists(new Path(old))
        catch { case _: java.io.IOException => false }
      if (inFlight) Thread.sleep(50)
      once()
    }
  }

  /** Read a small UTF-8 file at `path`; None when absent. The
    * string-typed sibling of [[readManifest]] for marker files whose
    * content is richer than one long (e.g. the NSW pending-maintenance
    * cell list). */
  def readSmallFile(path: String): Option[String] = {
    val (fs, p) = of(path)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Delete the file at `path` (non-recursive); absent is fine. */
  def deleteFile(path: String): Unit = {
    val (fs, p) = of(path)
    fs.delete(p, false): Unit
  }

  /** The COMMITTED rows of the small parquet table at `path`, or None
    * when it is absent — or exists with no committed `part-*` file (a
    * crash inside an append's FIRST write leaves only `_temporary`
    * debris, which `spark.read.parquet` refuses with "unable to infer
    * schema"): no row ever committed, so absent is the truthful
    * reading. The torn-append guard every append-only overlay table
    * (the NSW deletion ledger and its revocations, the aggstore
    * retraction table) reads through, so vacuum/audit/historic-read
    * paths degrade instead of wedging on the debris. */
  def committedParquet(spark: SparkSession,
                       path: String): Option[org.apache.spark.sql.DataFrame] = {
    val (fs, p) = of(path)
    if (!fs.exists(p)) None
    else if (!fs.listStatus(p).exists(_.getPath.getName.startsWith("part-")))
      None
    else Some(spark.read.parquet(path))
  }

  /** True when the dir at `path` exists but holds no committed
    * `part-*` file — a torn first append's debris, sweepable by the
    * owning store's vacuum. */
  def tornParquetDebris(path: String): Boolean = {
    val (fs, p) = of(path)
    fs.exists(p) &&
      !fs.listStatus(p).exists(_.getPath.getName.startsWith("part-"))
  }

  // ------------------------------------------------------------------
  // TIME-TRAVEL SURFACE — the shared half of the historic-read
  // contract all generational store families expose (dedup q212,
  // two-tier q213, NSW q214, agg q215): each family lists its READABLE
  // generations from its layout listing, and all share the refusal of
  // an unreadable one, so the error contract cannot drift per family.
  // ------------------------------------------------------------------

  /** The on-disk layout of a DIR-PER-GENERATION store (two-tier ANN,
    * NSW): the manifest `head`, the sorted `g<n>` generation dirs split
    * at it (`committed` at or below, `aboveHead` an in-flight or
    * crashed writer's — all of them with no manifest), the per-writer
    * `(g<n>__<tag>, tag)` scratch dirs and the manifest-swap leftovers.
    * The dedup store's listing fills the same shape. */
  final case class GenerationLayout(head: Option[Long], gens: Seq[Long],
                                    scratch: Seq[(String, String)],
                                    swapLeftovers: Seq[String]) {
    def committed: Seq[Long] = gens.filter(g => head.exists(g <= _))
    def aboveHead: Seq[Long] = gens.filterNot(g => head.exists(g <= _))
  }

  /** THE parse of a dir-per-generation store's layout: one manifest
    * read + one directory listing. A generation dir exists iff its
    * fenced commit renamed it in whole ([[stageGenerationDir]]), so a
    * committed `g<n>` holds every table; scratch (`g<n>__<tag>`) is
    * never a generation. */
  def listGenerationDirs(dir: String): GenerationLayout = {
    val names = childNames(dir)
    val genRe = "g(\\d+)(?:__([a-zA-Z0-9]+))?".r
    val (tmp, old) = swapSiblings("manifest")
    GenerationLayout(readManifest(s"$dir/manifest"),
      names.collect { case genRe(g, null) => g.toLong }.sorted,
      names.collect { case n @ genRe(_, tag) if tag != null => (n, tag) }.sorted,
      Seq(tmp, old).filter(names.contains))
  }

  /** READABLE generations of a dir-per-generation store
    * ([[listGenerationDirs]]); empty for a legacy flat store. */
  def committedGenerationDirs(dir: String): Seq[Long] =
    listGenerationDirs(dir).committed

  /** THE unreadable-generation refusal — one text for every store
    * family's time-travel read, so the error contract (what happened,
    * what IS readable, which dial fixes it) cannot drift per family. */
  def unreadableGeneration(kind: String, store: String, g: Long,
                           readable: Seq[Long]): Nothing =
    throw new IllegalStateException(
      s"generation $g of $kind $store is not readable " +
        "(vacuumed or never committed); readable generations: " +
        readable.mkString("[", ", ", "]") +
        " — raise retainGenerations on the mutating verbs to keep " +
        "more history")

  // ------------------------------------------------------------------
  // WRITER LEASE — mutual exclusion for store mutation verbs.
  //
  // The generational commit (tmp + atomic rename over the manifest)
  // makes any SINGLE writer crash-safe, but assumes one writer: two
  // concurrent append/refit/compact calls against one store would both
  // read generation g, both build g+1 (clobbering each other's table
  // files inside the same g<n+1> dir — overwrite-mode writes), and the
  // last manifest rename silently orphans the loser. On a real cluster
  // a scheduler retrying a "stuck" job produces exactly this overlap.
  //
  // The lease is a marker file (`<store>/__writer` for dir-layout
  // stores, `<prefix>__writer` for the dedup prefix layout) created
  // with Hadoop's no-overwrite create — atomic on HDFS; on filesystems
  // where create(overwrite=false) is check-then-create, same-process
  // racers are still fully serialized by the JVM-local registry below
  // (atomic ConcurrentHashMap.compute), which also gives RE-ENTRANCY:
  // a composed verb (refitTwoTier → saveTwoTier → vacuumTwoTier) takes
  // the lease once at the top and nested acquisitions on the same
  // THREAD just increment a depth count, while a DIFFERENT thread in
  // the same JVM refuses exactly like a different process would.
  //
  // A writer that crashes leaves its marker behind; the lease carries
  // no heartbeat, so staleness is judged by the marker's modification
  // time. acquire() auto-breaks a marker older than `staleAfterMs`
  // (default 30 min — far above any verb's runtime, far below a
  // scheduler's retry horizon) with a stderr warning; a fresher marker
  // refuses with the holder and the remedy. `StoreDoctor` surfaces a
  // held lease as `warn` (active writer) or `error` (stale — remedy:
  // `StoreFs.breakWriterLease`).
  //
  // Residual race, documented not closed: a writer that stalls PAST
  // the TTL can wake after its lease was broken and still write over
  // the usurper (rename has no compare-and-swap on a filesystem).
  // Fencing shrinks that window — GENERATIONAL stores re-check the
  // lease inside [[writeFileAtomic]] at their single commit point;
  // FLAT stores (direct parquet overwrite/append, e.g. IvfIndex) call
  // [[assertLeasesStillHeld]] explicitly before each destructive
  // write — so the exposure is the instant between check and write,
  // not the verb duration. True CAS needs a coordination service the
  // engine deliberately doesn't depend on.
  // ------------------------------------------------------------------

  /** A held writer lease on `markerPath`; `token` identifies this
    * holder instance for safe release. */
  final case class WriterLease(markerPath: String, token: String)

  private final case class Held(token: String, threadId: Long, var depth: Int)

  /** JVM-local lease registry keyed by the QUALIFIED marker path —
    * serializes same-process writers and provides re-entrancy. */
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Held]()

  /** FENCING at the commit point: before [[writeFileAtomic]] performs
    * its rename, every lease the CURRENT THREAD holds is re-read from
    * disk and must still carry our token. A writer that stalled past
    * the TTL and was auto-broken (its lease usurped by a newer writer)
    * thus REFUSES at its commit instead of renaming over the usurper's
    * generation — for GENERATIONAL stores (manifest-committed) the
    * stall race documented on the lease shrinks from "any time before
    * the rename" to the instant between this check and the rename
    * itself. PUBLIC so that FLAT stores — verbs that overwrite/append
    * parquet directly with no [[writeFileAtomic]] commit point, e.g.
    * [[graft.operators.IvfIndex.save]]/`appendToIndex` — can fence
    * each of their writes explicitly and get the same guarantee per
    * write instead of none at all. Costs one small-file read per held
    * lease per call (calls are per-table-write or per-commit, never
    * per-row). Threads holding no lease (markers written outside a
    * mutation verb, e.g. streaming batch markers) skip the check
    * entirely. */
  def assertLeasesStillHeld(): Unit = {
    val me = Thread.currentThread().getId
    held.forEach { (key, h) =>
      if (h.threadId == me) {
        val onDisk = readSmallFile(key).map(_.trim)
        if (!onDisk.contains(h.token))
          sys.error(
            s"writer lease at $key was broken while this writer was " +
              s"working (now ${onDisk.getOrElse("<absent>")}, was " +
              s"${h.token}) — a stale-lease break usurped it (this " +
              "writer stalled past the TTL); REFUSING to commit over " +
              "the new writer's store. Re-run this mutation.")
      }
    }
  }

  /** The conventional marker path for a dir-layout store. */
  def writerMarkerPath(storeDir: String): String = s"$storeDir/__writer"

  /** THE writer-lease staleness TTL — one constant shared by
    * [[acquireWriterLease]]/[[withWriterLease]] (auto-break threshold)
    * and [[graft.tools.StoreDoctor]] (warn/error classification), so
    * the doctor's diagnosis can never disagree with the auto-break
    * behavior. 30 min: far above any verb's runtime, far below a
    * scheduler's retry horizon. */
  val DefaultLeaseTtlMs: Long = 30L * 60 * 1000

  private lazy val hostTag: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "localhost" }

  private def qualified(path: String): String = {
    val (fs, p) = of(path)
    fs.makeQualified(p).toString
  }

  /** Acquire the writer lease at `markerPath` (refusing if another
    * writer holds a fresh lease; auto-breaking one stale past
    * `staleAfterMs`). Re-entrant per thread. Prefer
    * [[withWriterLease]], which releases on every exit path. */
  def acquireWriterLease(markerPath: String,
                         staleAfterMs: Long = DefaultLeaseTtlMs): WriterLease = {
    val key = qualified(markerPath)
    val token = hostTag + ":" + ProcessHandle.current().pid() + ":" +
      java.util.UUID.randomUUID().toString.take(8)
    // JVM-local gate first: atomic, covers filesystems whose
    // no-overwrite create is not atomic. compute() throws for a
    // different-thread holder, increments depth for the same thread.
    val me = Thread.currentThread().getId
    val entry = held.compute(key, (_, cur) =>
      if (cur == null) Held(token, me, 1)
      else if (cur.threadId == me) { cur.depth += 1; cur }
      else throw new IllegalStateException(
        s"writer lease at $markerPath is held by another thread of this " +
          s"process (${cur.token}) — one writer at a time per store"))
    if (entry.depth > 1) return WriterLease(markerPath, entry.token)
    // Cross-process gate: the marker file, no-overwrite create.
    try {
      createMarkerOrFail(markerPath, token, staleAfterMs)
      WriterLease(markerPath, token)
    } catch { case t: Throwable =>
      held.remove(key): Unit // undo the registry claim
      throw t
    }
  }

  private def createMarkerOrFail(markerPath: String, token: String,
                                 staleAfterMs: Long): Unit = {
    val (fs, p) = of(markerPath)
    if (p.getParent != null) fs.mkdirs(p.getParent): Unit
    def tryCreate(): Boolean =
      try {
        // overwrite=false: throws when the marker exists (atomic on
        // HDFS; the JVM registry covers non-atomic local create)
        val out = fs.create(p, false)
        try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(p) => false
      }
    if (tryCreate()) return
    val ageMs =
      try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.IOException => -1L } // vanished: retry below
    val holder = readSmallFile(markerPath).getOrElse("<unreadable>").trim
    if (ageMs >= 0 && ageMs <= staleAfterMs)
      sys.error(
        s"writer lease at $markerPath is held by $holder " +
          f"(age ${ageMs / 1000.0}%.1f s) — another writer is active on " +
          "this store; retry after it finishes, or run " +
          "StoreFs.breakWriterLease if you know it crashed")
    if (ageMs > staleAfterMs) {
      System.err.println(
        s"[StoreFs] breaking STALE writer lease at $markerPath " +
          f"(held by $holder, age ${ageMs / 1000.0}%.1f s > " +
          f"${staleAfterMs / 1000.0}%.1f s TTL — abandoned by a crash)")
      breakStaleMarkerIfUnchanged(markerPath, holder, staleAfterMs)
    }
    // one more attempt (post-break, or the holder released in between)
    if (!tryCreate()) {
      val h2 = readSmallFile(markerPath).getOrElse("<unreadable>").trim
      sys.error(
        s"writer lease at $markerPath could not be acquired — lost the " +
          s"re-acquire race to $h2; retry after it finishes")
    }
  }

  /** COMPARE-AND-DELETE for a stale-observed marker. An unconditional
    * delete after the staleness read is racy: a second process may
    * have broken the same stale marker and re-created its own FRESH
    * lease in the window, and the delete would then remove the rival's
    * live lease — two writers proceed. Instead the marker is renamed
    * aside to a UNIQUE tombstone (atomic capture of whatever the
    * marker slot holds right now), the tombstone's content and mtime
    * are re-checked against the stale observation, and only a
    * confirmed-stale capture is deleted. A captured FRESH rival marker
    * is renamed back; if a third writer claimed the slot in that
    * instant, the tombstone is dropped and the rival's commit-point
    * fence ([[assertLeasesStillHeld]]) catches the loss — the same
    * refusal a TTL usurpation produces. Rename preserves mtime on
    * HDFS and the local FS, so the staleness re-check is sound. */
  private[graft] def breakStaleMarkerIfUnchanged(markerPath: String,
                                                 observedHolder: String,
                                                 staleAfterMs: Long): Unit = {
    val (fs, p) = of(markerPath)
    val tomb = new Path(markerPath + "__tomb_" +
      java.util.UUID.randomUUID().toString.take(8))
    val captured =
      try fs.rename(p, tomb)
      catch { case _: java.io.IOException => false }
    // marker vanished or the FS refused: nothing broken — the caller's
    // retry create resolves against whatever holds the slot now
    if (!captured) return
    val content = readSmallFile(tomb.toString).map(_.trim)
    val ageNow =
      try System.currentTimeMillis() - fs.getFileStatus(tomb).getModificationTime
      catch { case _: java.io.IOException => -1L }
    if (content.contains(observedHolder) && ageNow > staleAfterMs) {
      fs.delete(tomb, false): Unit // confirmed: the exact marker we observed stale
    } else {
      // a rival's fresh marker got captured — restore it and let the
      // retry create refuse against it like any lost acquire race
      if (!fs.rename(tomb, p)) fs.delete(tomb, false): Unit
    }
  }

  /** Release a lease taken with [[acquireWriterLease]]: deletes the
    * marker only while it still carries OUR token — if a stale-break
    * usurped us mid-write, the usurper's marker is left alone (its
    * lease, not ours). ORDER MATTERS: the on-disk marker goes first
    * and the JVM-local registry entry last — the reverse order opens
    * a window where a same-process acquirer passes the registry gate,
    * hits the not-yet-deleted marker, and gets a spurious
    * "another writer is active" refusal naming the just-released
    * holder. With disk-first, an acquirer that reaches the disk gate
    * finds the slot free; one racing the release itself refuses at
    * the registry while the lease is genuinely still held — correct,
    * not spurious. */
  def releaseWriterLease(lease: WriterLease): Unit = {
    val key = qualified(lease.markerPath)
    val cur = held.get(key)
    if (cur != null && cur.token == lease.token && cur.depth > 1) {
      cur.depth -= 1
      return
    }
    if (readSmallFile(lease.markerPath).map(_.trim).contains(lease.token))
      deleteFile(lease.markerPath)
    if (cur != null && cur.token == lease.token) {
      cur.depth -= 1
      held.remove(key): Unit
    }
  }

  /** Forcibly remove a writer lease — the REMEDY verb for a marker
    * abandoned by a crashed writer ([[graft.tools.StoreDoctor]] names
    * it on a stale-lease finding). Never run it against a live
    * writer. */
  def breakWriterLease(markerPath: String): Unit =
    deleteFile(markerPath)

  /** The token of the lease the CURRENT THREAD holds on `markerPath`,
    * if any — lets a writer derive per-writer SCRATCH names (e.g.
    * `g<n>__<token>` staging dirs) so concurrent/usurped writers'
    * in-flight files can never collide. */
  def heldLeaseToken(markerPath: String): Option[String] = {
    val cur = held.get(qualified(markerPath))
    if (cur != null && cur.threadId == Thread.currentThread().getId)
      Some(cur.token)
    else None
  }

  /** Filesystem- and table-name-safe short form of the CURRENT
    * THREAD's lease token on `markerPath` (12 alnum chars — the
    * token's UUID entropy), for per-writer scratch naming. */
  def scratchTag(markerPath: String): Option[String] =
    heldLeaseToken(markerPath)
      .map(_.replaceAll("[^a-zA-Z0-9]", "").takeRight(12))

  /** Stage-then-swap for a generation commit: `write` receives one
    * lease-token-suffixed SCRATCH path (`<final>__<tag>`) per entry of
    * `finalPaths` to build the generation in; at the FENCED swap each
    * scratch renames into its final path (one atomic rename each — a
    * crashed predecessor's uncommitted final path is deleted first).
    * A stalled writer whose lease was TTL-broken and usurped therefore
    * never interleaves files with the usurper's generation: its writes
    * stay inside its own scratch paths and [[assertLeasesStillHeld]]
    * refuses before the first rename, leaving the debris for the
    * store's vacuum sweep (and [[graft.tools.StoreDoctor]] to flag).
    * Callers commit the manifest AFTER this returns — the manifest
    * swap stays the single commit point. */
  def stageGenerationDir(markerPath: String, finalPaths: Seq[String])
                        (write: Seq[String] => Unit): Unit = {
    val tag = scratchTag(markerPath).getOrElse(throw new IllegalStateException(
      s"stageGenerationDir requires the writer lease at $markerPath"))
    val scratch = finalPaths.map(f => s"${f}__$tag")
    val (fs, _) = of(finalPaths.head)
    scratch.foreach(p => fs.delete(new Path(p), true): Unit) // own retry debris
    write(scratch)
    assertLeasesStillHeld()
    scratch.zip(finalPaths).foreach { case (from, to) =>
      fs.delete(new Path(to), true): Unit // a crashed predecessor's uncommitted leftovers
      require(fs.rename(new Path(from), new Path(to)),
        s"generation commit: rename $from -> $to failed")
    }
  }

  /** The writer-lease bracket of a DIR-LAYOUT store (marker
    * `<dir>/__writer`) — what every mutation verb of the two-tier, NSW
    * and flat IVF stores wraps its read-modify-write in. Re-entrant, so
    * composed verbs (refit → save → vacuum) take it once; the NSW
    * verbs that also rewrite the flat store nest its lease inside
    * their own (always nsw-first, so no deadlock). */
  def withStoreLease[T](dir: String)(body: => T): T =
    withWriterLease(writerMarkerPath(dir))(body)

  /** COMMIT the next generation of a dir-per-generation store: under
    * the store's lease, read the head, build `g<head+1>` in the
    * lease-tagged scratch dir handed to `write`, run the fenced swap
    * ([[stageGenerationDir]]), then commit `dir/manifest` — the single
    * commit point. A crash anywhere before the manifest swap leaves
    * readers on the previous complete generation. Returns the
    * committed generation. */
  def commitGenerationDir(dir: String)(write: String => Unit): Long =
    withStoreLease(dir) {
      val gen = readManifest(s"$dir/manifest").getOrElse(0L) + 1L
      stageGenerationDir(writerMarkerPath(dir), Seq(s"$dir/g$gen"))(g => write(g.head))
      commitManifest(s"$dir/manifest", gen)
      gen
    }

  /** Retention for a dir-per-generation store ([[listGenerationDirs]]):
    * drop all but the newest `keepLast` COMMITTED generations and sweep
    * the orphaned scratch dirs of every writer but the current one (a
    * crashed or usurped writer's). Generations above the manifest (an
    * in-flight writer's) are never touched; a store with no manifest
    * (never committed, or legacy flat layout) is left alone. Safe
    * beside readers pinned to any RETAINED generation. Returns the
    * head generation, None when nothing is committed. */
  def vacuumGenerationDirs(dir: String, keepLast: Int): Option[Long] =
    withStoreLease(dir) {
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      val layout = listGenerationDirs(dir)
      if (layout.head.isDefined) {
        layout.committed.dropRight(keepLast).foreach(g => deleteChild(dir, s"g$g"))
        val mine = scratchTag(writerMarkerPath(dir))
        layout.scratch.foreach { case (name, tag) =>
          if (!mine.contains(tag)) deleteChild(dir, name)
        }
      }
      layout.head
    }

  /** The root a read of a dir-per-generation store resolves: with no
    * `atGeneration`, the head generation's `g<n>` dir — or `dir`
    * itself for a legacy flat (pre-generational) store; with one, that
    * generation's dir when [[committedGenerationDirs]] lists it, else
    * the [[unreadableGeneration]] refusal naming `kind`. */
  def generationRoot(dir: String, atGeneration: Option[Long], kind: String): String =
    atGeneration match {
      case None => readManifest(s"$dir/manifest").fold(dir)(g => s"$dir/g$g")
      case Some(g) =>
        val readable = committedGenerationDirs(dir)
        if (!readable.contains(g)) unreadableGeneration(kind, dir, g, readable)
        s"$dir/g$g"
    }

  /** The lease marker's `(holderToken, ageMs)` when one is present —
    * the StoreDoctor inspection surface. */
  def writerLeaseInfo(markerPath: String): Option[(String, Long)] = {
    val (fs, p) = of(markerPath)
    if (!fs.exists(p)) None
    else
      try {
        val age = System.currentTimeMillis() -
          fs.getFileStatus(p).getModificationTime
        Some((readSmallFile(markerPath).getOrElse("<unreadable>").trim, age))
      } catch { case _: java.io.IOException => None } // released mid-probe
  }

  /** Run `body` holding the writer lease at `markerPath`, releasing on
    * every exit path. THE bracket every store mutation verb wraps its
    * read-modify-write in — composed verbs nest freely (re-entrant on
    * the acquiring thread). */
  def withWriterLease[T](markerPath: String,
                         staleAfterMs: Long = DefaultLeaseTtlMs)(body: => T): T = {
    val lease = acquireWriterLease(markerPath, staleAfterMs)
    try body finally releaseWriterLease(lease)
  }

  /** COMMIT a generation: write `gen` to `path__tmp`, then swap it in
    * with an atomic overwrite rename ([[FileContext]] with
    * `Options.Rename.OVERWRITE` — atomic on HDFS and the local FS), so
    * readers racing a refresh resolve the old complete generation or
    * the new one, never a torn or absent manifest. On stores whose
    * scheme lacks a FileContext implementation (some object stores) it
    * falls back to a CHECKED rename-aside: the old manifest is moved
    * aside (not deleted), the new one renamed in, and on failure the
    * old manifest is restored — paired with [[readManifest]]'s
    * retry-on-absent, the brief window is covered and a failed swap
    * never loses the committed-generation pointer. */
  def commitManifest(path: String, gen: Long): Unit =
    writeFileAtomic(path, gen.toString)

  /** Atomically replace the file at `path` with `content` — the
    * [[commitManifest]] swap generalized to arbitrary small UTF-8
    * content (tmp write + atomic overwrite rename, checked
    * rename-aside fallback). Readers racing the swap see the old
    * complete content or the new, never a torn file. */
  def writeFileAtomic(path: String, content: String): Unit = {
    assertLeasesStillHeld()
    val (fs, p) = of(path)
    val (tmpPath, oldPath) = swapSiblings(path)
    val tmp = new Path(tmpPath)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = FileContext.getFileContext(p.toUri, conf())
      fc.rename(tmp, p, Options.Rename.OVERWRITE)
    } catch {
      // UnsupportedFileSystemException: a scheme with no AbstractFileSystem
      // makes FileContext.getFileContext itself throw (it is an IOException
      // subclass, NOT an UnsupportedOperationException) — object stores
      // like s3a land here, which is exactly the case the fallback exists
      // for.
      case _: UnsupportedOperationException | _: java.io.FileNotFoundException |
          _: org.apache.hadoop.fs.UnsupportedFileSystemException
          if fs.exists(tmp) =>
        val old = new Path(oldPath)
        val hadOld = fs.exists(p)
        if (hadOld) {
          fs.delete(old, false): Unit
          require(fs.rename(p, old), s"commitManifest: failed to move aside $p")
        }
        if (!fs.rename(tmp, p)) {
          // restore the prior pointer before failing — never lose it
          if (hadOld) fs.rename(old, p): Unit
          sys.error(s"commitManifest: rename $tmp -> $p failed; prior manifest restored=$hadOld")
        }
        if (hadOld) fs.delete(old, false): Unit
    }
  }
}
