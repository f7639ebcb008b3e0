package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.StoreFs

/** Ops-facing READ-ONLY audit of the engine's persisted generational
  * stores — the one-command inspection surface for everything the
  * lifecycle verbs leave on disk: manifest vs on-disk generations,
  * tombstone weight vs live rows, orphan and vacuum-eligible
  * generation directories, interrupted-swap leftovers, NSW
  * pending-maintenance markers (the [[graft.operators.NswIndex
  * .repairNsw]] state — serving reads do NOT auto-repair, so the
  * doctor is how a crash between maintenance calls becomes visible),
  * flat∖graph cell divergence, tuning-table provenance (a `tuning`
  * without its `tuning_sample` breaks the staleness refresh), and the
  * two-tier codebook-drift baseline. Never mutates anything: every
  * finding names the remedy verb instead of running it.
  *
  * Five store families:
  *  - `twotier <dir>` — [[graft.operators.PqIndex.saveTwoTier]]
  *    (`manifest`, `g<n>/{centroids,codebooks,codes,full}`,
  *    `tombstones`, tuning tables, `codebook_fit`);
  *  - `nsw <flatDir> <nswDir>` — [[graft.operators.NswIndex.saveNsw]]
  *    beside its flat index (`manifest`, `g<n>/{graph,entries}`,
  *    `pending_cells`, the generation-scoped deletion ledger
  *    `tombstones`, tuning tables);
  *  - `ivf <dir>` — [[graft.operators.IvfIndex.save]] (flat layout:
  *    `centroids`, `index/cluster=*`, centroid-swap leftovers, tuning
  *    tables);
  *  - `dedup <pathPrefix>` — [[graft.operators.TextDedup
  *    .writeDedupStoreBucketed]] (prefix layout:
  *    `<prefix>_manifest`, `<prefix>_g<n>_{fp,bands,mh}`,
  *    `<prefix>_tombstones`, legacy-fp format guard);
  *  - `aggstore <dir>` — [[graft.streaming.EventStreams
  *    .materializedAggStore]] (marker-committed `batch_id=<n>`
  *    generations: torn unmarked dirs, markers with missing data,
  *    vacuum-eligible history).
  *
  * Each audit reads its family's one layout listing —
  * [[StoreFs.listGenerationDirs]] (two-tier, NSW),
  * [[graft.operators.TextDedup.listDedupStore]] (dedup),
  * [[graft.streaming.EventStreams.listAggStore]] (aggstore) — the same
  * parse the family's vacuum and readable-generation listing use, so
  * the doctor holds no copy of any store's naming: it keeps only the
  * findings. The manifest, in-flight, swap-leftover and scratch
  * findings of the dir and dedup families come from one function
  * ([[spineFindings]]).
  *
  * CLI: `sbt "runMain graft.tools.StoreDoctor <family> <path...>"` —
  * prints one line per finding, exit 1 iff any `error` finding.
  */
object StoreDoctor {

  /** One audit observation. `severity` ∈ ok | info | warn | error:
    * `error` = the store will misbehave (missing tables, pending
    * maintenance, legacy format with tombstones); `warn` = degraded or
    * at-risk (interrupted swap leftovers, in-flight generations, heavy
    * tombstone weight, missing tuning sample); `info` = noteworthy
    * state (vacuum-eligible history, stale audit rows); `ok` =
    * positive confirmation of the store's spine. */
  final case class Finding(store: String, kind: String, severity: String,
                           detail: String)

  private def exists(path: String): Boolean = {
    val (fs, p) = StoreFs.of(path)
    fs.exists(p)
  }

  private def rows(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).count()

  /** The SHARED TIME-TRAVEL audit — one implementation of the
    * historic-read contract's doctor face for all four store families
    * (the discovery/refusal surface was hoisted into
    * [[StoreFs.committedGenerationDirs]]/`unreadableGeneration`; this
    * is its audit half):
    *  - COHERENCE: the committed head must itself be in the family's
    *    readable-generation set — a head the family's `loadXAt`
    *    discovery cannot resolve means head reads and historic reads
    *    disagree about what exists;
    *  - HISTORY: readable generations below the head are listed
    *    uniformly as time-travel targets (vacuum-eligible only once no
    *    reader is pinned to them);
    *  - OVERLAY RETENTION: while any readable generation predates a
    *    recorded delete (`overlay = (name, maxDeleteGen)` — the NSW
    *    deletion ledger, the aggstore retraction table), the overlay
    *    must be retained (deleted content must stay deleted on
    *    time-travel reads); once nothing readable predates it, it is
    *    inert and the family's vacuum releases it. Families whose
    *    tombstones are store-wide rather than generation-scoped
    *    (two-tier, dedup) carry that retention note on their
    *    `tombstones` weight finding instead. */
  private[tools] def auditTimeTravel(store: String, kind: String,
                                     head: Option[Long], readable: Seq[Long],
                                     overlay: Option[(String, Long)] = None
                                    ): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    head.foreach { h =>
      if (!readable.contains(h))
        out += Finding(store, "time-travel", "error",
          s"committed head generation g$h of this $kind is not in the " +
            s"readable set ${readable.map("g" + _).mkString("[", ", ", "]")} " +
            "— head and historic reads disagree about what exists; repair " +
            "the store before trusting any read")
      else {
        val hist = readable.filter(_ < h)
        if (hist.nonEmpty)
          out += Finding(store, "time-travel", "info",
            s"${hist.size} readable historical generation(s) " +
              s"(${hist.map("g" + _).mkString(", ")}) besides head g$h — " +
              "time-travel targets; vacuum-eligible once no reader is " +
              "pinned to them")
        else
          out += Finding(store, "time-travel", "ok",
            s"head g$h is the only readable generation")
      }
    }
    overlay.foreach { case (name, maxGen) =>
      val scrubbed = readable.filter(_ < maxGen)
      if (scrubbed.nonEmpty)
        out += Finding(store, "time-travel", "info",
          s"$name records deletes through generation g$maxGen — historic " +
            s"reads of ${scrubbed.map("g" + _).mkString(", ")} scrub them " +
            "(deleted content must stay deleted on time-travel reads); " +
            "the overlay is retained until that history is vacuumed")
      else
        out += Finding(store, "time-travel", "info",
          s"$name is inert — no readable generation predates a recorded " +
            "delete; the family's vacuum releases it")
    }
    out.result()
  }

  /** The spine findings the dir-layout (two-tier, NSW) and dedup
    * families share, read off the family's listing: manifest presence
    * (generations on disk without one are a first-build crash),
    * generations above the manifest (an in-flight or crashed writer),
    * interrupted manifest-swap leftovers, and orphaned per-writer
    * scratch ([[StoreFs.stageGenerationDir]]). Readable-history
    * listing lives in the shared [[auditTimeTravel]]. */
  private def spineFindings(store: String,
                            layout: StoreFs.GenerationLayout): Seq[Finding] = {
    def gens(gs: Seq[Long]) = gs.map("g" + _).mkString(", ")
    val out = Seq.newBuilder[Finding]
    if (layout.head.isEmpty)
      out += (if (layout.aboveHead.nonEmpty)
        Finding(store, "manifest", "error",
          s"generation(s) ${gens(layout.aboveHead)} exist but no committed " +
            "manifest — a first-build crash; rebuild the store (readers " +
            "correctly see it as absent)")
      else Finding(store, "manifest", "info", "no committed store at this path"))
    else if (layout.aboveHead.nonEmpty)
      out += Finding(store, "generations", "warn",
        s"uncommitted generation(s) ${gens(layout.aboveHead)} above the " +
          "manifest — an in-flight or crashed writer; the next commit " +
          "overwrites them")
    layout.swapLeftovers.foreach { leftover =>
      out += Finding(store, "manifest-swap", "warn",
        s"$leftover present — an interrupted manifest swap " +
          "(readManifest covers the window; the next commit cleans it up)")
    }
    val scratch = layout.scratch.map(_._1)
    if (scratch.nonEmpty)
      out += Finding(store, "scratch", "warn",
        s"${scratch.size} orphaned generation-scratch dir(s) " +
          s"(${scratch.mkString(", ")}) — uncommitted debris from a " +
          "crashed or usurped writer; the next mutation's vacuum sweeps " +
          "it, or delete the dir(s)")
    out.result()
  }

  /** [[spineFindings]] of a dir-layout store plus the check that its
    * committed generation holds every one of `tables`. */
  private def auditGenerationDirs(dir: String, layout: StoreFs.GenerationLayout,
                                  tables: Seq[String]): Seq[Finding] =
    spineFindings(dir, layout) ++ layout.head.map { g =>
      val missing = tables.filterNot(t => exists(s"$dir/g$g/$t"))
      if (missing.nonEmpty)
        Finding(dir, "tables", "error",
          s"committed generation g$g is missing ${missing.mkString(", ")} " +
            "— the manifest points at an incomplete generation")
      else
        Finding(dir, "manifest", "ok",
          s"committed generation g$g with ${tables.mkString(", ")}")
    }

  /** Audit the tuning surface shared by all three tuned stores: a
    * `tuning` table without its persisted `tuning_sample` cannot be
    * staleness-refreshed, and the `tuning_check` audit trail reports
    * how often the operating point was found stale. */
  private def auditTuning(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    if (exists(s"$dir/tuning")) {
      if (!exists(s"$dir/tuning_sample"))
        out += Finding(dir, "tuning", "warn",
          "tuning table without a persisted tuning_sample — tuned before " +
            "the sample-persisting tuners; staleness refresh will refuse " +
            "to run until the store is re-tuned")
      else
        out += Finding(dir, "tuning", "ok",
          "operating point persisted with its held-out sample")
      if (exists(s"$dir/tuning_check")) {
        val checks = spark.read.parquet(s"$dir/tuning_check")
        val n = checks.count()
        val stale = checks.filter(org.apache.spark.sql.functions
          .col("stale")).count()
        out += Finding(dir, "tuning-audit", if (stale > 0) "info" else "ok",
          s"$n staleness check(s), $stale found the stored point stale")
      }
    }
    out.result()
  }

  /** Writer-lease state ([[StoreFs.acquireWriterLease]]): a FRESH
    * marker is an active writer (normal, but concurrent mutations will
    * refuse), a marker past the TTL is a lease abandoned by a crashed
    * writer — mutations auto-break it on their next acquire, and the
    * explicit remedy is [[StoreFs.breakWriterLease]]. The aggstore
    * family carries no lease: its single writer is the streaming
    * query, whose checkpoint already enforces exclusivity. */
  private def writerLeaseFinding(store: String, markerPath: String,
                                 staleAfterMs: Long = StoreFs.DefaultLeaseTtlMs
                                ): Seq[Finding] =
    StoreFs.writerLeaseInfo(markerPath) match {
      case None =>
        Seq(Finding(store, "writer-lease", "ok", "no writer lease held"))
      case Some((holder, age)) if age > staleAfterMs =>
        Seq(Finding(store, "writer-lease", "error",
          f"STALE writer lease held by $holder (age ${age / 1000.0}%.1f s > " +
            f"${staleAfterMs / 1000.0}%.1f s TTL) — abandoned by a crashed " +
            "writer; the next mutation auto-breaks it after the TTL, or run " +
            "StoreFs.breakWriterLease to clear it now"))
      case Some((holder, age)) =>
        Seq(Finding(store, "writer-lease", "warn",
          f"writer lease held by $holder (age ${age / 1000.0}%.1f s) — an " +
            "active writer; concurrent mutations refuse until it releases"))
    }

  /** Tombstone weight vs live rows (summed over `livePaths`, a
    * segmented store's per-segment tables) — flags compaction when the
    * dead weight passes a quarter of the live store. `historyGens`
    * counts readable generations besides the head: while it is positive a compact deliberately
    * KEEPS the tombstone file (a historic read must not resurrect
    * deleted content), so the finding explains the retention instead
    * of recommending a compact that would not release it. */
  private def tombstoneFinding(spark: SparkSession, store: String,
                               tombPath: String, livePaths: Seq[String],
                               compactVerb: String,
                               historyGens: Long): Seq[Finding] =
    if (!exists(tombPath)) Seq.empty
    else {
      val dead = rows(spark, tombPath)
      val live = livePaths.map(rows(spark, _)).sum
      val pct = if (live > 0) 100.0 * dead / live else 100.0
      val sev = if (dead >= live / 4 && dead > 0) "warn" else "info"
      val note =
        if (historyGens > 0)
          s" — retained while $historyGens historical generation(s) stay " +
            "readable (deleted content must stay deleted on time-travel " +
            "reads); the file is released by a compact once history is " +
            "vacuumed"
        else if (sev == "warn") s" — $compactVerb recommended"
        else ""
      Seq(Finding(store, "tombstones", sev,
        f"$dead tombstoned id(s) against $live live rows ($pct%.1f%%)" + note))
    }

  /** Audit a [[graft.operators.PqIndex.saveTwoTier]] store. */
  def auditTwoTier(spark: SparkSession, dir: String): Seq[Finding] = {
    val layout = StoreFs.listGenerationDirs(dir)
    val tomb = layout.head.toSeq.flatMap { g =>
      tombstoneFinding(spark, dir, s"$dir/tombstones", Seq(s"$dir/g$g/full"),
        "PqIndex.compactTwoTier",
        historyGens = math.max(0, layout.committed.size - 1))
    }
    val drift =
      if (exists(s"$dir/tuning") && !exists(s"$dir/codebook_fit"))
        Seq(Finding(dir, "codebook-fit", "info",
          "no codebook drift baseline (codebook_fit) — the next " +
            "tuneTwoTierNProbe writes it; until then refreshTwoTierTuning " +
            "cannot gate a refit recommendation"))
      else Seq.empty
    auditGenerationDirs(dir, layout, Seq("centroids", "codebooks", "codes", "full")) ++
      auditTimeTravel(dir, "two-tier store", layout.head, layout.committed) ++
      tomb ++ drift ++ auditTuning(spark, dir) ++
      writerLeaseFinding(dir, StoreFs.writerMarkerPath(dir))
  }

  /** Audit a flat [[graft.operators.IvfIndex.save]] store (the
    * non-generational layout: `centroids` + `index/cluster=*`). */
  def auditIvf(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    val haveCent = exists(s"$dir/centroids")
    val haveIdx = exists(s"$dir/index")
    if (!haveCent && !haveIdx)
      out += Finding(dir, "layout", "info", "no flat index at this path")
    else if (!haveCent || !haveIdx)
      out += Finding(dir, "layout", "error",
        s"flat index is missing ${if (haveCent) "index" else "centroids"} — " +
          "half-written store")
    else
      out += Finding(dir, "layout", "ok",
        s"centroids + ${StoreFs.childNames(s"$dir/index")
          .count(_.startsWith("cluster="))} cell partition(s)")
    val names = StoreFs.childNames(dir)
    import graft.operators.IvfIndex.{centroidsOld, centroidsTmp}
    Seq(centroidsTmp, centroidsOld).filter(names.contains).foreach { leftover =>
        out += Finding(dir, "centroid-swap", "warn",
          s"$leftover present — an interrupted splitOversizedCells swap; " +
            "IvfIndex.load rolls it forward/back automatically")
      }
    out.result() ++ auditTuning(spark, dir) ++
      writerLeaseFinding(dir, StoreFs.writerMarkerPath(dir))
  }

  /** Audit a [[graft.operators.NswIndex.saveNsw]] store beside its
    * flat index. The pending-cells marker is the load-bearing check:
    * serving reads do not auto-repair, so a crash between maintenance
    * verbs silently serves stale cells until `repairNsw` runs — the
    * doctor is where that state surfaces. */
  def auditNsw(spark: SparkSession, flatDir: String,
               nswDir: String): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    val layout = StoreFs.listGenerationDirs(nswDir)
    out ++= auditGenerationDirs(nswDir, layout, Seq("graph", "entries"))
    out ++= auditTimeTravel(nswDir, "NSW store", layout.head, layout.committed,
      overlay = graft.operators.NswIndex.effectiveLedger(spark, nswDir)
        .flatMap { led =>
          import org.apache.spark.sql.functions.{col, max}
          val m = led.agg(max(col("deleted_at_gen"))).head()
          if (m.isNullAt(0)) None
          else Some(("the deletion ledger", m.getLong(0)))
        })
    graft.operators.NswIndex.readPendingCells(nswDir) match {
      case Some(cells) =>
        out += Finding(nswDir, "pending-maintenance", "error",
          s"pending-cells marker for ${cells.length} cell(s) " +
            s"(${cells.mkString(", ")}) — an interrupted delete/split; " +
            "serving reads do NOT auto-repair: run NswIndex.repairNsw " +
            "(or any maintenance verb, which repairs first)")
      case None =>
        out += Finding(nswDir, "pending-maintenance", "ok",
          "no pending-maintenance marker")
    }
    // the generation-scoped deletion ledger ([[graft.operators
    // .NswIndex.deleteFromNsw]]): unlike the sibling families' store-
    // wide tombstones it never affects head reads (the head is an
    // eager rebuild) — it exists solely so loadNswAt historic reads
    // cannot resurrect deleted ids, and vacuumNsw releases it once no
    // readable generation predates any recorded delete
    if (exists(s"$nswDir/tombstones")) {
      graft.operators.NswIndex.effectiveLedger(spark, nswDir) match {
        case None =>
          // dir exists but no part file ever committed: a crash inside
          // the deleteFromNsw ledger append — no intent was recorded
          // and the flat rewrite that follows it never ran; reads and
          // vacuum treat it as absent (vacuumNsw sweeps the debris)
          out += Finding(nswDir, "deletion-ledger", "warn",
            "tombstones/ holds only a torn append's uncommitted debris " +
              "(no part file) — a crash during the deletion-ledger " +
              "append; no deletion intent committed, historic reads " +
              "ignore it, the next vacuumNsw sweeps it; re-run the " +
              "delete if it is still wanted")
        case Some(led) =>
          // which historic generations the ledger scrubs (and when it
          // is releasable) is the shared time-travel finding's job —
          // this one carries the family-specific counts
          val n = led.count()
          val revoked = graft.operators.NswIndex.revocations(spark, nswDir)
            .map(_.count()).getOrElse(0L)
          val rev = if (revoked > 0)
            s" ($revoked revoked by repairNsw — deletes verified never " +
              "completed)" else ""
          out += Finding(nswDir, "deletion-ledger", "info",
            s"$n effective deletion-ledger entr(y/ies)$rev — head reads " +
              "are unaffected (eager rebuild); see the time-travel " +
              "finding for the generations it scrubs")
      }
    }
    // flat∖graph divergence: cells present in the flat store but
    // absent from the committed graph (the mid-split crash window
    // repairNsw's cell diff exists for)
    if (exists(s"$flatDir/index") && layout.head.isDefined) {
      import org.apache.spark.sql.functions.col
      val (_, indexed) = graft.operators.IvfIndex.load(spark, flatDir)
      val (graph, _) = graft.operators.NswIndex.loadNsw(spark, nswDir)
      // the diff stays in Spark (left_anti of two one-column cell
      // frames); only the (typically empty) diff is collected
      val flatCells = indexed.select(col("cluster").cast("long").as("cluster"))
        .distinct()
      val missing = flatCells
        .join(graph.select(col("cluster").cast("long").as("cluster")).distinct(),
          Seq("cluster"), "left_anti")
        .collect().map(_.getLong(0)).sorted
      if (missing.nonEmpty)
        out += Finding(nswDir, "flat-vs-graph", "error",
          s"flat store has cell(s) ${missing.mkString(", ")} absent from " +
            "the graph — a crash inside a split before the marker named " +
            "them; run NswIndex.repairNsw")
      else
        out += Finding(nswDir, "flat-vs-graph", "ok",
          s"graph covers all ${flatCells.count()} flat cell(s)")
    }
    out.result() ++ auditTuning(spark, nswDir) ++
      writerLeaseFinding(nswDir, StoreFs.writerMarkerPath(nswDir))
  }

  /** Audit a [[graft.operators.TextDedup.writeDedupStoreBucketed]]
    * store (prefix layout, SEGMENTED: the committed generation's
    * descriptor lists the segments it references — each
    * [[graft.operators.TextDedup.appendToDedupStoreBucketed]] adds
    * one). */
  def auditDedup(spark: SparkSession, pathPrefix: String): Seq[Finding] = {
    import graft.operators.TextDedup
    val out = Seq.newBuilder[Finding]
    val layout = TextDedup.listDedupStore(pathPrefix)
    out ++= spineFindings(pathPrefix, layout.spine)
    layout.spine.head.foreach { g =>
      // STRICT segment resolution (the read-path rule): a segmented
      // store whose head descriptor is lost has an UNKNOWABLE segment
      // set — the lenient fallback would audit it healthy with a
      // carry-segment-less guess, hiding exactly the state the reads
      // refuse
      val segsOrErr =
        try Right(TextDedup.segmentsOfStrict(pathPrefix, g))
        catch { case e: IllegalStateException => Left(e.getMessage) }
      segsOrErr match {
        case Left(msg) =>
          // the head descriptor is lost: the segment set is UNKNOWABLE,
          // so every segment-dependent sub-check (superseded history,
          // segment count, tombstone weight, legacy-format scan) is
          // skipped — a guessed set would report live carried segments
          // as "superseded ... vacuum-eligible" and tempt an operator
          // into deleting tables the head still depends on
          out += Finding(pathPrefix, "manifest", "error", msg)
        case Right(segs) =>
          val readableGens = TextDedup.readableGenerations(pathPrefix, layout)
          out ++= auditTimeTravel(pathPrefix, "dedup store", Some(g), readableGens)
          // segments LIVE if any READABLE generation references them —
          // not just the head: after a compact with retention ≥ 2 the
          // retained pre-compact generation still reads through its own
          // (pre-fold) segments, and flagging those vacuum-eligible
          // would tempt an operator into breaking its historic reads
          val segNums = (segs ++ readableGens.filter(_ != g).flatMap(h =>
              TextDedup.segmentsOf(pathPrefix, h)))
            .flatMap(_.stripPrefix("g").toLongOption).toSet
          val missing = segs.filter(layout.tablesOf(_) != Set("fp", "bands", "mh"))
          if (missing.nonEmpty)
            out += Finding(pathPrefix, "tables", "error",
              s"committed generation g$g references segment(s) " +
                s"${missing.mkString(", ")} with missing or incomplete " +
                "tables — the manifest points at an unreadable generation")
          else
            out += Finding(pathPrefix, "manifest", "ok",
              s"committed generation g$g with fp, bands, mh across " +
                s"${segs.size} segment(s)")
          // read-side cost grows with the append chain: every ingest
          // joins each segment's three tables
          if (segs.size > 16)
            out += Finding(pathPrefix, "segments", "warn",
              s"${segs.size} segments — every classification joins each " +
                "segment's tables; TextDedup.compactDedupStore folds them " +
                "(or pass compactAfterSegments to the append)")
          else if (segs.size > 1)
            out += Finding(pathPrefix, "segments", "info",
              s"${segs.size} segments from the append chain — " +
                "compact-eligible (TextDedup.compactDedupStore)")
          // tables below the manifest that are NOT live segments of the
          // committed generation are superseded history
          val history = layout.spine.committed.filter(n => n < g && !segNums.contains(n))
          if (history.nonEmpty)
            out += Finding(pathPrefix, "generations", "info",
              s"${history.length} superseded committed generation(s) " +
                s"(g${history.mkString(", g")}) retained — vacuum-eligible")
          if (exists(s"${pathPrefix}_tombstones")) {
            out ++= tombstoneFinding(spark, pathPrefix,
              s"${pathPrefix}_tombstones",
              segs.map(seg => s"${pathPrefix}_${seg}_fp"),
              "TextDedup.compactDedupStore",
              historyGens = math.max(0, readableGens.size - 1))
            // legacy distinct-fp layout cannot honor tombstones
            segs.foreach { seg =>
              val fp = spark.read.parquet(s"${pathPrefix}_${seg}_fp")
              if (!fp.columns.contains("s_id"))
                out += Finding(pathPrefix, "format", "error",
                  s"tombstones present but segment $seg's fp table is in " +
                    "the legacy distinct-fingerprint layout (no s_id) — " +
                    "deletes cannot be honored; rebuild with " +
                    "writeDedupStoreBucketed")
            }
          }
      }
    }
    out.result() ++
      writerLeaseFinding(pathPrefix, s"${pathPrefix}__writer")
  }

  /** Audit a [[graft.streaming.EventStreams.materializedAggStore]]
    * store: every committed marker must have its data dir (a marker
    * without data is real corruption — vacuum deletes markers FIRST,
    * so no crash window produces it), unmarked data dirs below the
    * committed watermark are torn crash debris the vacuum sweeps, and
    * an unmarked dir at/above the watermark is an in-flight writer. */
  def auditAggStore(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    val layout = graft.streaming.EventStreams.listAggStore(dir)
    val committed = layout.committed
    def ids(gs: Seq[Long]) = gs.mkString("batch_id=", ", batch_id=", "")
    if (committed.isEmpty && layout.dataDirs.isEmpty) {
      out += Finding(dir, "generations", "info",
        "no committed store at this path")
      return out.result()
    }
    if (committed.isEmpty)
      out += Finding(dir, "generations", "error",
        s"data dir(s) ${ids(layout.dataDirs)} but no commit marker — a " +
          "first-batch crash; the stream's replay rewrites them (readers " +
          "correctly see no committed generation)")
    else {
      val newest = committed.last
      val missingData = committed.filterNot(layout.dataDirs.contains)
      if (missingData.nonEmpty)
        out += Finding(dir, "generations", "error",
          s"commit marker(s) for batch ${missingData.mkString(", ")} have no " +
            "data dir — markers are deleted before data on every legitimate " +
            "path, so this is real corruption; restore the data or delete " +
            "the marker(s)")
      else
        out += Finding(dir, "generations", "ok",
          s"${committed.length} committed generation(s), newest batch_id=" +
            s"$newest, every marker backed by data")
      val (torn, inFlight) = layout.unmarked.partition(_ < newest)
      if (torn.nonEmpty)
        out += Finding(dir, "torn-writes", "warn",
          s"unmarked data dir(s) ${ids(torn)} below the committed " +
            "watermark — crash debris; vacuumGenerations sweeps them")
      if (inFlight.nonEmpty)
        out += Finding(dir, "generations", "warn",
          s"unmarked data dir(s) ${ids(inFlight)} at/above the watermark — " +
            "an in-flight or crashed batch; its replay rewrites the dir and " +
            "commits the marker")
      out ++= auditTimeTravel(dir, "agg store", committed.lastOption,
        committed,
        overlay = graft.streaming.EventStreams
          .retractionWatermark(spark, dir)
          .map(("the retraction table", _)))
    }
    out.result()
  }

  private def render(findings: Seq[Finding]): Unit =
    findings.foreach { f =>
      println(f"${f.severity.toUpperCase}%-5s [${f.kind}] ${f.store}: ${f.detail}")
    }

  def main(args: Array[String]): Unit = {
    val usage = "usage: StoreDoctor twotier <dir> | nsw <flatDir> <nswDir> " +
      "| ivf <dir> | dedup <pathPrefix> | aggstore <dir>"
    require(args.length >= 2, usage)
    val spark = graft.Sessions.local()
    val findings = args(0) match {
      case "twotier" => auditTwoTier(spark, args(1))
      case "nsw" =>
        require(args.length >= 3, usage)
        auditNsw(spark, args(1), args(2))
      case "ivf" => auditIvf(spark, args(1))
      case "dedup" => auditDedup(spark, args(1))
      case "aggstore" => auditAggStore(spark, args(1))
      case other => sys.error(s"unknown store family '$other'; $usage")
    }
    render(findings)
    spark.stop()
    if (findings.exists(_.severity == "error")) sys.exit(1)
  }
}
