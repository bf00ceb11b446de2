package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.applyops.TableSpec
import graft.feed.Changefeed
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** The logical-replication loop: one Structured Streaming query that tails a
  * changefeed directory and applies it to a [[SnapshotTable]].
  *
  * This is the Spark re-expression of the reference's per-schema loop
  * (reference: internal/source/logical/loop.go, internal/source/cdc/
  * resolver.go:347-465): the channel/goroutine machinery collapses into
  * micro-batches, and `foreachBatch` supplies the transactional boundary the
  * reference gets from `OnBegin`/`OnCommit`.
  *
  * Per micro-batch, in staged (transactional) mode:
  *   1. parse ndjson lines → mutations + resolved markers;
  *   2. stage mutations durably (idempotent append — the staging state lives
  *      in parquet, not the Spark state store, so it is unbounded and
  *      restart-safe);
  *   3. fold resolved markers into the fence: newFence = max resolved seen;
  *      non-monotonic markers are silently ignored exactly like the
  *      reference's `Mark` (resolver.go:154-157);
  *   4. if the fence advanced: read staged mutations in
  *      `(committedFence, newFence]` (partition-pruned), run the apply
  *      planner (drift checks → transforms → salted LWW dedup), CAS-gate
  *      against current rows if configured, and MERGE into the snapshot
  *      with idempotence key = the fence — replays of the same window
  *      no-op;
  *   5. retire staging partitions below the fence (metadata-only drop).
  *
  * Steps 4-5, the changelog and the vacuum are [[FenceApply.toFence]], the
  * same step [[MultiTableLoop]] runs per topic.
  *
  * Immediate mode (`--immediate` in the reference,
  * internal/source/logical/config.go:73-75) skips staging and fencing and
  * merges each micro-batch directly with idempotence key = the batch's
  * file-set key ([[FenceApply.immediate]]); changelog and vacuum follow
  * every commit as in staged mode.
  *
  * Exactly-once: Spark's checkpoint makes file delivery at-least-once per
  * batch id; the staging append markers, the read-side dedup, and the
  * commit-log idempotence keys make every step replay-safe; and because the
  * table itself is an LWW register per key (max-HLC row wins, deletes are
  * tombstones), replay from ANY checkpoint converges to the same final
  * state.
  */
final class ReplayLoop(
    spark: SparkSession,
    val feedDir: String,
    val table: SnapshotTable,
    val stage: StagedStore,
    val checkpointDir: String,
    initialSpec: TableSpec,
    val immediate: Boolean = false,
    val saltBuckets: Int = 64,
    val maxFilesPerTrigger: Int = 8,
    /** expire snapshot versions older than this many after each merge
      * (None = never) — keeps long-running tables' storage bounded
      */
    val vacuumKeepVersions: Option[Int] = Some(4),
    /** byte budget per micro-batch — the reference's `bytesInFlight`
      * backpressure knob (internal/source/logical/config.go:35). The vanilla
      * file source caps by file COUNT, so the budget is converted to a count
      * from the observed feed file sizes at start; the smaller of this and
      * `maxFilesPerTrigger` wins.
      */
    val maxBytesPerTrigger: Option[Long] = None,
    /** Envelope codec: raw lines `(value, src_file)` → the unified feed
      * schema. Defaults to the plain ndjson changefeed; pass
      * `Envelopes.parseQueryLines(_, pkCols)` for CDC-query feeds or
      * `Envelopes.parseWebhookQueryLines(_, pkCols)` for webhook-query
      * feeds — the loop machinery (staging, fencing, merge) is
      * envelope-agnostic, mirroring the reference's per-URL handler
      * dispatch (internal/source/cdc/handler.go).
      */
    val parse: DataFrame => DataFrame = Changefeed.parseLines(_),
    /** Also derive resolved fences from `<33-digit>.RESOLVED` marker FILES
      * in the feed directory — the changefeed cloud-storage layout, where
      * the resolved signal is the file NAME, not a payload line (reference:
      * internal/source/cdc/resolved.go:36-101). Markers are observed via a
      * driver-side directory listing (metadata only) and gated on delivery
      * progress: a marker fences only when NO data file older than it (by
      * mtime) can still be undelivered, judged against a per-batch
      * delivered-mtime high-water persisted with the checkpoint — so
      * neither a multi-batch catch-up nor a post-wipe redelivery can fence
      * past data the source has listed but not yet staged
      * ([[safeMarkerFence]]). Trailing markers (newer than every data
      * file) fence at the [[runAvailableNow]] drain, through the same gate.
      */
    val resolvedFromFilenames: Boolean = false,
    /** Opt-in CDC-out: after every commit, publish the commit's changelog
      * segment (insert/update/delete row images) under this directory via
      * [[SnapshotTable.emitChangelog]] — the reference's consumer-facing
      * fan-out (internal/source/logical/loop.go:452-486). Idempotent and
      * self-healing: each merge emits every segment still missing, so a
      * crash between commit and emission is repaired by the next batch.
      */
    val changelogDir: Option[String] = None
) {

  /** High-water mtime (millis) over all DATA files delivered so far — the
    * filename-marker gate's ground truth ("anything with mtime < hw was
    * delivered; anything above it may not have been"). Files AT the
    * high-water tick are ambiguous by mtime alone: with coarse filesystem
    * timestamps or burst writes, several files share one tick while
    * `maxFilesPerTrigger` caps what one batch delivers — so the gate also
    * persists the IDENTITY (path set) of delivered files at exactly the
    * high-water mtime, and a same-tick file NOT in that set counts as
    * undelivered. Persisted per batch in a file scoped to the CHECKPOINT
    * directory: the streaming checkpoint decides which files count as
    * delivered, so the two must live and die together — a wiped checkpoint
    * redelivers everything and rebuilds the high-water from zero, while a
    * surviving checkpoint keeps it exact even for batches that never
    * triggered a merge. The set is bounded: only paths sharing the single
    * newest delivered mtime are kept (older ticks are covered by `< hw`).
    */
  private def hwFile = java.nio.file.Paths.get(checkpointDir, "graft_delivered_hw")

  private var deliveredMtimeHw: Long = 0L

  /** Paths (scheme-stripped) of delivered data files whose mtime equals
    * [[deliveredMtimeHw]] exactly.
    */
  private var deliveredAtHw: Set[String] = Set.empty

  locally {
    val (fromFileHw, fromFileSet) =
      try {
        if (java.nio.file.Files.exists(hwFile)) {
          val ls = java.nio.file.Files.readString(hwFile).linesIterator.toSeq
          (ls.headOption.map(_.trim.toLong).getOrElse(0L),
            ls.drop(1).map(_.trim).filter(_.nonEmpty).toSet)
        } else (0L, Set.empty[String])
      } catch { case _: Exception => (0L, Set.empty[String]) }
    // legacy fallback: rounds that persisted the high-water as a commit
    // metric only (no identity set — conservative: same-tick files then
    // count undelivered, which can only delay a fence)
    val legacy =
      table.log.latest().flatMap(_.metric("delivered_mtime_hw")).getOrElse(0L)
    if (legacy > fromFileHw) {
      deliveredMtimeHw = legacy
      deliveredAtHw = Set.empty
    } else {
      deliveredMtimeHw = fromFileHw
      deliveredAtHw = fromFileSet
    }
  }

  private def advanceDeliveredHw(delivered: Seq[(String, Long)]): Unit =
    if (delivered.nonEmpty && delivered.map(_._2).max >= deliveredMtimeHw) {
      val newHw = math.max(deliveredMtimeHw, delivered.map(_._2).max)
      val atTick = delivered.collect {
        case (p, m) if m == newHw => ReplayLoop.normalizePath(p)
      }.toSet
      deliveredAtHw =
        if (newHw == deliveredMtimeHw) deliveredAtHw ++ atTick else atTick
      deliveredMtimeHw = newHw
      java.nio.file.Files.createDirectories(hwFile.getParent)
      java.nio.file.Files.writeString(
        hwFile,
        (deliveredMtimeHw.toString +: deliveredAtHw.toSeq.sorted)
          .mkString("\n")
      )
    }

  private val applier = new FenceApply(
    spark, table, stage, initialSpec, saltBuckets, changelogDir, vacuumKeepVersions, "replay")

  def committedFence: Hlc = applier.fence

  /** Process one micro-batch of raw ndjson lines. Public for batch-mode
    * replay and tests; the streaming query calls this via foreachBatch.
    */
  def processBatch(linesRaw: DataFrame, batchId: Long): Unit = {
    val batch = FenceApply.intake(linesRaw, batchId, parse)
    val muts = batch.muts.select("key", "data", "nanos", "logical", "src_file")
    val lineage = s"batch=$batchId" +: batch.files

    if (immediate) {
      applier.immediate(muts, batch.stageKey, batch.resolved, lineage)
      return
    }

    val pkSrc = initialSpec.pkCols
      .map(c => initialSpec.config.sourceNames.getOrElse(c, c))
    FenceApply.timed("stage-append", batchId) {
      // drift summary (arity / field set / PK presence) rides this write;
      // violations fail the batch here, fields land in the field-set file.
      // A PK-less spec synthesizes its rowid at plan time, so key-arity /
      // PK-presence validation does not apply while staging.
      stage.append(
        muts,
        batch.stageKey,
        validatePk =
          if (initialSpec.pkCols.isEmpty) None
          else Some((initialSpec.pkCols.size, pkSrc))
      )
    }

    // advance the filename-marker gate: everything in this batch was
    // delivered, so the delivered-data high-water moves to the newest
    // mtime among this batch's files
    if (resolvedFromFilenames && batch.files.nonEmpty) {
      advanceDeliveredHw(
        batch.files.flatMap(f => ReplayLoop.fileMtimeMillis(f).map(f -> _))
      )
    }
    val markerFence: Option[Hlc] =
      if (!resolvedFromFilenames) None else safeMarkerFence()

    (batch.resolved.toSeq ++ markerFence).maxOption.foreach { target =>
      mergeToFence(target, batchId, lineage)
    }
  }

  /** Newest `.RESOLVED` marker that is SAFE to fence: no data file older
    * than the marker (by mtime) can still be undelivered. "Undelivered"
    * is conservative — any data file with mtime above the delivered
    * high-water counts, and so does a file AT the high-water tick whose
    * path is not in the delivered identity set (coarse mtimes / burst
    * writes put several files on one tick while `maxFilesPerTrigger` caps
    * a batch; mtime alone cannot tell the delivered ones apart) — so the
    * gate can only delay a fence (the marker qualifies one trigger later,
    * or at the post-catch-up drain), never jump ahead of data the stream
    * has listed but not yet staged. A ROWLESS data file above the
    * high-water keeps later markers gated until a newer data file
    * delivers (conservative; markers themselves are exempt because their
    * content is irrelevant by definition).
    */
  private def safeMarkerFence(): Option[Hlc] = {
    val entries = listFeedEntries()
    val minUndeliveredData = entries
      .collect {
        case (p, mtime, false, _)
            if mtime > deliveredMtimeHw ||
              (mtime == deliveredMtimeHw &&
                !deliveredAtHw.contains(
                  ReplayLoop.normalizePath(p.toAbsolutePath.toString)
                )) =>
          mtime
      }
      .minOption
      .getOrElse(Long.MaxValue)
    entries
      .collect {
        case (_, mtime, _, Some(hlc)) if mtime < minUndeliveredData => hlc
      }
      .maxOption
  }

  /** Merge the staged window up to `target` and commit the fence — the
    * shared tail of a resolved event, whether it arrived in-stream, as a
    * `.RESOLVED` marker file, or from the post-catch-up drain.
    */
  private def mergeToFence(target: Hlc, batchId: Long, lineage: Seq[String]): Unit =
    applier.toFence(
      target, batchId, lineage,
      extraMetrics =
        if (resolvedFromFilenames) Map("delivered_mtime_hw" -> deliveredMtimeHw)
        else Map.empty)

  /** Every regular file in the feed tree (depth 2 — top level plus chunk
    * subdirectories): (path, mtime millis, isMarker, parsed marker HLC).
    * ANY `*.RESOLVED` name counts as marker-kind (excluded from the
    * undelivered-data check even when its 33 digits fail to parse — a
    * malformed rowless marker must not block later fences forever); only
    * parseable ones contribute a fence candidate. Driver-side metadata
    * listing only.
    */
  private def listFeedEntries()
      : Seq[(java.nio.file.Path, Long, Boolean, Option[Hlc])] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.exists(dir)) Nil
    else
      scala.util.Using.resource(java.nio.file.Files.walk(dir, 2)) {
        _.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { p =>
            val name = p.getFileName.toString
            val isMarker = name.endsWith(".RESOLVED")
            val hlc =
              if (isMarker) graft.feed.Envelopes.parseResolvedFilename(name)
              else None
            (p, java.nio.file.Files.getLastModifiedTime(p).toMillis, isMarker, hlc)
          }
          .toSeq
      }
  }

  /** Fence trailing `.RESOLVED` markers after a catch-up pass: once the
    * AvailableNow query has terminated, every data file it listed was
    * delivered, so the high-water covers them and [[safeMarkerFence]]'s
    * gate is open for markers newer than all data (the only ones an
    * in-batch fence cannot reach — markers carry no rows, so they never
    * advance the high-water themselves). The gate itself stays authoritative:
    * data that raced into the directory AFTER the pass started (and so may
    * not have been delivered) still blocks markers newer than it.
    */
  def drainResolvedFilenameMarkers(): Unit = if (resolvedFromFilenames) {
    safeMarkerFence().foreach { target =>
      mergeToFence(target, batchId = -1L, Seq("drain=resolved-markers"))
    }
  }

  /** File cap for one trigger: `maxFilesPerTrigger`, tightened by the byte
    * budget divided by the observed mean feed-file size (sampled from the
    * directory listing — metadata only).
    */
  private[graft] def effectiveMaxFiles: Int =
    ReplayLoop.effectiveMaxFiles(feedDir, maxFilesPerTrigger, maxBytesPerTrigger)

  /** Start the continuous streaming query. Backfill ordering: the file
    * source delivers oldest-first (modification time), which matches the
    * reference's backfill scan order over committed timestamps
    * (internal/source/logical/factory.go:219-223) — and the staged merge is
    * order-immune regardless (LWW register + fence).
    */
  def start(trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    spark.readStream
      .option("maxFilesPerTrigger", effectiveMaxFiles)
      .text(s"$feedDir/chunk=*")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()

  /** Catch-up run: process everything currently in the feed, then stop —
    * the reference's backfill mode (loop.go:394-441) as Trigger.AvailableNow.
    * With filename markers enabled, trailing `.RESOLVED` files (markers
    * newer than every data file) are drained after the pass: at that point
    * everything listed was delivered, so the delivery gate is open.
    */
  def runAvailableNow(): Unit = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
    drainResolvedFilenameMarkers()
  }

  /** Age-triggered backfill↔streaming switch, the reference's
    * `BackfillWindow` semantics (internal/source/logical/loop.go:394-441):
    * when the committed consistent point lags `nowNanos` by more than
    * `backfillWindowNanos`, run a maximal-throughput catch-up pass
    * (AvailableNow over everything already in the feed) BEFORE starting the
    * continuous trigger; a fresh table (zero fence) always backfills.
    * Returns the streaming query, plus whether a backfill pass ran.
    *
    * The staleness check is ONE-SHOT, at startup — unlike the reference's
    * loop, which re-enters backfill mode whenever lag exceeds the window
    * mid-stream. A continuous query that falls far behind keeps its
    * trigger; the operator owning the query decides when to cycle it:
    * poll [[isLagging]] (cheap — commit-log metadata only) and, when true,
    * `query.stop()` and call `startAuto` again for a fresh catch-up pass.
    * Deliberate: restarting a Structured Streaming query is the engine's
    * native mode switch, and an in-flight self-restart from inside
    * foreachBatch would deadlock the stream it runs on.
    */
  def startAuto(
      backfillWindowNanos: Long,
      nowNanos: Long = System.currentTimeMillis() * 1000000L,
      trigger: Trigger = Trigger.ProcessingTime("1 second")
  ): (StreamingQuery, Boolean) = {
    val stale = isLagging(backfillWindowNanos, nowNanos)
    if (stale) runAvailableNow()
    (start(trigger), stale)
  }

  /** True when the committed consistent point lags `nowNanos` by more than
    * `backfillWindowNanos` (a zero fence is always lagging). Commit-log
    * metadata only — safe to poll from a monitor thread while the
    * continuous query runs, to decide a stop-and-[[startAuto]] cycle (see
    * [[startAuto]]'s one-shot note).
    */
  def isLagging(
      backfillWindowNanos: Long,
      nowNanos: Long = System.currentTimeMillis() * 1000000L
  ): Boolean = {
    val fence = committedFence
    fence.isZero || fence.nanos < nowNanos - backfillWindowNanos
  }

  /** Handle over a monitored loop: the CURRENT streaming query (replaced
    * on every backfill cycle) plus monitor control.
    */
  final class Monitored private[ReplayLoop] (
      backfillWindowNanos: Long,
      pollMillis: Long,
      trigger: Trigger,
      nowNanos: () => Long
  ) {
    @volatile private var current: StreamingQuery = _
    @volatile private var stopped = false
    private val cycles = new java.util.concurrent.atomic.AtomicInteger(0)
    // feed signature at the last (possibly implicit) cycle: re-backfilling
    // when the feed has not changed since the last pass cannot advance the
    // fence, so the monitor would thrash — a source that is simply OLD
    // stays lagging forever, exactly like the reference parked at the end
    // of a stale changefeed
    @volatile private var lastFeedSig: (Int, Long) = feedSig()

    private def feedSig(): (Int, Long) = {
      val es = listFeedEntries()
      (es.size, es.map(_._2).maxOption.getOrElse(0L))
    }

    /** current streaming query (replaced after each backfill cycle) */
    def query: StreamingQuery = current

    /** completed backfill re-entry cycles */
    def backfillCycles: Int = cycles.get()

    private[ReplayLoop] def begin(): Unit = {
      if (isLagging(backfillWindowNanos, nowNanos())) {
        // record the signature BEFORE the pass: a file landing while the
        // pass runs may be listed yet undelivered, and must leave the
        // post-pass signature UNEQUAL so the next poll cycles again — a
        // post-pass snapshot would swallow it (an extra cycle for a file
        // the pass did deliver is merely an idempotent no-op)
        lastFeedSig = feedSig()
        runAvailableNow()
      }
      current = start(trigger)
      val t = new Thread(
        () =>
          while (!stopped) {
            Thread.sleep(pollMillis)
            try {
              if (!stopped && isLagging(backfillWindowNanos, nowNanos())) {
                val sig = feedSig()
                if (sig != lastFeedSig) synchronized {
                  if (!stopped) {
                    // the engine-native mode switch: stop the continuous
                    // query (blocks until terminated), catch up at full
                    // throughput, start fresh. `sig` was read BEFORE the
                    // pass (files racing in during the pass re-arm the
                    // monitor instead of being swallowed), but it is
                    // COMMITTED only after the whole cycle succeeds: a
                    // cycle that throws mid-way leaves lastFeedSig at its
                    // old value, so the next poll still sees a changed
                    // feed and retries the cycle (stop() on an already-
                    // terminated query is a no-op, the catch-up pass is
                    // idempotent)
                    current.stop()
                    runAvailableNow()
                    current = start(trigger)
                    lastFeedSig = sig
                    cycles.incrementAndGet()
                  }
                }
              }
            } catch {
              // a transient cycle failure must not kill the monitor: the
              // next poll retries (stop() still exits the loop via the
              // flag)
              case scala.util.control.NonFatal(e) =>
                println(s"[graft-monitor] cycle failed: ${e.getMessage}")
            }
            // liveness guard, independent of the feed signature: a cycle
            // that failed between stop() and start(), or a query killed by
            // its own stream exception, must not leave the loop down until
            // the feed happens to change — restart the continuous query
            // whenever none is running (bounded to one attempt per poll)
            try {
              if (!stopped) synchronized {
                if (!stopped && (current == null || !current.isActive)) {
                  current = start(trigger)
                  println("[graft-monitor] restarted inactive query")
                }
              }
            } catch {
              case scala.util.control.NonFatal(e) =>
                println(s"[graft-monitor] restart failed: ${e.getMessage}")
            }
          },
        s"graft-backfill-monitor-$feedDir"
      )
      t.setDaemon(true)
      t.start()
    }

    /** Stop the monitor and the current query. */
    def stop(): Unit = synchronized {
      stopped = true
      if (current != null) current.stop()
    }
  }

  /** The reference's CONTINUOUS backfill re-entry
    * (internal/source/logical/loop.go:394-441), operationalized: start the
    * loop like [[startAuto]], then keep a driver-side daemon polling
    * [[isLagging]] every `pollMillis`. When the consistent point falls
    * behind the window AND the feed has changed since the last catch-up
    * pass, the monitor performs the engine-native mode switch — stop the
    * continuous query, run an AvailableNow catch-up, start a fresh
    * continuous query — so an operator never has to cycle a lagging loop
    * by hand. The feed-change gate prevents backfill thrash on a feed
    * that is merely old (re-reading it cannot advance the fence).
    * `nowNanos` is injectable for deterministic tests.
    */
  def startMonitored(
      backfillWindowNanos: Long,
      pollMillis: Long = 1000L,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      nowNanos: () => Long = () => System.currentTimeMillis() * 1000000L
  ): Monitored = {
    val m = new Monitored(backfillWindowNanos, pollMillis, trigger, nowNanos)
    m.begin()
    m
  }
}

object ReplayLoop {

  /** True when the failure chain bottoms out in a missing input file —
    * the signature of a concurrent applier retiring staged partitions
    * mid-scan (Spark 4 wraps it as `FAILED_READ_FILE.FILE_NOT_EXIST`;
    * older paths surface a raw `FileNotFoundException`).
    */
  def isMissingFileRead(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 16) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        case st: org.apache.spark.SparkThrowable
            if st.getCondition != null &&
              (st.getCondition == "FAILED_READ_FILE.FILE_NOT_EXIST" ||
                st.getCondition == "PATH_NOT_FOUND") =>
          return true
        case _ =>
          // specific error-CLASS tokens in the message (wrappers that carry
          // the class marker without implementing SparkThrowable) — but no
          // longer the former free-text `contains("does not exist")`, which
          // also matched analyzer errors ("Table or view does not exist",
          // unresolved columns) and silently swallowed genuine planner bugs
          // as concurrency no-ops
          val m = cur.getMessage
          if (m != null &&
            (m.contains("FAILED_READ_FILE.FILE_NOT_EXIST") ||
              m.contains("PATH_NOT_FOUND")))
            return true
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Distinct source files of a batch — cheap: file-name column only.
    * Feeds both the lineage record and the batch identity key; shared by
    * the single- and multi-table loops.
    */
  def distinctFiles(lines: org.apache.spark.sql.DataFrame): Seq[String] =
    lines
      .select(org.apache.spark.sql.functions.col(graft.feed.Changefeed.SRC_FILE).as("f"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .filter(_.nonEmpty)
      .sorted
      .toSeq

  /** Deterministic 64-bit identity of a batch's source-file set: SHA-256 of
    * the sorted file names, folded to a Long. Stable across checkpoint
    * wipes and engine batch renumbering; collision odds are negligible at
    * any realistic batch count (~1e-10 at a billion batches).
    */
  def batchKeyOf(files: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(files.sorted.mkString("\n").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Scheme-stripped path identity shared by `input_file_name()` names and
    * `java.nio` listings, so the delivered-file identity set matches across
    * both spellings.
    */
  def normalizePath(name: String): String =
    name.stripPrefix("file://").stripPrefix("file:")

  /** mtime (millis) of a feed file as named by `input_file_name()` —
    * tolerates the `file:`/`file://` scheme prefix; None if unreadable.
    */
  def fileMtimeMillis(name: String): Option[Long] = {
    val path = name.stripPrefix("file://").stripPrefix("file:")
    try Some(
      java.nio.file.Files
        .getLastModifiedTime(java.nio.file.Paths.get(path))
        .toMillis
    )
    catch { case _: Exception => None }
  }

  /** File cap for one trigger: `maxFilesPerTrigger`, tightened by the byte
    * budget divided by the observed mean feed-file size (sampled from the
    * directory listing — metadata only). Shared by the single- and
    * multi-table loops — the reference's `bytesInFlight` backpressure knob
    * (internal/source/logical/config.go:35) expressed against a file
    * source that caps by COUNT.
    */
  def effectiveMaxFiles(
      feedDir: String,
      maxFilesPerTrigger: Int,
      maxBytesPerTrigger: Option[Long]
  ): Int = maxBytesPerTrigger match {
    case None => maxFilesPerTrigger
    case Some(budget) =>
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(feedDir)
      val sizes =
        if (!java.nio.file.Files.exists(dir)) Nil
        else
          scala.util.Using.resource(java.nio.file.Files.walk(dir, 2)) {
            _.iterator().asScala
              .filter(p => java.nio.file.Files.isRegularFile(p))
              .take(256)
              .map(java.nio.file.Files.size)
              .toSeq
          }
      if (sizes.isEmpty) maxFilesPerTrigger
      else {
        val mean = math.max(1L, sizes.sum / sizes.size)
        math.max(1, math.min(maxFilesPerTrigger.toLong, budget / mean).toInt)
      }
  }
}
