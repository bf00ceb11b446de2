package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.applyops.{ApplyPlanner, TableSpec}
import graft.feed.Changefeed
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** One table's apply step — the single copy of window select → plan → CAS
  * gate → merge → lost-race guard → changelog → retire → vacuum that both
  * loops call: [[ReplayLoop]] owns one, [[MultiTableLoop]] one per topic.
  * The reference likewise has one applier whose per-table config, fence and
  * commit serve the serial and the fan path alike
  * (internal/target/apply/apply.go:148-191,
  * internal/source/cdc/resolver.go:347-465).
  *
  * Per-caller differences are plain arguments: the changelog directory
  * here, lineage and extra commit metrics per call, and `name`, which only
  * labels the lost-race log line.
  */
final class FenceApply(
    spark: SparkSession,
    table: SnapshotTable,
    stage: StagedStore,
    declared: TableSpec,
    saltBuckets: Int,
    changelogDir: Option[String],
    vacuumKeepVersions: Option[Int],
    name: String
) {

  /** The resolved fence of the table's latest commit. */
  def fence: Hlc = table.log.latest().map(_.fence).getOrElse(Hlc.Zero)

  /** The declared config over the committed schema: an evolved column set
    * or widened type carries into the next plan, on every path.
    */
  private def spec: TableSpec = table.payloadSchema() match {
    case Some(s) =>
      // the committed schema may include the extras column; keep declared
      // config but adopt evolved column set/types
      declared.copy(payloadSchema =
        StructType(s.fields.filterNot(f => declared.config.extras.contains(f.name))))
    case None => declared
  }

  /** Merge the staged window up to `target` and commit the fence; a no-op
    * when the table already stands at or past it. `extraMetrics` ride the
    * commit next to `merged_through_seq`.
    */
  def toFence(
      target: Hlc,
      batchId: Long,
      lineage: Seq[String],
      extraMetrics: Map[String, Long] = Map.empty
  ): Unit = {
    val head = table.log.latest()
    val from = head.map(_.fence).getOrElse(Hlc.Zero)
    if (target <= from) return
    // window = (from, target] PLUS anything staged since the last merge
    // regardless of ts: a mutation below an already-committed fence can
    // still arrive late when the transport reorders deliveries (e.g. the
    // file source orders by mtime) — it was staged AFTER the last merge, so
    // the stage_seq branch picks it up exactly once. Rows already merged by
    // earlier fences (ts <= fence, staged before the recorded seq) are no
    // longer re-read and re-written every fence.
    //
    // raw (non-deduplicated) read: exact duplicates collapse in the merge's
    // per-key max_by anyway, saving a shuffle. Not cached: with the
    // staging-time summary, the window feeds exactly one consumer (the
    // merge, which caches its own transformed batch).
    val mergedThroughSeq = head.flatMap(_.metric("merged_through_seq")).getOrElse(0L)
    val seqNow = stage.currentSeq() // the caller's staged append already happened
    val window = stage.selectWindowRaw(from, target, stagedAfterSeq = Some(mergedThroughSeq))
    val s = spec
    // pre-dedup only when a CAS gate needs one candidate per key; the
    // merge's per-key max_by reduction is the LWW otherwise (saves two
    // shuffles of the window)
    val planned = FenceApply.timed("plan", batchId) {
      ApplyPlanner.plan(
        spark, s, window, saltBuckets,
        dedup = s.config.casColumns.nonEmpty,
        // field set was collected while staging: no summary scan here
        observedFields = Some(stage.observedFields().toSeq))
    }
    val applied =
      try {
        val (gated, casCleanup) =
          ApplyPlanner.casGate(table, planned.batch, planned.pkCols, s.config.casColumns)
        FenceApply.timed(s"merge fence=${target.format}", batchId) {
          table.merge(
            batch = gated,
            pkCols = planned.pkCols,
            idempotenceKey = s"fence-${target.format}",
            resolved = target,
            lineage = lineage,
            extraMetrics = Map("merged_through_seq" -> seqNow) ++ extraMetrics
          )
        }
        casCleanup()
        true
      } catch {
        // Optimistic-concurrency loser whose CONFLICT surfaced as a failed
        // READ rather than a commit-log no-op: a competing applier (HA
        // restart overlap — two drivers on one table) merged this window
        // and RETIRED its staged files while our lazy scan was mid-flight.
        // The competitor's commit proves every retired row was applied, so
        // if the committed fence now covers our target this attempt is the
        // same no-op the commit log would have made it — swallow and let the
        // next batch proceed against the new head. Any read failure NOT
        // explained by a covering commit is real data loss and re-raises.
        //
        // The catch wraps ONLY the merge read/apply phase: inside it, an
        // emitChangelog/retire failure whose message happened to match the
        // missing-file signature would be swallowed as "already applied" —
        // permanently skipping retire and vacuum (unbounded staging growth)
        // under a misleading log line. On the winning path housekeeping
        // runs OUTSIDE the guard (its failures propagate); a lost race
        // skips it — the winner owns that fence's retire/vacuum, and a
        // loser retiring concurrently races the winner's staging
        // bookkeeping.
        case e: Throwable if fence >= target =>
          if (!ReplayLoop.isMissingFileRead(e)) {
            // a covering commit exists but the failure is not a missing-file
            // read: say what it was before it propagates unchanged
            val condition = e match {
              case st: org.apache.spark.SparkThrowable => st.getCondition
              case _                                   => null
            }
            println(
              s"[graft][$name] merge to fence ${target.format} failed with " +
                s"${e.getClass.getName} (condition $condition) although a " +
                "covering commit exists; re-raising"
            )
            throw e
          }
          println(
            s"[graft][$name] fence ${target.format} already applied by a " +
              "concurrent writer (staged files retired mid-read); no-op"
          )
          false
      }
    if (applied) afterCommit(retireThrough = Some(target))
  }

  /** Apply one micro-batch's mutations directly, with no staging and no
    * fence gate. The idempotence key is the batch's file-set key, so a
    * redelivered batch no-ops; a resolved marker riding the batch is still
    * RECORDED on its commit, so the ledger shows source progress (the
    * reference's Record-without-fencing, resolver.go:291-309).
    */
  def immediate(
      muts: DataFrame,
      stageKey: Long,
      resolved: Option[Hlc],
      lineage: Seq[String]
  ): Unit = {
    val s = spec
    val planned = ApplyPlanner.plan(
      spark, s, muts, saltBuckets,
      dedup = s.config.casColumns.nonEmpty)
    val (gated, casCleanup) =
      ApplyPlanner.casGate(table, planned.batch, planned.pkCols, s.config.casColumns)
    table.merge(
      batch = gated,
      pkCols = planned.pkCols,
      // file-set key, not batch id: survives checkpoint-wipe renumbering
      idempotenceKey = s"batch-$stageKey",
      resolved = resolved.getOrElse(Hlc.Zero),
      lineage = lineage
    )
    casCleanup()
    afterCommit(retireThrough = None)
  }

  private def afterCommit(retireThrough: Option[Hlc]): Unit = {
    // changelog BEFORE vacuum: the new segment diffs against the previous
    // version's manifest, which vacuum may retire
    changelogDir.foreach(table.emitChangelog)
    retireThrough.foreach(stage.retire(_))
    // at streaming cadence every commit is a new version, so without the
    // vacuum storage (and the gcHorizon back-walk) grows without bound
    vacuumKeepVersions.foreach(table.vacuum(_))
  }
}

object FenceApply {

  /** One delivered micro-batch: its mutations (every column the codec
    * emits), source files, identity key and newest in-band resolved marker.
    */
  final case class Batch(
      muts: DataFrame,
      files: Seq[String],
      stageKey: Long,
      resolved: Option[Hlc]
  )

  /** The per-batch preamble both loops share. `linesRaw` is the file
    * source's `value` column; `parse` is the loop's envelope codec.
    */
  def intake(linesRaw: DataFrame, batchId: Long, parse: DataFrame => DataFrame): Batch = {
    // NOT cached: the batch feeds three passes (staging append, resolved
    // scan, lineage), but re-scanning raw text from the page cache with the
    // single-from_json parse is measurably cheaper than building a
    // multi-GB columnar cache of the lines (which also made 32 concurrent
    // cache-builder tasks the peak-heap hotspot). input_file_name() is
    // captured per-scan, so every pass sees the same file column.
    val lines = linesRaw.select(col("value"), input_file_name().as(Changefeed.SRC_FILE))
    val muts = parse(lines).filter(!col(Changefeed.RESOLVED))

    // Identify this batch by its SOURCE FILE SET, not the engine's batch
    // id: after a wiped checkpoint the file source renumbers batches from
    // 0, and an id-keyed marker would wrongly skip a brand-new batch that
    // happens to reuse an old id. The file-set hash is stable under
    // renumbering AND still dedups true redeliveries of the same files.
    val files = ReplayLoop.distinctFiles(lines)
    // fall back to the engine batch id when the batch has no file
    // provenance (in-memory DataFrames via the public processBatch):
    // hashing an empty file set would collapse EVERY such batch onto one
    // constant key and silently skip all but the first
    val stageKey = if (files.isEmpty) batchId else ReplayLoop.batchKeyOf(files)

    // cheap second scan: only lines containing a resolved marker are parsed
    // (every supported envelope spells its marker with a "resolved" key)
    val resolvedRows = parse(lines.filter(col("value").contains("\"resolved\"")))
      .filter(col(Changefeed.RESOLVED))
      .agg(max(struct(col("nanos"), col("logical"))).as("m"))
      .collect()
    val resolved =
      if (resolvedRows.isEmpty || resolvedRows(0).isNullAt(0)) None
      else {
        val r = resolvedRows(0).getStruct(0)
        Some(Hlc(r.getLong(0), r.getInt(1)))
      }
    Batch(muts, files, stageKey, resolved)
  }

  private[loop] def timed[T](what: String, batchId: Long)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    // driver-side phase metric (a few lines per micro-batch); stdout so it
    // survives setLogLevel(WARN) — the lightweight analog of the
    // reference's stage/apply Prometheus timers (apply/metrics.go:27-48)
    println(s"[graft-loop] batch=$batchId $what ${(System.nanoTime() - t0) / 1000000} ms")
    r
  }
}
