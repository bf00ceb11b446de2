package cdcbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import graft.applyops.{ApplyPlanner, TableSpec}
import graft.feed.{Changefeed, Generator}
import graft.feed.Generator.FeedSpec
import graft.loop.ReplayLoop
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** The `replay` workload, in two timed phases on separate tables:
  *   - stream: 2k-event resolved windows of ~200-byte rows handed to
  *     `ReplayLoop.processBatch` one at a time by one client, the next only
  *     after the previous fence committed (the fixed cost per fence
  *     dominates; every fourth fence compacts);
  *   - backfill: a backlog of KB-sized row images caught up through
  *     `ReplayLoop.runAvailableNow` (bytes are a large share of each fence).
  */
object Replay {
  val Payload: StructType = StructType(
    Seq("repo", "path", "commit", "lang", "content").map(StructField(_, StringType))
  )
  val Spec: TableSpec = TableSpec(Payload, Seq("repo", "path"))

  // engine settings of both phases: ReplayMain's shape at 16 table buckets
  // (64 buckets cost ~4 s per fence here, which a run cannot afford)
  val Buckets = 16
  val CompactEvery = 4
  val SaltBuckets = 64
  val MaxFilesPerTrigger = 8
  val VacuumKeep = 4 // ReplayLoop's default vacuumKeepVersions

  /** Events in the backfill feed, in 1000-event arrival files with one
    * resolved window per `MaxFilesPerTrigger` files: every fence of a
    * catch-up applies 8,000 events.
    */
  def backfillEvents(smoke: Boolean): Long = if (smoke) 8000L else 16000L
  val FileEvents = 1000L
  /** Catch-ups of the backlog before the timed ones: the first one runs at
    * half speed (JIT), the second at ~90 %.
    */
  def warmCatchUps(smoke: Boolean): Int = if (smoke) 1 else 2
  /** Timed catch-ups of a run: ~5 s each on the reference VM. */
  def catchUps(smoke: Boolean, seconds: Int): Int =
    if (smoke) 1 else Stats.repeats(seconds, 5.0)
  val FenceEvents = 2000L
  /** Windows in the stream feed, all delivered by the stream phase: whole
    * compaction cycles of ~6 s on the reference VM, at least three (twelve
    * fences, so the median fence sits among nine delta merges).
    */
  def streamWindows(smoke: Boolean, seconds: Int): Int =
    CompactEvery * (if (smoke) 1 else Stats.repeats(seconds, 6.0))

  def backfillSpec(seed: Long, events: Long): FeedSpec = FeedSpec(
    seed = seed,
    numEvents = events,
    numKeys = events / 4,
    resolvedWindows = (events / (FileEvents * MaxFilesPerTrigger)).toInt,
    eventsPerFile = FileEvents,
    disorderBlock = 1000L,
    contentMin = 512,
    contentRange = 1536
  )

  def streamSpec(seed: Long, windows: Int): FeedSpec = FeedSpec(
    seed = seed,
    numEvents = FenceEvents * windows,
    numKeys = FenceEvents * windows / 4,
    resolvedWindows = windows,
    eventsPerFile = FenceEvents,
    disorderBlock = 1000L,
    contentMin = 64,
    contentRange = 192
  )

  def generatorParams(spec: FeedSpec): Map[String, Any] = Map(
    "seed" -> spec.seed, "events" -> spec.numEvents, "keys" -> spec.numKeys,
    "resolved_windows" -> spec.resolvedWindows, "events_per_file" -> spec.eventsPerFile,
    "skew" -> spec.skew, "delete_fraction" -> spec.deleteFraction,
    "duplicate_fraction" -> spec.duplicateFraction, "disorder_block" -> spec.disorderBlock,
    "content_min" -> spec.contentMin, "content_range" -> spec.contentRange
  )

  /** One engine instance under `dir`, wired like ReplayMain. */
  final class Engine(spark: SparkSession, dir: String, feedDir: String, spec: FeedSpec) {
    val table = new SnapshotTable(spark, s"$dir/table", numBuckets = Buckets,
      compactEvery = CompactEvery)
    val stage = new StagedStore(spark, s"$dir/stage",
      bucketNanos = spec.nanosStep * math.max(1000L, spec.numEvents / 16))
    val loop = new ReplayLoop(spark, feedDir, table, stage, s"$dir/checkpoint", Spec,
      saltBuckets = SaltBuckets, maxFilesPerTrigger = MaxFilesPerTrigger,
      vacuumKeepVersions = Some(VacuumKeep))
    def fences: Long = table.log.latest().map(_.version).getOrElse(0L)
  }

  /** Data files of each arrival chunk of a generated feed, in arrival order. */
  def chunks(feedDir: String): Seq[Seq[String]] =
    graft.util.Dirs.listDir(Paths.get(feedDir))
      .filter(_.getFileName.toString.startsWith("chunk="))
      .sortBy(_.getFileName.toString)
      .map(d =>
        graft.util.Dirs.listDir(d)
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(_.toAbsolutePath.toString)
          .sorted
      )

  /** (rows, order-independent xor of per-row hashes) of a table state. */
  def fingerprint(rows: DataFrame): (Long, Long) = {
    val r = rows
      .agg(
        count(lit(1)),
        expr("bit_xor(xxhash64(repo, path, commit, lang, sha2(content, 256)))")
      )
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Independent LWW oracle over the first `arrivals` generated events: the
    * max-HLC row image per key, deletes dropped, computed with plain Spark
    * aggregates from the generator's events. It never touches the staging
    * store, the snapshot table or the loop.
    */
  def oracle(spark: SparkSession, spec: FeedSpec, arrivals: Long, cores: Int): (Long, Long) = {
    val latest = Generator
      .feedDf(spark, spec, cores)
      .filter(!col("is_resolved") && col("sort_key") < arrivals * 2)
      .groupBy("key")
      .agg(max(struct(col("nanos"), col("logical"), col("data"))).as("w"))
      .filter(col("w.data").isNotNull)
    fingerprint(latest.select(from_json(col("w.data"), Payload).as("r")).select("r.*"))
  }

  private def wrongWhen(corrupt: Boolean)(fp: (Long, Long)): (Long, Long) =
    if (corrupt) (fp._1, fp._2 ^ 1L) else fp

  // ------------------------------------------------------------ traced path

  /** What the traced path learned about one delivery. */
  final case class FenceRec(
      fence: Span,
      committed: Boolean,
      deltaMerge: Boolean,
      windowRows: Long,
      rowsWritten: Long,
      touchedBuckets: Long,
      mergeFilesWritten: Long,
      stageFilesWritten: Long,
      bytesIn: Long
  )

  /** Parquet files in the subdirectories of `dir`. */
  private def parquetFilesUnder(dir: java.nio.file.Path): Long =
    graft.util.Dirs.listDir(dir)
      .filter(Files.isDirectory(_))
      .map(d => graft.util.Dirs.listDir(d).count(_.getFileName.toString.endsWith(".parquet")).toLong)
      .sum

  private def stageFiles(stage: StagedStore): Long = parquetFilesUnder(Paths.get(stage.root, "data"))

  /** Parquet files the merge that committed `version` wrote. */
  private def versionFiles(table: SnapshotTable, version: Long): Long =
    graft.util.Dirs.listDir(Paths.get(table.root, "data"))
      .filter(_.getFileName.toString.startsWith(f"v$version%08d-"))
      .map(parquetFilesUnder)
      .sum

  /** One delivery through the layers' public functions, in ReplayLoop's
    * order (distinct files and batch key, parse and resolved scan, staged
    * append, window select, plan, merge, retire, vacuum), one span per call
    * inside one parent span per delivery.
    */
  def tracedDelivery(
      spark: SparkSession,
      tr: Tracer,
      eng: Engine,
      files: Seq[String],
      batchId: Long
  ): FenceRec = {
    val bytesIn = files.map(f => Files.size(Paths.get(f))).sum
    val raw = spark.read.text(files: _*)
    val stageFilesBefore = stageFiles(eng.stage)
    var stageFilesAfter = stageFilesBefore
    var windowObs: Option[Observation] = None
    var version = -1L
    tr.span("loop.fence") {
      val lines = raw.select(col("value"), input_file_name().as(Changefeed.SRC_FILE))
      val (fileSet, stageKey) = tr.span("feed.distinct_files") {
        val fs = ReplayLoop.distinctFiles(lines)
        (fs, if (fs.isEmpty) batchId else ReplayLoop.batchKeyOf(fs))
      }
      val lineage = s"batch=$batchId" +: fileSet
      val muts = Changefeed.parseLines(lines)
        .filter(!col(Changefeed.RESOLVED))
        .select("key", "data", "nanos", "logical", "src_file")
      val newResolved: Option[Hlc] = tr.span("feed.resolved_scan") {
        val r = Changefeed.parseLines(lines.filter(col("value").contains("\"resolved\"")))
          .filter(col(Changefeed.RESOLVED))
          .agg(max(struct(col("nanos"), col("logical"))).as("m"))
          .collect()
        if (r.isEmpty || r(0).isNullAt(0)) None
        else Some(Hlc(r(0).getStruct(0).getLong(0), r(0).getStruct(0).getInt(1)))
      }
      tr.span("stage.append") {
        eng.stage.append(muts, stageKey,
          validatePk = Some((Spec.pkCols.size, Spec.pkCols)))
      }
      stageFilesAfter = stageFiles(eng.stage)
      val fence = eng.loop.committedFence
      newResolved.filter(_ > fence).foreach { target =>
        val (window, seqNow) = tr.span("stage.select_window") {
          val mergedThrough = eng.table.log.latest()
            .flatMap(_.metric("merged_through_seq")).getOrElse(0L)
          val seqNow = eng.stage.currentSeq()
          (eng.stage.selectWindowRaw(fence, target, stagedAfterSeq = Some(mergedThrough)), seqNow)
        }
        val obs = Observation(s"window-$batchId-${System.nanoTime()}")
        windowObs = Some(obs)
        val (planned, gated) = tr.span("applyops.plan") {
          val spec = eng.table.payloadSchema() match {
            case Some(s) => Spec.copy(payloadSchema =
              StructType(s.fields.filterNot(f => Spec.config.extras.contains(f.name))))
            case None => Spec
          }
          val p = ApplyPlanner.plan(spark, spec, window.observe(obs, count(lit(1)).as("rows")),
            SaltBuckets, dedup = spec.config.casColumns.nonEmpty,
            observedFields = Some(eng.stage.observedFields().toSeq))
          (p, ApplyPlanner.casGate(eng.table, p.batch, p.pkCols, spec.config.casColumns))
        }
        val meta = tr.span("table.merge") {
          eng.table.merge(
            batch = gated._1,
            pkCols = planned.pkCols,
            idempotenceKey = s"fence-${target.format}",
            resolved = target,
            lineage = lineage,
            extraMetrics = Map("merged_through_seq" -> seqNow)
          )
        }
        gated._2()
        version = meta.map(_.version).getOrElse(-1L)
        tr.span("stage.retire") { eng.stage.retire(target) }
        tr.span("table.vacuum") { eng.table.vacuum(VacuumKeep) }
      }
    }
    val meta = if (version > 0) eng.table.log.tryRead(version) else None
    FenceRec(
      fence = tr.last("loop.fence"),
      committed = meta.nonEmpty,
      deltaMerge = meta.flatMap(_.metric("delta_merge")).contains(1L),
      windowRows = windowObs
        .flatMap(o => scala.util.Try(o.get("rows").asInstanceOf[Number].longValue).toOption)
        .getOrElse(0L),
      rowsWritten = meta.flatMap(_.metric("rows_written")).getOrElse(0L),
      touchedBuckets = meta.flatMap(_.metric("touched_buckets")).getOrElse(0L),
      mergeFilesWritten = if (version > 0) versionFiles(eng.table, version) else 0L,
      stageFilesWritten = stageFilesAfter - stageFilesBefore,
      bytesIn = bytesIn
    )
  }

  /** Names and units of [[layerMetrics]], without the phase prefix. */
  private val layerBase: Seq[(String, String)] = Seq(
    "loop.fence_ms" -> "ms", "loop.self_ms" -> "ms", "loop.no_task_ms" -> "ms",
    "loop.jobs_per_fence" -> "count", "loop.tasks_per_fence" -> "count",
    "loop.child_coverage_min" -> "ratio",
    "feed.resolved_scan_ms" -> "ms", "feed.distinct_files_ms" -> "ms",
    "feed.mutations_in" -> "count", "feed.bytes_in" -> "bytes",
    "stage.append_ms" -> "ms", "stage.append_task_ms" -> "ms", "stage.bytes_written" -> "bytes",
    "stage.files_written" -> "count", "stage.select_window_ms" -> "ms",
    "stage.window_rows" -> "count", "stage.retire_ms" -> "ms",
    "applyops.plan_ms" -> "ms",
    "table.merge_ms" -> "ms", "table.delta_merge_ms" -> "ms", "table.compaction_ms" -> "ms",
    "table.merge_task_ms" -> "ms", "table.merge_gc_ms" -> "ms",
    "table.merge_shuffle_write_bytes" -> "bytes", "table.merge_spill_bytes" -> "bytes",
    "table.merge_tasks" -> "count", "table.merge_files_written" -> "count",
    "table.merge_bytes_written" -> "bytes", "table.rows_written" -> "count",
    "table.touched_buckets" -> "count", "table.vacuum_ms" -> "ms",
    "ratio.shuffle_bytes_per_event" -> "bytes/event", "ratio.stage_bytes_per_event" -> "bytes/event",
    "ratio.table_bytes_per_event" -> "bytes/event", "ratio.rows_written_per_window_row" -> "ratio",
    "ratio.task_ms_per_event" -> "ms/event"
  )

  val Phases: Seq[String] = Seq("backfill", "stream")

  val layerNames: Seq[(String, String)] =
    for (p <- Phases; (n, u) <- layerBase) yield (s"$p.$n", u)

  /** Per-layer metrics over the traced deliveries (means per fence), named
    * `<phase>.<module>.<metric>`.
    */
  def layerMetrics(tr: Tracer, recs: Seq[FenceRec], events: Long, phase: String): (Map[String, Metric], Map[String, Any]) = {
    tr.drain()
    val fences = recs.filter(_.committed)
    val n = math.max(1, fences.size).toDouble
    def child(r: FenceRec, name: String): Option[Span] = tr.children(r.fence).find(_.name == name)
    def ms(name: String, rs: Seq[FenceRec] = fences): Double =
      if (rs.isEmpty) 0.0 else rs.map(r => child(r, name).map(_.durMs).getOrElse(0.0)).sum / rs.size
    def count(name: String, f: Totals => java.util.concurrent.atomic.AtomicLong): Double =
      fences.map(r => child(r, name).map(s => f(tr.totalsOf(s)).get).getOrElse(0L)).sum / n
    def total(name: String, f: Totals => java.util.concurrent.atomic.AtomicLong): Long =
      recs.map(r => child(r, name).map(s => f(tr.totalsOf(s)).get).getOrElse(0L)).sum
    val shuffle = recs.map(r => tr.sumOver(r.fence)(_.shuffleWriteBytes)).sum
    val taskMs = recs.map(r => tr.sumOver(r.fence)(_.taskMs)).sum
    val windowRows = fences.map(_.windowRows).sum
    val rowsWritten = fences.map(_.rowsWritten).sum
    val coverage = recs.map(r => tr.childCoverage(r.fence))
    val m = Map(
      "loop.fence_ms" -> Metric(fences.map(_.fence.durMs).sum / n, "ms"),
      "loop.self_ms" -> Metric(fences.map(r => tr.selfMs(r.fence)).sum / n, "ms"),
      "loop.no_task_ms" -> Metric(fences.map(r => tr.noTaskMs(r.fence)).sum / n, "ms"),
      "loop.jobs_per_fence" -> Metric(fences.map(r => tr.sumOver(r.fence)(_.jobs)).sum / n, "count"),
      "loop.tasks_per_fence" -> Metric(fences.map(r => tr.sumOver(r.fence)(_.tasks)).sum / n, "count"),
      "loop.child_coverage_min" -> Metric(if (coverage.isEmpty) 0.0 else coverage.min, "ratio"),
      "feed.resolved_scan_ms" -> Metric(ms("feed.resolved_scan"), "ms"),
      "feed.distinct_files_ms" -> Metric(ms("feed.distinct_files"), "ms"),
      "feed.mutations_in" -> Metric(count("stage.append", _.outputRecords), "count"),
      "feed.bytes_in" -> Metric(fences.map(_.bytesIn).sum / n, "bytes"),
      "stage.append_ms" -> Metric(ms("stage.append"), "ms"),
      "stage.append_task_ms" -> Metric(count("stage.append", _.taskMs), "ms"),
      "stage.bytes_written" -> Metric(count("stage.append", _.outputBytes), "bytes"),
      "stage.files_written" -> Metric(fences.map(_.stageFilesWritten).sum / n, "count"),
      "stage.select_window_ms" -> Metric(ms("stage.select_window"), "ms"),
      "stage.window_rows" -> Metric(windowRows / n, "count"),
      "stage.retire_ms" -> Metric(ms("stage.retire"), "ms"),
      "applyops.plan_ms" -> Metric(ms("applyops.plan"), "ms"),
      "table.merge_ms" -> Metric(ms("table.merge"), "ms"),
      "table.delta_merge_ms" -> Metric(ms("table.merge", fences.filter(_.deltaMerge)), "ms"),
      "table.compaction_ms" -> Metric(ms("table.merge", fences.filterNot(_.deltaMerge)), "ms"),
      "table.merge_task_ms" -> Metric(count("table.merge", _.taskMs), "ms"),
      "table.merge_gc_ms" -> Metric(count("table.merge", _.gcMs), "ms"),
      "table.merge_shuffle_write_bytes" -> Metric(count("table.merge", _.shuffleWriteBytes), "bytes"),
      "table.merge_spill_bytes" -> Metric(count("table.merge", _.spillBytes), "bytes"),
      "table.merge_tasks" -> Metric(count("table.merge", _.tasks), "count"),
      "table.merge_files_written" -> Metric(fences.map(_.mergeFilesWritten).sum / n, "count"),
      "table.merge_bytes_written" -> Metric(count("table.merge", _.outputBytes), "bytes"),
      "table.rows_written" -> Metric(rowsWritten / n, "count"),
      "table.touched_buckets" -> Metric(fences.map(_.touchedBuckets).sum / n, "count"),
      "table.vacuum_ms" -> Metric(ms("table.vacuum"), "ms"),
      "ratio.shuffle_bytes_per_event" -> Metric(shuffle.toDouble / events, "bytes/event"),
      "ratio.stage_bytes_per_event" -> Metric(total("stage.append", _.outputBytes).toDouble / events, "bytes/event"),
      "ratio.table_bytes_per_event" -> Metric(total("table.merge", _.outputBytes).toDouble / events, "bytes/event"),
      "ratio.rows_written_per_window_row" -> Metric(
        if (windowRows == 0) 0.0 else rowsWritten.toDouble / windowRows, "ratio"),
      "ratio.task_ms_per_event" -> Metric(taskMs.toDouble / events, "ms/event")
    ).map { case (k, v) => s"$phase.$k" -> v }
    val bases = Map(
      "traced_fences" -> fences.size,
      "traced_events" -> events,
      "traced_window_rows" -> windowRows,
      "traced_rows_written" -> rowsWritten,
      "traced_shuffle_write_bytes" -> shuffle,
      "traced_task_ms" -> taskMs,
      "fence_child_coverage" -> coverage
    )
    (m, bases)
  }

  // ------------------------------------------------------------ the phases

  /** One catch-up: its wall time, fences, per-fence times, the JIT and GC
    * time the JVM spent during it, and the final table's fingerprint.
    */
  final case class CatchUp(wallS: Double, fences: Long, fenceMs: Seq[Double], jitMs: Long,
      gcMs: Long, codegen: Long, fp: (Long, Long))

  /** One backlog catch-up through `ReplayLoop.runAvailableNow` into a fresh
    * engine; per-fence times are the micro-batches' foreachBatch durations.
    */
  def catchUp(spark: SparkSession, spec: FeedSpec, feedDir: String, dir: String): CatchUp = {
    val eng = new Engine(spark, dir, feedDir, spec)
    val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          Option(e.progress.durationMs.get("addBatch")).foreach(v => batchMs.add(v.doubleValue))
    }
    spark.streams.addListener(listener)
    val (jit0, gc0, cg0) = (Proc.jitMs(), Proc.gcMs(), Proc.codegenCompiles())
    val t0 = System.nanoTime()
    val wallS =
      try {
        eng.loop.runAvailableNow()
        (System.nanoTime() - t0) / 1e9
      } finally {
        org.apache.spark.CdcbenchBus.drain(spark.sparkContext)
        spark.streams.removeListener(listener)
      }
    import scala.jdk.CollectionConverters._
    CatchUp(wallS, eng.fences, batchMs.asScala.toSeq, Proc.jitMs() - jit0, Proc.gcMs() - gc0,
      Proc.codegenCompiles() - cg0, fingerprint(eng.table.read()))
  }

  /** Hand every chunk to `processBatch`, one at a time (the next only after
    * the previous fence committed). Returns the per-fence times (ms) and the
    * number of failed deliveries (0 or 1: the loop stops at the first).
    */
  private def closedLoop(spark: SparkSession, eng: Engine,
      chunks: Seq[Seq[String]]): (Seq[Double], Long) = {
    val ms = ArrayBuffer.empty[Double]
    var f = 0
    while (f < chunks.size) {
      val lines = spark.read.text(chunks(f): _*)
      val t0 = System.nanoTime()
      try eng.loop.processBatch(lines, f.toLong)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[cdcbench] delivery $f failed: $e")
          return (ms.toSeq, 1L)
      }
      ms += (System.nanoTime() - t0) / 1e6
      f += 1
    }
    (ms.toSeq, 0L)
  }

  def replay(spark: SparkSession, c: RunCfg): Outcome = {
    val phases = new Phases
    phases.mark("session")
    val events = backfillEvents(c.smoke)
    val bSpec = backfillSpec(c.seed, events)
    val windows = streamWindows(c.smoke, c.seconds)
    val sSpec = streamSpec(c.seed, windows)
    val (bFeed, sFeed) = (s"${c.work}/backfill-feed", s"${c.work}/stream-feed")
    Generator.writeFeed(spark, bSpec, bFeed, parallelism = c.cores)
    Generator.writeFeed(spark, sSpec, sFeed, parallelism = c.cores)
    val stream = chunks(sFeed)
    require(stream.size == windows && stream.forall(_.nonEmpty), s"expected $windows arrival files")
    phases.mark("generated")

    // warm-up: a fresh JVM pays JIT and codegen on its first fences
    val warm = (0 until warmCatchUps(c.smoke)).map { w =>
      val r = catchUp(spark, bSpec, bFeed, s"${c.work}/warm-$w")
      graft.util.Dirs.deleteRecursively(Paths.get(s"${c.work}/warm-$w"))
      r
    }
    phases.mark("warm")
    val setupS = Proc.sinceJvmStartS()

    // timed phase 1: stream fences, closed loop, whole compaction cycles.
    // The JIT is still compiling the classes Spark generates for each new
    // plan; run first, the stream phase absorbs the rest of that warm-up in
    // its early fences, which a median over twelve fences tolerates and a
    // median over three catch-ups would not.
    val sEng = new Engine(spark, s"${c.work}/stream", sFeed, sSpec)
    val (fenceMs, sErrors) = closedLoop(spark, sEng, stream)

    // timed phase 2: catch-ups of the backlog, about `seconds` of them
    // (one when traced: the untraced reference)
    val reps = ArrayBuffer.empty[CatchUp]
    var bFailed = 0L
    val n = if (c.trace) 1 else catchUps(c.smoke, c.seconds)
    for (i <- 0 until n) {
      val dir = s"${c.work}/rep-$i"
      try reps += catchUp(spark, bSpec, bFeed, dir)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[cdcbench] catch-up $i failed: $e")
          bFailed += bSpec.resolvedWindows
      }
      graft.util.Dirs.deleteRecursively(Paths.get(dir))
    }
    phases.mark("timed")

    // correctness, outside the timed phases: every final table state
    // against the independent oracle
    val delivered = fenceMs.size
    val bExpected = wrongWhen(c.corruptExpected)(oracle(spark, bSpec, events, c.cores))
    val sExpected = wrongWhen(c.corruptExpected)(
      oracle(spark, sSpec, delivered * FenceEvents, c.cores))
    val sFp = fingerprint(sEng.table.read())
    bFailed += reps.filter(_.fp != bExpected).map(_.fences).sum
    var ops = n.toLong * bSpec.resolvedWindows + fenceMs.size + sErrors
    var failed = bFailed + sErrors + (if (sFp != sExpected) fenceMs.size else 0)
    phases.mark("checked")

    val eps = reps.map(r => events / r.wallS).toSeq
    val q = Stats.tailQuantile(fenceMs.size)
    val details = scala.collection.mutable.LinkedHashMap[String, Any](
      "phases_s" -> phases.toMap,
      "engine" -> Map("buckets" -> Buckets, "compact_every" -> CompactEvery,
        "max_files_per_trigger" -> MaxFilesPerTrigger, "salt_buckets" -> SaltBuckets),
      "backfill" -> Map(
        "generator" -> generatorParams(bSpec),
        "catch_ups" -> reps.size,
        "warm_catch_up_s" -> warm.map(_.wallS),
        "warm_jit_ms" -> warm.map(_.jitMs),
        "jit_ms_samples" -> reps.map(_.jitMs),
        "gc_ms_samples" -> reps.map(_.gcMs),
        "codegen_samples" -> (warm.map(_.codegen) ++ reps.map(_.codegen)),
        "events_per_s_samples" -> eps,
        "fence_ms_samples" -> reps.flatMap(_.fenceMs),
        "expected_fingerprint" -> Seq(bExpected._1, bExpected._2),
        "fingerprints" -> reps.map(r => Seq(r.fp._1, r.fp._2))),
      "stream" -> Map(
        "generator" -> generatorParams(sSpec),
        "timed_fences" -> fenceMs.size,
        "fence_ms_samples" -> fenceMs,
        "fence_tail_quantile" -> q,
        "expected_fingerprint" -> Seq(sExpected._1, sExpected._2),
        "fingerprint" -> Seq(sFp._1, sFp._2))
    )
    var metrics = Map[String, Metric]("setup_s" -> Metric(setupS, "s"))
    if (eps.nonEmpty) {
      details += "backfill_events_per_s" -> Stats.median(eps)
      metrics += "throughput_per_s" -> Metric(Stats.median(eps), "1/s")
    }
    if (fenceMs.nonEmpty) {
      details ++= Map("fence_p50_ms" -> Stats.median(fenceMs),
        "fence_tail_ms" -> Stats.quantile(fenceMs, q))
      metrics ++= Map(
        "op_p50_ms" -> Metric(Stats.median(fenceMs), "ms"),
        "op_tail_ms" -> Metric(Stats.quantile(fenceMs, q), "ms"))
    }

    if (c.trace) {
      val tr = new Tracer(spark)
      // backfill: the same deliveries runAvailableNow makes (arrival order,
      // MaxFilesPerTrigger files each), onto a fresh table
      val beng = new Engine(spark, s"${c.work}/backfill-traced", bFeed, bSpec)
      val bRecs = chunks(bFeed).grouped(MaxFilesPerTrigger).zipWithIndex.map {
        case (group, b) => tracedDelivery(spark, tr, beng, group.flatten, b.toLong)
      }.toSeq
      val bFp = fingerprint(beng.table.read())
      // stream: the same chunks the untraced closed loop delivered
      val steng = new Engine(spark, s"${c.work}/stream-traced", sFeed, sSpec)
      val sRecs = (0 until delivered).map(f =>
        tracedDelivery(spark, tr, steng, stream(f), f.toLong))
      val tsFp = fingerprint(steng.table.read())
      ops += bRecs.count(_.committed) + sRecs.count(_.committed)
      if (bFp != bExpected) failed += bRecs.count(_.committed)
      if (tsFp != sExpected) failed += sRecs.count(_.committed)
      val (bm, bBases) = layerMetrics(tr, bRecs, events, "backfill")
      val (sm, sBases) = layerMetrics(tr, sRecs, fenceMs.size * FenceEvents, "stream")
      tr.write(c.spansFile)
      tr.close()
      val bTracedS = bRecs.map(_.fence.durMs).sum / 1e3
      val sTracedS = sRecs.map(_.fence.durMs).sum / 1e3
      val untracedS = reps.headOption.map(_.wallS).getOrElse(0.0) + fenceMs.sum / 1e3
      val mismatches = Seq(reps.forall(_.fp == bFp), tsFp == sFp).count(!_)
      metrics ++= bm ++ sm ++ Map(
        "trace.overhead_s" -> Metric(bTracedS + sTracedS - untracedS, "s"),
        "trace.fingerprint_mismatch" -> Metric(mismatches.toDouble, "count"))
      details ++= Map(
        "trace" -> Map("backfill" -> bBases, "stream" -> sBases,
          "traced_wall_s" -> (bTracedS + sTracedS), "untraced_wall_s" -> untracedS,
          "fingerprints" -> Map("backfill" -> Seq(bFp._1, bFp._2), "stream" -> Seq(tsFp._1, tsFp._2))))
    }
    Outcome(ops, failed, metrics, details.toMap)
  }
}
