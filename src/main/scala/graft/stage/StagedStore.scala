package graft.stage

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Hlc, SchemaDrift}
import graft.util.Dirs

/** Durable staging buffer for mutations awaiting their resolved fence.
  *
  * Mirrors the reference's per-table staging tables
  * (reference: internal/staging/stage/stage.go:49-53, 90-97): an append-only
  * parquet dataset keyed `(nanos, logical, key)`, partitioned by an HLC time
  * bucket so that
  *   - fence-window reads prune partitions (the analog of the
  *     `(nanos, logical) BETWEEN prev AND next` index scan, stage.go:171-195),
  *   - retirement of applied mutations is a metadata-only partition drop
  *     (the analog of the windowed DELETE loop, stage.go:390-436).
  *
  * Idempotence: appends may be replayed (micro-batch retry) and the feed
  * itself may deliver duplicates (types.go:150-151); readers deduplicate on
  * `(nanos, logical, key)` — duplicate deliveries are byte-identical by
  * protocol, so any survivor is correct.
  */
final class StagedStore(
    spark: SparkSession,
    val root: String,
    /** HLC nanos per staging partition bucket */
    val bucketNanos: Long = 3600L * 1000000000L
) {
  import StagedStore._

  private val dataDir = s"$root/data"
  private val markerDir = Paths.get(root, "_batch_markers")
  private val seqFile = Paths.get(root, "_seq")
  private val fieldsFile = Paths.get(root, "_fields")
  Files.createDirectories(markerDir)
  Files.createDirectories(Paths.get(dataDir))

  private def bucketOf(nanos: Long): Long = Math.floorDiv(nanos, bucketNanos)

  /** Reclaim `_scratch-*` trees of killed writers: a scratch tree is live
    * for the duration of one staging job, and 30 min is far past any batch.
    */
  private def reapScratch(): Unit =
    Dirs.listDir(Paths.get(root)).foreach { p =>
      if (p.getFileName.toString.startsWith("_scratch-") &&
        Files.getLastModifiedTime(p).toMillis < System.currentTimeMillis() - 30 * 60 * 1000L)
        Dirs.deleteRecursively(p)
    }

  /** Move the part files of `written` (`ts_bucket=N/part-*.parquet`) into
    * this store's partition layout with driver-side renames (metadata only).
    * Part names carry the write job's UUID, so two appenders can adopt into
    * one bucket dir without name collisions. A concurrent retire may drop
    * the target dir between create and move — retried, recreating the dir;
    * the row is then re-merged from this fresh file or already covered by
    * the competitor's fence.
    */
  private def adopt(written: Path): Unit =
    for {
      bucketDir <- Dirs.listDir(written)
      if bucketDir.getFileName.toString.startsWith(s"$TS_BUCKET=")
      f <- Dirs.listDir(bucketDir)
      if f.getFileName.toString.endsWith(".parquet")
    } {
      val target = Paths.get(dataDir, bucketDir.getFileName.toString)
      var tries = 0
      var done = false
      while (!done) {
        try {
          Files.createDirectories(target)
          Files.move(f, target.resolve(f.getFileName))
          done = true
        } catch {
          case _: java.nio.file.NoSuchFileException if tries < 3 =>
            tries += 1
        }
      }
    }

  /** Monotone append counter, persisted across restarts. Every successful
    * (non-replayed) [[append]] stamps its rows with the next value; the
    * replay loop records the counter at merge time so later merges can
    * separate "staged after my last merge" (late, must apply) from "already
    * merged" rows without re-reading either. Unlike Spark batch ids, this
    * never resets when a checkpoint is wiped.
    */
  def currentSeq(): Long =
    if (Files.exists(seqFile)) Files.readString(seqFile).trim.toLong else 0L

  /** Append a batch of parsed mutations
    * `(key, data, nanos, logical, src_file)`: the one-store call of
    * [[StagedStore.appendMultiTopic]]'s staging write, with the same
    * contract. `batchId` makes replays cheap no-ops (a marker is written
    * after a successful append). The drift summary rides the write; with
    * `validatePk = Some((arity, pkPayloadNames))` a wrong key arity or a
    * missing PK column throws before anything is adopted. Returns false
    * when the batch was already staged.
    */
  def append(
      mutations: DataFrame,
      batchId: Long,
      validatePk: Option[(Int, Seq[String])] = None
  ): Boolean =
    stageBatch(
      mutations.withColumn(TOPIC, lit("")),
      batchId,
      Map("" -> this),
      validatePk.map("" -> _).toMap
    )

  /** Fold `fields` into the compacted field-set file (read-union-write,
    * atomic rename; single writer per store). Keeps [[observedFields]] an
    * O(1) file read no matter how many batches have ever been staged.
    */
  private def readFieldsFile(): Set[String] = {
    if (!Files.exists(fieldsFile)) return Set.empty
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = mapper.readTree(Files.readString(fieldsFile)).get("fields")
    if (f == null) Set.empty
    else f.elements().asScala.map(_.asText()).toSet
  }

  /** Field sets recorded per-marker by the pre-compaction format. Folded in
    * whenever the compacted file is first created so staged-but-unmerged
    * pre-upgrade batches keep their field universe — the fold must run on
    * the first WRITE, not only on the first read: the loop's own first
    * append calls [[recordFields]] before any [[observedFields]] call, and
    * creating `_fields` from the new batch alone would orphan the legacy
    * sets forever.
    */
  private def legacyMarkerFields(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Dirs
      .listDir(markerDir)
      .flatMap { p =>
        val f = mapper.readTree(Files.readString(p)).get("fields")
        if (f == null) Nil else f.elements().asScala.map(_.asText()).toList
      }
      .toSet
  }

  private[graft] def recordFields(fields: Seq[String]): Unit = {
    val legacy =
      if (!Files.exists(fieldsFile)) legacyMarkerFields() else Set.empty[String]
    val merged = (readFieldsFile() ++ legacy ++ fields).toSeq.sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("fields")
    merged.foreach(arr.add)
    val tmp = Paths.get(root, s"._fields-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(
      tmp,
      fieldsFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING
    )
  }

  /** Union of every payload field set ever staged (monotone — schemas only
    * grow). ONE compacted-file read, independent of batch count: the
    * per-batch markers exist only for append idempotence and are retired by
    * [[retire]], so the field universe cannot live in them.
    */
  def observedFields(): Set[String] = {
    if (!Files.exists(fieldsFile)) {
      // read-side half of the migration (see [[legacyMarkerFields]])
      val legacy = legacyMarkerFields()
      if (legacy.nonEmpty) recordFields(Nil)
      return legacy
    }
    readFieldsFile()
  }

  private def schema: StructType = StructType(
    Seq(
      StructField("key", StringType),
      StructField("data", StringType),
      StructField("nanos", LongType),
      StructField("logical", IntegerType),
      StructField("src_file", StringType),
      StructField(SEQ, LongType)
    )
  )

  private def readRaw(): DataFrame =
    spark.read
      .schema(schema.add(TS_BUCKET, LongType))
      .parquet(dataDir)
      // files written before the seq column existed read as null -> 0
      .withColumn(SEQ, coalesce(col(SEQ), lit(0L)))

  /** All currently staged mutations (deduplicated). */
  def readAll(): DataFrame =
    readRaw().dropDuplicates("nanos", "logical", "key")

  /** [[selectWindow]] without the `(nanos, logical, key)` dedup shuffle:
    * duplicate deliveries are byte-identical by protocol, and the snapshot
    * merge's per-key max_by keeps exactly one of any exact-tie group — so
    * the merge path can skip the dedup entirely. Use [[selectWindow]] when
    * consumers need unique rows.
    *
    * @param stagedAfterSeq when set, rows staged with `stage_seq >` this
    *   value are included even when their ts is at/below `from` — the
    *   late-delivery branch: a transport-reordered mutation below the
    *   committed fence still applies exactly once (it was never merged),
    *   while rows already merged by earlier fences (ts <= from AND staged
    *   before the last merge) stop being re-read and re-written every fence.
    */
  def selectWindowRaw(
      from: Hlc,
      to: Hlc,
      stagedAfterSeq: Option[Long] = None
  ): DataFrame = {
    val ts = struct(col("nanos"), col("logical"))
    val lo = struct(lit(from.nanos), lit(from.logical))
    val hi = struct(lit(to.nanos), lit(to.logical))
    val inWindow = ts > lo
    val cond = stagedAfterSeq match {
      case None =>
        // pure window read: lower-bound partition pruning applies
        col(TS_BUCKET).between(bucketOf(from.nanos), bucketOf(to.nanos)) &&
          col("nanos").between(from.nanos, to.nanos) && inWindow
      case Some(seq) =>
        // late rows live in ts buckets below `from`; retirement keeps the
        // on-disk set bounded, so only the UPPER bound prunes here
        col(TS_BUCKET) <= bucketOf(to.nanos) &&
          col("nanos") <= to.nanos &&
          (inWindow || col(SEQ) > seq)
    }
    readRaw().filter(cond && ts <= hi)
  }

  /** Staged mutations with `from < ts <= to` (HLC order), deduplicated.
    * The `ts_bucket` range predicate prunes partitions; the `nanos` range is
    * pushed to the parquet scan; the exact HLC tuple bounds are applied
    * post-scan.
    */
  def selectWindow(
      from: Hlc,
      to: Hlc,
      stagedAfterSeq: Option[Long] = None
  ): DataFrame =
    // filter (selectWindowRaw) BEFORE the dedup aggregate so partition
    // pruning and parquet predicate pushdown see the raw scan
    selectWindowRaw(from, to, stagedAfterSeq)
      .dropDuplicates("nanos", "logical", "key")

  /** Distinct commit timestamps present in staging within the window —
    * the reference's TransactionTimes scan (stage.go:126-164).
    */
  def transactionTimes(from: Hlc, to: Hlc): DataFrame =
    selectWindow(from, to).select("nanos", "logical").distinct()

  /** Highest staging partition bucket currently on disk (directory listing
    * only — no data read). None when nothing is staged.
    */
  def maxStagedBucket(): Option[Long] = {
    Dirs
      .listDir(Paths.get(dataDir))
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"$TS_BUCKET="))
      .map(_.stripPrefix(s"$TS_BUCKET=").toLong)
      .maxOption
  }

  def bucketOfNanos(nanos: Long): Long = bucketOf(nanos)

  /** Drop whole staging partitions whose every mutation is at or below the
    * committed fence, and prune old batch markers. Metadata-only (directory
    * removal); partial buckets are kept — their applied rows are screened
    * out by the fence on read. Returns the number of partitions dropped.
    *
    * Marker retirement: markers exist only so an append replayed by the
    * streaming engine is a cheap no-op, and the engine only ever replays
    * the most recent uncommitted batch — so the newest `markerKeep` markers
    * are ample. A re-append past that horizon (wiped checkpoint) is still
    * absorbed by the read-side `(nanos, logical, key)` dedup / merge
    * max_by; without pruning, a day at 1 batch/s leaves ~86k files that
    * every directory listing pays for.
    */
  def retire(upTo: Hlc, markerKeep: Int = 64): Int = {
    val fenceBucket = bucketOf(upTo.nanos) // drop buckets strictly below
    var dropped = 0
    Dirs.listDir(Paths.get(dataDir)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(s"$TS_BUCKET=")) {
        val b = name.stripPrefix(s"$TS_BUCKET=").toLong
        if (b < fenceBucket) {
          Dirs.deleteRecursively(p)
          dropped += 1
        }
      }
    }
    // marker names are batch-identity hashes (not sequential); recency
    // comes from the store seq embedded in the marker CONTENT (exact and
    // monotone — file mtime alone mis-orders markers written within one
    // coarse-granularity mtime tick). Legacy seq-less markers sort oldest,
    // then by (mtime, name) for determinism.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def markerSeq(p: Path): Long =
      try {
        val n = mapper.readTree(Files.readString(p)).get("seq")
        if (n == null) Long.MinValue else n.asLong(Long.MinValue)
      } catch { case _: Exception => Long.MinValue }
    val markers = Dirs
      .listDir(markerDir)
      .map(p =>
        (markerSeq(p), Files.getLastModifiedTime(p).toMillis, p.getFileName.toString, p)
      )
      .sortBy { case (s, t, n, _) => (s, t, n) }
    markers.dropRight(markerKeep).foreach { case (_, _, _, p) => Files.deleteIfExists(p) }
    dropped
  }
}

object StagedStore {
  val TS_BUCKET = "ts_bucket"
  val SEQ = "stage_seq"

  private val TOPIC = "topic"
  private val STORE = "__store"

  /** Stage one multi-topic batch into each topic's store — the webhook's
    * one-transaction staging of all its tables (reference:
    * internal/source/cdc/webhook.go:117-164) — with the same contract as
    * [[StagedStore.append]]. `mutations` must carry
    * `(topic, key, data, nanos, logical, src_file)`; rows of topics not in
    * `stores` are dropped. `validatePk` holds the topics whose key arity
    * and PK presence are checked (PK-less topics synthesize a rowid at plan
    * time); a violation fails the whole batch, naming the topic.
    */
  def appendMultiTopic(
      mutations: DataFrame,
      batchId: Long,
      stores: Map[String, StagedStore],
      validatePk: Map[String, (Int, Seq[String])]
  ): Unit = stageBatch(mutations, batchId, stores, validatePk)

  /** The one staging write (the reference's `Store.Stage`,
    * internal/staging/stage/stage.go:291-388):
    *   1. stamp each pending store's next seq and ts bucket on its rows;
    *   2. write the whole batch in ONE shuffle-free job,
    *      `partitionBy(store, ts_bucket)`, into a private
    *      `<store root>/_scratch-*` tree, with the per-store drift summary
    *      ([[SchemaDrift]]) riding the same scan as an Observation;
    *   3. validate, and only then adopt the part files into each store;
    *   4. advance each store's seq, fold its field set into `_fields` and
    *      write its idempotence marker.
    * A rejected batch therefore leaves no staged row, seq or marker behind.
    * A crash after adoption replays the batch; its duplicate rows are
    * byte-identical and collapse in the read-side dedup / merge max_by.
    *
    * The private scratch tree exists because two appenders writing
    * `mode("append")` into one directory share the Hadoop committer's
    * `_temporary` tree: the first job's cleanup deletes the second's
    * in-flight task files (TASK_WRITE_FAILED) — the write-side face of an
    * HA restart overlap (two drivers on one staging store).
    */
  private def stageBatch(
      mutations: DataFrame,
      batchId: Long,
      stores: Map[String, StagedStore],
      validatePk: Map[String, (Int, Seq[String])]
  ): Boolean = {
    require(stores.nonEmpty)
    val (topics, pending) = stores.toSeq.sortBy(_._1).filterNot { case (_, st) =>
      Files.exists(st.markerDir.resolve(s"$batchId"))
    }.unzip
    if (pending.isEmpty) return false
    val seqs = pending.map(_.currentSeq() + 1)
    // each row's store index, then that store's seq and ts bucket, as
    // CASE columns over the pending stores (constants for one store)
    def perStore(f: Int => Column): Column =
      pending.indices.foldLeft(lit(null)) { (acc, i) =>
        when(col(STORE) === i, f(i)).otherwise(acc)
      }
    val storeOf = pending.indices.foldLeft(lit(null).cast(IntegerType)) { (acc, i) =>
      when(col(TOPIC) === topics(i), lit(i)).otherwise(acc)
    }
    val rules = pending.indices.flatMap(i => validatePk.get(topics(i)).map(i -> _)).toMap
    // globally-unique name: Observations match by name on the shared
    // listener bus, so two sessions staging the same batch concurrently
    // would otherwise read each other's drift metrics
    val obs = Observation(s"stage-$batchId-${java.util.UUID.randomUUID()}")
    val drift = SchemaDrift.aggregates(col(STORE), pending.size, rules)
    val staged = mutations
      .withColumn(STORE, storeOf)
      .filter(col(STORE).isNotNull)
      .drop(TOPIC)
      .withColumn(SEQ, perStore(i => lit(seqs(i))))
      .withColumn(TS_BUCKET, perStore(i => floor(col("nanos") / pending(i).bucketNanos)))
      .observe(obs, drift.head, drift.tail: _*)

    pending.foreach(_.reapScratch())
    val scratch = Files.createTempDirectory(Paths.get(pending.head.root), "_scratch-")
    val fields =
      try {
        val out = scratch.resolve("out")
        // each input task writes its rows straight into the (store,
        // ts-bucket) directories it touches: no shuffle
        staged.write.mode("overwrite").partitionBy(STORE, TS_BUCKET).parquet(out.toString)
        val fields = SchemaDrift.check(obs.get, pending.size, rules, i => topics(i) match {
          case "" => "" // the one-store call names no topic
          case t  => s"[$t] "
        })
        pending.indices.foreach(i => pending(i).adopt(out.resolve(s"$STORE=$i")))
        fields
      } finally Dirs.deleteRecursively(scratch)
    pending.indices.foreach { i =>
      val st = pending(i)
      Files.writeString(st.seqFile, seqs(i).toString)
      // fold the field set into `_fields` BEFORE the marker lands: a crash
      // in between replays the batch and re-unions (sets only grow)
      st.recordFields(fields(i))
      Files.writeString(st.markerDir.resolve(s"$batchId"), s"""{"seq":${seqs(i)}}""")
    }
    true
  }
}
