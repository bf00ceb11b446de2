package cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call into a layer: name, interval (epoch ms, comparable with Spark's
  * task launch/finish times), duration, and the span that caused it.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long, durMs: Double)

/** Task-level counters of the Spark jobs one span ran. */
final class Totals {
  val jobs, tasks, taskMs, gcMs, shuffleWriteBytes, spillBytes,
    outputBytes, outputRecords = new AtomicLong
}

/** Span recorder for the traced runs. Every span sets a Spark job group, so
  * a listener can attribute the jobs, tasks, GC, shuffle, spill and output
  * counters of the work it ran; task intervals are kept to find the part of
  * a span during which no task ran (driver-serial time). Spans stay in
  * memory and are written to one file by [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "cdcbench-span-"
  private val spans = ArrayBuffer.empty[Span]
  private val names = scala.collection.mutable.Map.empty[Int, String]
  private var nextId = 0
  private var open: List[Int] = Nil

  private val stageSpan = new ConcurrentHashMap[Int, Integer]
  private val totals = new ConcurrentHashMap[Integer, Totals]
  /** (span id, stage id) -> (task ms, shuffle write bytes) */
  private val stageStats = new ConcurrentHashMap[(Int, Int), Array[Long]]
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(GroupPrefix)) {
        val id: Integer = g.stripPrefix(GroupPrefix).toInt
        totals.computeIfAbsent(id, _ => new Totals).jobs.incrementAndGet()
        js.stageIds.foreach(stageSpan.put(_, id))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val info = te.taskInfo
      if (info != null) taskIntervals.add((info.launchTime, info.finishTime))
      val id = stageSpan.get(te.stageId)
      val m = te.taskMetrics
      if (id != null && m != null) {
        val t = totals.computeIfAbsent(id, _ => new Totals)
        t.tasks.incrementAndGet()
        t.taskMs.addAndGet(m.executorRunTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        t.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        t.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
        val s = stageStats.computeIfAbsent((id.intValue, te.stageId), _ => new Array[Long](2))
        s.synchronized {
          s(0) += m.executorRunTime
          s(1) += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `f` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    names(id) = name
    open = id :: open
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val durMs = (System.nanoTime() - n0) / 1e6
      val s1 = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p, names(p), interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, s0, s1, durMs)
    }
  }

  /** Id of the span most recently closed with this name. */
  def last(name: String): Span = spans.findLast(_.name == name).get

  /** Wait for the listener bus, so every counter of finished work is in. */
  def drain(): Unit = org.apache.spark.CdcbenchBus.drain(sc)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  def totalsOf(s: Span): Totals = Option(totals.get(s.id: Integer)).getOrElse(new Totals)

  /** Counter summed over a span and all its descendants. */
  def sumOver(s: Span)(field: Totals => AtomicLong): Long =
    (s +: descendants(s)).map(x => field(totalsOf(x)).get).sum

  /** Per-stage (task ms, shuffle write bytes) of a span's jobs, in stage-id
    * order.
    */
  def stagesOf(s: Span): Seq[(Int, Long, Long)] =
    stageStats.asScala.toSeq
      .collect { case ((sid, stage), v) if sid == s.id => (stage, v(0), v(1)) }
      .sortBy(_._1)

  /** Length (ms) of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Part of the span (ms) during which no Spark task was running. */
  def noTaskMs(s: Span): Double = {
    val all = taskIntervals.asScala.toSeq
    (s.endMs - s.startMs) - covered(all, s.startMs, s.endMs).toDouble
  }

  /** Share of the span's wall time covered by its child spans. */
  def childCoverage(s: Span): Double = {
    val kids = children(s).map(k => (k.startMs, k.endMs))
    val wall = s.endMs - s.startMs
    if (wall <= 0) 1.0 else covered(kids, s.startMs, s.endMs).toDouble / wall
  }

  /** Self time: span duration minus the part its child spans cover. */
  def selfMs(s: Span): Double = s.durMs * (1.0 - childCoverage(s))

  /** Write every span, with its own task counters, as JSON lines. */
  def write(path: String): Unit = {
    drain()
    val lines = spans.sortBy(_.id).map { s =>
      val t = totalsOf(s)
      Json(
        scala.collection.immutable.ListMap(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs,
          "jobs" -> t.jobs.get, "tasks" -> t.tasks.get, "task_ms" -> t.taskMs.get,
          "gc_ms" -> t.gcMs.get, "shuffle_write_bytes" -> t.shuffleWriteBytes.get,
          "spill_bytes" -> t.spillBytes.get, "output_bytes" -> t.outputBytes.get,
          "output_records" -> t.outputRecords.get
        )
      )
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}
