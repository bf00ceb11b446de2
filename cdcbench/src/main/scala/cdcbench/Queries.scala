package cdcbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The `query_suite` workload: graft.Bench's 16 headline queries through
  * `SparkEntry.queries`, each written to a noop sink, several passes a run.
  */
object Queries {
  val Headline: Seq[String] = Seq(
    "q_lww_dedup", "q_lww_salted", "q_cdc_apply", "q_cas_gate", "q_fence_window",
    "q_agg_lineitem", "q_join_mktsegment", "q_window_rank", "q_dedup_exact",
    "q_token_count", "q_text_stats", "q_quality_score", "q_minhash_pairs",
    "q_simhash_pairs", "q_knn_cosine", "q_knn_lsh"
  )

  /** Queries whose Spark stages are reported one by one in the traced run. */
  val StageSplit: Seq[String] = Seq("q_minhash_pairs", "q_cas_gate")
  /** Stage slots reported per split query (stages beyond are summed into
    * the last slot; missing ones read 0).
    */
  val StageSlots = 8

  /** Scale of the timed passes and of the warm-up pass. */
  val TimedScale = "sf0.01"
  val WarmScale = "sf0.001"

  def layerNames: Seq[(String, String)] =
    Headline.map(q => s"query.${q}_s" -> "s") ++
      StageSplit.flatMap(q =>
        (0 until StageSlots).flatMap(k =>
          Seq(s"query.$q.stage${k}_task_ms" -> "ms", s"query.$q.stage${k}_shuffle_bytes" -> "bytes")))

  private def run(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  /** Doubles rounded to six significant digits (a summation-order change
    * must not flip the digest), recursively through arrays and structs.
    */
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.5e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => norm(x, e))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _ => c
  }

  /** Row count and order-insensitive hash of a query's output. */
  def digest(spark: SparkSession, name: String, dir: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${Option(r.getDecimal(2)).getOrElse(0)}"
  }

  /** Print the digests of every headline query at both scales, for pinning
    * new references in [[QueryRefs]].
    */
  def printDigests(spark: SparkSession, data: String): Unit =
    Seq(WarmScale, TimedScale).foreach { sf =>
      Headline.foreach(q => println(s"""    "$q" -> "${digest(spark, q, s"$data/$sf")}","""))
      println()
    }

  def suite(spark: SparkSession, c: RunCfg): Outcome = {
    val warmDir = s"${c.data}/$WarmScale"
    val dir = s"${c.data}/${if (c.smoke) WarmScale else TimedScale}"
    val refs = if (c.smoke) QueryRefs.Sf0001 else QueryRefs.Sf001
    // warm-up: one pass at the smallest scale pays JIT, codegen and class
    // loading of the whole operator surface
    val phases = new Phases
    phases.mark("session")
    Headline.foreach(q => try run(spark, q, warmDir) catch { case NonFatal(_) => () })
    val setupS = Proc.sinceJvmStartS()

    val times = Headline.map(_ -> ArrayBuffer.empty[Double]).toMap
    val errors = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var measured = 0.0
    var passes = 0
    def pass(tracer: Option[Tracer]): Unit = {
      Headline.foreach { q =>
        val t0 = System.nanoTime()
        try {
          tracer match {
            case Some(tr) => tr.span(s"query.$q")(run(spark, q, dir))
            case None => run(spark, q, dir)
          }
          times(q) += (System.nanoTime() - t0) / 1e9
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[cdcbench] $q failed: $e")
            errors(q) += 1
        }
        measured += (System.nanoTime() - t0) / 1e9
      }
      passes += 1
    }
    // untraced: about `seconds` of passes (~6 s each on the reference VM), at
    // least three, so each query's median is a middle sample; traced: one,
    // as the untraced reference for the traced pass
    val n = if (c.trace) 1 else Stats.repeats(c.seconds, 6.0)
    while (passes < n) pass(None)
    val untracedPassS = measured / passes
    phases.mark("timed")

    val mismatched = Headline.filter { q =>
      val want = if (c.corruptExpected && q == Headline.head) "corrupted" else refs.getOrElse(q, "unpinned")
      val got = try digest(spark, q, dir) catch { case NonFatal(e) => s"error: $e" }
      if (got != want) System.err.println(s"[cdcbench] $q digest $got, expected $want")
      got != want
    }
    phases.mark("checked")

    // one latency per query, its median across the passes: the sample is
    // the 16 queries however many passes the run made
    val medians = Headline.filter(times(_).nonEmpty).map(q => q -> Stats.median(times(q).toSeq))
    val total = medians.map(_._2).sum
    val details = scala.collection.mutable.LinkedHashMap[String, Any](
      "scale" -> dir.split('/').last,
      "warm_scale" -> WarmScale,
      "passes" -> passes,
      "phases_s" -> phases.toMap,
      "query_median_s" -> medians.toMap,
      "query_total_s" -> total,
      "digest_mismatches" -> mismatched
    )
    var metrics = Map[String, Metric]("setup_s" -> Metric(setupS, "s"))
    if (medians.nonEmpty) {
      val lat = medians.map(_._2)
      val q = Stats.tailQuantile(lat.size)
      details ++= Map("query_tail_quantile" -> q, "query_samples" -> lat.size)
      metrics ++= Map(
        "throughput_per_s" -> Metric(medians.size / total, "1/s"),
        "op_p50_ms" -> Metric(Stats.median(lat) * 1e3, "ms"),
        "op_tail_ms" -> Metric(Stats.quantile(lat, q) * 1e3, "ms"))
    }

    if (c.trace) {
      val tr = new Tracer(spark)
      val before = measured
      pass(Some(tr))
      val tracedPassS = measured - before
      tr.drain()
      val perQuery = Headline.map { q =>
        val s = tr.last(s"query.$q")
        s"query.${q}_s" -> Metric(s.durMs / 1e3, "s")
      }
      val stages = StageSplit.flatMap { q =>
        val st = tr.stagesOf(tr.last(s"query.$q"))
        val slots = st.take(StageSlots - 1) ++
          (if (st.size >= StageSlots)
             Seq((st(StageSlots - 1)._1, st.drop(StageSlots - 1).map(_._2).sum,
               st.drop(StageSlots - 1).map(_._3).sum))
           else Nil)
        details += s"stages_$q" -> st.map(x => Seq(x._1, x._2, x._3))
        (0 until StageSlots).flatMap { k =>
          val (ms, bytes) = slots.lift(k).map(x => (x._2, x._3)).getOrElse((0L, 0L))
          Seq(s"query.$q.stage${k}_task_ms" -> Metric(ms.toDouble, "ms"),
            s"query.$q.stage${k}_shuffle_bytes" -> Metric(bytes.toDouble, "bytes"))
        }
      }
      tr.write(c.spansFile)
      tr.close()
      metrics ++= perQuery ++ stages ++ Map(
        "trace.overhead_s" -> Metric(tracedPassS - untracedPassS, "s"))
      details ++= Map("traced_pass_s" -> tracedPassS, "untraced_pass_s" -> untracedPassS)
    }
    // every execution (the traced pass too) of a query whose digest is wrong
    val failed = errors.values.sum.toLong + mismatched.map(times(_).size).sum
    Outcome(passes.toLong * Headline.size, failed, metrics, details.toMap)
  }
}
