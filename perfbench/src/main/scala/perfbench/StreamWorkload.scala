package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.state.Scaling
import graft.state.Scaling._
import graft.streaming.MetricPipeline

/** `metric-stream`: the paper's autoscale loop. A recorded tick trace is
  * replayed through `ReplaySource` (fixed rows per micro-batch) into
  * `MetricPipeline.start` with `Trigger.AvailableNow` and the benchmark's
  * own sink. A closed loop: one query, each micro-batch starts after the
  * previous one commits. One pass drains the whole trace from a fresh
  * checkpoint; the set-up drains a shorter warm-up trace. */
final class StreamWorkload(cfg: Config) extends Workload {
  import StreamWorkload._

  private val trace = s"${cfg.input}/trace.jsonl"
  private var drains = 0
  private val got = ArrayBuffer.empty[Seq[Act]]
  private val sinkNs = new java.util.concurrent.atomic.AtomicLong(0)

  private def drain(spark: SparkSession, tr: Tracer, path: String): (Seq[Act], Seq[StreamingQueryProgress]) = {
    val acts = new ConcurrentLinkedQueue[Act]()
    val ckpt = s"${cfg.runDir}/stream/ckpt-$drains"
    drains += 1
    val payloads = spark.readStream.format("graft.sources.ReplaySource")
      .option("path", path).option("maxRowsPerBatch", MaxRowsPerBatch.toString).load()
    // the query thread inherits the drain span as its local property, so
    // its jobs are children of the drain
    val q = tr("drain", "streaming") {
      val q = MetricPipeline.start(payloads, ClusterId,
        (batch: DataFrame, _: Long) => {
          val t0 = System.nanoTime()
          batch.collect().foreach(r => acts.add(Act(r.getAs[String]("rule"),
            r.getAs[Long]("atSec"), r.getAs[Int]("from"), r.getAs[Int]("to"))))
          sinkNs.addAndGet(System.nanoTime() - t0)
          ()
        }, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    (acts.asScala.toSeq.sortBy(_.atSec), q.recentProgress.toSeq)
  }

  override def setup(spark: SparkSession, tr: Tracer): Unit =
    drain(spark, tr, s"${cfg.input}/warm.jsonl")

  override def pass(spark: SparkSession, tr: Tracer, ops: ArrayBuffer[Op]): Unit = {
    sinkNs.set(0)
    val ok = try {
      val (acts, progress) = drain(spark, tr, trace)
      got += acts
      progress.foreach { p =>
        ops += Op("batch", s"batch-${p.batchId}", "streaming", tr.pass,
          p.durationMs.get("triggerExecution") / 1e3, true, tr.last("drain").id)
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] drain failed: ${e.getMessage}")
      false
    }
    if (!ok) ops += Op("batch", "drain", "streaming", tr.pass, 0.0, false, 0L)
  }

  /** The oracle of `AutoscaleReplaySpec`: the pure `Scaling.run` fold over
    * the batch window averages the final watermark emits. Returns the
    * actions and the time the fold took. */
  private def expected(spark: SparkSession): (Seq[Act], Double) = {
    val payloads = spark.read.format("json").schema("ts LONG, payload STRING").load(trace)
      .select(col("ts").cast("timestamp").as("ts"), col("payload"))
    val points = MetricPipeline.parseRmPayload(payloads, ClusterId)
    val maxTs = points.toDF().agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val windows = MetricPipeline.windowAvg(points)
      .filter(unix_timestamp(col("win_end")) <= maxTs - WatermarkSec)
      .select(col("clusterId"), unix_timestamp(col("win_end")), col("avg_value"))
      .collect().map(r => WindowAvg(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val t0 = System.nanoTime()
    val (_, actions) = Scaling.run(referenceRules, referenceConstraints,
      ClusterState(1, Map.empty), windows)
    (actions.map(a => Act(a.rule, a.atSec, a.from, a.to)), (System.nanoTime() - t0) / 1e9)
  }

  override def check(spark: SparkSession): Map[String, Any] = {
    val (want, _) = expected(spark)
    val bad = got.count(_ != want)
    if (bad > 0) System.err.println(s"[perfbench] metric-stream: $bad of ${got.size} drains " +
      s"emitted actions other than the Scaling.run oracle (${want.size} actions)")
    Map("drains" -> got.size, "wrong_drains" -> bad, "expected_actions" -> want.size)
  }

  override def layers(spark: SparkSession, tr: Tracer, ls: Listeners,
      passOps: Seq[Op]): (Map[String, Double], Seq[Map[String, Any]]) = {
    val progress = ls.progress.asScala.toSeq.map(_.progress)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3
    val state = progress.flatMap(_.stateOperators)
    Map(
      "sources.latest_offset_s" -> dur("latestOffset"),
      "sources.get_batch_s" -> dur("getBatch"),
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.sink_s" -> sinkNs.get / 1e9,
      "streaming.batches" -> progress.size.toDouble,
      "state.rows_total" -> progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L).toDouble,
      "state.memory_bytes" -> (if (progress.isEmpty) 0.0
        else progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble),
      "state.commit_s" -> state.map(_.commitTimeMs).sum / 1e3,
      "state.update_s" -> state.map(_.allUpdatesTimeMs).sum / 1e3,
      "state.decide_s" -> expected(spark)._2) -> progress.map(p => Map[String, Any](
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

object StreamWorkload {
  final case class Act(rule: String, atSec: Long, from: Int, to: Int)
  val ClusterId = "j-BENCH"
  val MaxRowsPerBatch = 30
  /** `MetricPipeline.windowAvg`'s default watermark delay. */
  val WatermarkSec = 600L
}
