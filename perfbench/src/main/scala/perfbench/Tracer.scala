package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, taken only from the benchmark's
  * own listeners: a `SparkListener` for the `engine` layer, and a
  * `QueryExecutionListener` for the `catalyst` phases of batch queries
  * (the sink's `foreachBatch` writes and the snapshot refresh). Stream
  * phases come from the progress events in [[streaming]]. */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private var stages, tasks = 0L
  private var taskMs, schedDelayMs, gcMs = 0.0
  private var shuffleRead, shuffleWrite, spill = 0.0
  private val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var executions = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks += 1
      taskMs += i.duration
      schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    for ((phase, s) <- qe.tracker.phases) phaseMs(phase) += s.durationMs
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Engine and catalyst totals over `[fromMs, toMs]`. */
  def summary(fromMs: Long, toMs: Long): Map[String, Any] = synchronized {
    val wallMs = (toMs - fromMs).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "engine.jobs" -> jobSpans.size, "engine.stages" -> stages, "engine.tasks" -> tasks,
      "engine.task_s" -> taskMs / 1000, "engine.busy_frac" -> taskMs / (wallMs * cores),
      "engine.scheduler_delay_ms" -> schedDelayMs, "engine.gc_ms" -> gcMs,
      "engine.shuffle_read_mb" -> shuffleRead / mb, "engine.shuffle_write_mb" -> shuffleWrite / mb,
      "engine.spill_mb" -> spill / mb,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.executions" -> executions,
      "driver.uncovered_ms" -> (wallMs - covered(fromMs, toMs)))
  }

  /** Milliseconds of `[fromMs, toMs]` during which at least one job ran. */
  private def covered(fromMs: Long, toMs: Long): Double = {
    var total, end = fromMs
    for ((s, e) <- jobSpans.map { case (s, e) => (s max fromMs, e min toMs) }.sortBy(_._1)
         if e > s) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    (total - fromMs).toDouble
  }
}

object Tracer {
  def attach(spark: SparkSession, cores: Int): Tracer = {
    val t = new Tracer(cores)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** `source`, `pipelines` and `state` layers from the measured queries'
    * progress events: phase times are means per trigger, state rows and
    * bytes are the last trigger's, the rest are totals. */
  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Any] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val byQuery = ps.groupBy(_.name)
    val perQuery = byQuery.toSeq.flatMap { case (name, qps) =>
      Seq("planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
        "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")
        .map { case (m, k) => s"pipelines.$name.$m" -> mean(qps.map(d(_, k))) } ++
        Seq(s"pipelines.$name.triggers" -> qps.size,
          s"pipelines.$name.rows_in" -> qps.map(_.numInputRows).sum)
    }
    val ops = ps.flatMap(_.stateOperators)
    val last = byQuery.values.flatMap(_.lastOption).toSeq
    perQuery.toMap ++ Map(
      "source.latest_offset_ms" -> mean(ps.map(d(_, "latestOffset"))),
      "source.get_batch_ms" -> mean(ps.map(d(_, "getBatch"))),
      "state.rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal).sum,
      "state.bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum,
      "state.update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "state.commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state.dropped_late_rows" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }
}
