package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** Streaming observability: a [[StreamingQueryListener]] that lands
  * per-trigger progress as rows of a parquet metrics table — the
  * engine-side analog of the reference's Prometheus export (ingest
  * counters and latency summaries at
  * services/ingestion/src/api/v1/endpoints/track.py:21-23, harness
  * percentiles at tests/performance/core/metrics.py:21-59). At 100 TB
  * the numbers that page an operator are watermark lag and state-store
  * growth, neither of which is visible from the output tables — they
  * only exist in trigger progress, so losing them means flying blind.
  *
  * One row per (query, trigger): input volume/rates, trigger duration and
  * its phases, event-time watermark, state rows/bytes. Rows buffer in memory and
  * flush as a parquet append every `flushEvery` events (and on query
  * termination), so the write amplification is one small file per
  * `flushEvery` triggers — metrics volume, not data volume; compact
  * downstream like any other log table. Read API:
  * [[graft.operators.MetricsStore.streamingProgress]] /
  * [[MetricsStore.watermarkLag]].
  */
object Observability {

  /** The trigger phases of `StreamingQueryProgress.durationMs` kept as
    * columns, (durationMs key, column): where a trigger's time went.
    * A phase the trigger did not run is null. */
  val phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset_ms",
    "getBatch" -> "get_batch_ms",
    "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms",
    "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms")

  val progressSchema: StructType = StructType(Seq(
    StructField("query_name", StringType),
    StructField("run_id", StringType),
    StructField("batch_id", LongType),
    StructField("ts_ms", LongType),
    StructField("num_input_rows", LongType),
    StructField("input_rps", DoubleType, nullable = true),
    StructField("processed_rps", DoubleType, nullable = true),
    StructField("trigger_ms", LongType),
    StructField("watermark_ms", LongType, nullable = true),
    StructField("state_rows", LongType),
    StructField("state_bytes", LongType)) ++
    phases.map { case (_, c) => StructField(c, LongType, nullable = true) })

  /** Attach a fresh listener writing to `path`; caller detaches via
    * [[detach]] (which also flushes the tail buffer). */
  def attach(spark: SparkSession, path: String,
             flushEvery: Int = 8): MetricsListener = {
    val l = new MetricsListener(spark, path, flushEvery)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: MetricsListener): Unit = {
    spark.streams.removeListener(l)
    l.flush()
  }
}

class MetricsListener(spark: SparkSession, path: String, flushEvery: Int)
    extends StreamingQueryListener {

  // listener callbacks arrive on the listener-bus thread; flush() may
  // also be called from the caller's thread at detach — guard the
  // buffer hand-off, keep the (driver-side) write outside no lock
  private val buf = new java.util.ArrayList[Row]()

  // progress events observed so far (bus delivery is async; specs and
  // shutdown hooks poll this instead of sleeping)
  @volatile private var seen = 0
  def eventsSeen: Int = seen

  private def isoMs(s: String): java.lang.Long =
    if (s == null || s.isEmpty) null else Instant.parse(s).toEpochMilli

  private def finiteOrNull(d: Double): java.lang.Double =
    if (java.lang.Double.isFinite(d)) d else null

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val row = Row.fromSeq(Seq(
      Option(p.name).getOrElse(p.id.toString),
      p.runId.toString,
      p.batchId,
      isoMs(p.timestamp),
      p.numInputRows,
      finiteOrNull(p.inputRowsPerSecond),
      finiteOrNull(p.processedRowsPerSecond),
      Long.box(p.durationMs.getOrDefault("triggerExecution", 0L)),
      isoMs(Option(p.eventTime).map(_.get("watermark")).orNull),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum) ++
      Observability.phases.map { case (k, _) => p.durationMs.get(k) })
    val doFlush = buf.synchronized {
      buf.add(row)
      buf.size >= flushEvery
    }
    seen += 1
    if (doFlush) flush()
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = flush()

  /** Append any buffered rows to the metrics table. */
  def flush(): Unit = {
    val rows = buf.synchronized {
      if (buf.isEmpty) null
      else { val r = new java.util.ArrayList[Row](buf); buf.clear(); r }
    }
    if (rows != null)
      spark.createDataFrame(rows, Observability.progressSchema)
        .coalesce(1).write.mode("append").parquet(path)
  }
}
