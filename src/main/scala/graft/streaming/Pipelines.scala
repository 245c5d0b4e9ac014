package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{EventAggregator, PerformanceTracker, SessionTracker}

/** Streaming topology: the Spark analog of the reference's
  * JobCoordinator (services/processing/src/core/job_coordinator.py:11-86).
  *
  * The three aggregation pipelines reuse the SAME batch transforms
  * (graft.operators.*) — windowed groupBy code is batch/stream agnostic
  * in Spark; streaming adds only a watermark (W4) and an output sink.
  * They run as three independent StreamingQueries sharing one source
  * definition (W9 — the idiomatic-Spark replacement for Flink's
  * StatementSet: per-query checkpoints, independent restart/backfill).
  *
  * Emit semantics: append mode — a window's row is emitted once, when
  * the watermark passes its end (matches Flink append emit-on-close with
  * upsert-materialize disabled, W10). Late rows beyond the watermark are
  * dropped in both engines.
  */
object Pipelines {

  /** File-based streaming source over an events parquet directory with
    * the same column shape as [[graft.Tables.events]]. Kafka swaps in by
    * replacing this reader; every transform downstream is unchanged. */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file stream source needs a directory: stream the sf dir, glob-match
    // the events file at any depth. Recursive lookup (no partition
    // inference) reads plain subdirectories too, and a `k=<n>` directory
    // landing after start cannot add a partition column the schema fixed
    // at start lacks (which failed every query with `Invalid batch`).
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    // same two physical shapes as Tables.events: legacy nanos-as-long
    // and the regenerated corpus's TIMESTAMP(MICROS) (read as NTZ)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Exact distinct-user counts (custom state op — Spark's built-in
    * streaming agg can't do exact distinct; see [[ExactEventMetrics]]). */
  def eventMetrics(events: DataFrame,
                   watermark: String = "10 seconds",
                   windowMs: Long = 60000L): DataFrame =
    ExactEventMetrics(events, watermark, windowMs).toDF()

  /** Scale-path variant: HLL distinct, built-in streaming agg, bounded
    * state per group. */
  def eventMetricsApprox(events: DataFrame,
                         watermark: String = "10 seconds",
                         window: String = "60 seconds"): DataFrame =
    EventAggregator.aggregateApprox(
      events.withWatermark("ts", watermark), windowDuration = window)

  def sessionMetrics(events: DataFrame,
                     watermark: String = "10 seconds",
                     gap: String = "1800 seconds"): DataFrame =
    SessionTracker.sessions(events.withWatermark("ts", watermark), gap = gap)

  def perfMetrics(events: DataFrame,
                  watermark: String = "10 seconds",
                  window: String = "300 seconds"): DataFrame =
    PerformanceTracker.metrics(
      events.withWatermark("ts", watermark), windowDuration = window)

  /** Idempotent micro-batch write for the storage sink. foreachBatch is
    * at-least-once: after a crash between the parquet commit and the
    * checkpoint commit, Spark REPLAYS the batch, and a plain append would
    * double every row (the gap the reference closes with transactional
    * producer ids — services/processing/src/connectors/kafka_sink.py:18).
    * Exactly-once here comes from making the replay a no-op: each batch
    * lands in its own (p_date, batch_id) partitions and the write runs in
    * dynamic partition-overwrite mode, so re-running batch N rewrites
    * exactly the partitions batch N already produced — no read of
    * existing data, no key comparison, O(batch) work at any table size.
    * Within a batch, append-mode windowed output is already unique per
    * (window, keys), so partition-level idempotence IS row-level
    * exactly-once. */
  def writeStorageBatch(batch: DataFrame, batchId: Long, path: String,
                        sortKey: Seq[String]): Unit = {
    val tsCol = sortKey.head
    batch
      .withColumn("p_date", to_date(timestamp_millis(col(tsCol))))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("p_date"))
      .sortWithinPartitions(sortKey.map(col): _*)
      .write.mode("overwrite")
      // per-writer scope, not session conf: concurrent callers sharing a
      // session must never race a set/restore of the global mode (a write
      // observing STATIC would truncate the whole sink table)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date", "batch_id").parquet(path)
  }

  /** Background part-merge for the storage sink — the ClickHouse
    * MergeTree analog the reference gets for free from its storage
    * engine. [[writeStorageBatch]]'s exactly-once contract costs one
    * (p_date, batch_id) partition per micro-batch: at a 60 s trigger
    * that is ~1440 batch dirs per date per table, and at 100 TB the
    * file count (not the bytes) becomes the scan bottleneck. Compaction
    * rewrites ONE closed date's batch partitions into a single sorted
    * `batch_id=-1` part, written to the date's own directory so no
    * other partition is touched (concurrent streaming appends land in
    * newer dates — disjoint paths). Idempotent: re-running rewrites the
    * same content.
    *
    * Only compact dates the stream has moved past: a crash-replayed
    * micro-batch re-creates its (p_date, batch_id) partition, so
    * compacting the date still being written would let a replay
    * re-add rows the compacted part already absorbed. */
  def compactStorageDate(spark: SparkSession, tablePath: String,
                         date: java.time.LocalDate,
                         sortKey: Seq[String]): Unit = {
    val datePath = s"$tablePath/p_date=$date"
    val part = spark.read.parquet(datePath) // batch_id=* subdirs
      .drop("batch_id")
      .withColumn("batch_id", lit(-1L))
      .sortWithinPartitions(sortKey.map(col): _*)
      .localCheckpoint() // materialize BEFORE overwriting the input dirs
    part.write.mode("overwrite").partitionBy("batch_id").parquet(datePath)
  }

  /** Storage sink (S5 analog): write each micro-batch to a parquet
    * table partitioned by UTC date of the window start and sorted within
    * partitions on the MergeTree-style sort key — date partition pruning
    * then mirrors ClickHouse range reads (SURVEY §4 storage layout).
    * Batch replays after crash are absorbed by [[writeStorageBatch]]'s
    * partition-overwrite idempotence (exactly-once table contents). */
  def startStorageSink(df: DataFrame, path: String, checkpoint: String,
                       sortKey: Seq[String]): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeStorageBatch(batch, batchId, path, sortKey)
      }
      .start()

  /** Processing-time mode (P11/W5): the reference's non-production runs
    * swap the event-time column for Flink's `PROCTIME()`
    * (event_source.py:58-59; jobs switch on app_environment). Spark
    * analog: `current_timestamp()` in a streaming query is evaluated
    * once per micro-batch at planning time — constant within a batch,
    * monotonically increasing across batches — which IS proc-time at
    * micro-batch granularity. Prepending this transform puts any
    * existing pipeline in proc-time mode (windows tumble on arrival
    * time; watermark delay 0 is sound because arrival time never
    * regresses), mirroring the reference's time-column switch. */
  def withProcTime(events: DataFrame, timeCol: String = "ts"): DataFrame =
    events.withColumn(timeCol, current_timestamp())

  /** Proc-time event metrics: the reference's dev-mode aggregation.
    * Uses the HLL distinct variant — streaming-safe built-in agg; the
    * exact-distinct state op stays the event-time production path. */
  def procTimeMetrics(events: DataFrame, window: String = "60 seconds"): DataFrame =
    eventMetricsApprox(withProcTime(events), watermark = "0 seconds", window = window)

  /** Sketch-column sink: per-(window, type) HLL user sketches persisted
    * as a first-class BINARY column next to the counts. The payoff is at
    * read time: "distinct users across ANY span of windows/types" is a
    * sketch merge over the (tiny) metric table —
    * [[graft.operators.MetricsStore.distinctUsersAcross]] — instead of a
    * second scan of raw events, which at 100 TB turns an interactive
    * rollup into a full-table pass. Uses the md5-replicable sketch mode
    * so stored sketches stay auditable by an external engine after the
    * raw events are gone. Custom TypedImperativeAggregates run fine
    * under streaming aggregation (their buffers serialize into the
    * state store, exactly like approx_percentile's). */
  def startSketchSink(events: DataFrame, path: String, checkpoint: String,
                      watermark: String = "10 seconds",
                      windowDur: String = "60 seconds"): StreamingQuery = {
    import graft.functions.HllFunctions._
    import graft.functions.CmsFunctions._
    import graft.functions.QSketchFunctions._
    import graft.functions.ThetaFunctions._
    // all four mergeable sketch families per (window, type) row: HLL
    // (distinct users), Count-Min (per-user event frequency), KMV
    // (value quantiles), theta (segment set algebra — the overlap
    // questions HLL cannot answer) — so distinct/frequency/percentile/
    // overlap questions across ANY window span are metric-table
    // merges, never raw rescans
    val agg = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(col("event_type")).as("event_count"),
        hll_sketch_r(col("user_id")).as("user_sketch"),
        cm_sketch(col("user_id")).as("user_cms"),
        q_sketch_r(col("value"), col("event_id")).as("value_sketch"),
        theta_sketch_r(col("user_id")).as("user_theta"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        unix_millis(col("window.end")).as("window_end_ms"),
        col("event_type"), col("event_count"), col("user_sketch"),
        col("user_cms"), col("value_sketch"), col("user_theta"))
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeStorageBatch(batch, batchId, path, Seq("window_start_ms", "event_type"))
      }
      .start()
  }

  /** Sentinel type for watermark-liveness heartbeats (W6). */
  val heartbeatType = "__heartbeat"

  /** Idle-source watermark liveness (W6): Flink has
    * `table.exec.source.idle-timeout` so an idle Kafka partition cannot
    * stall the watermark (job_coordinator.py:53-55); Spark has no such
    * knob — the query watermark is the min across sources and an idle
    * source freezes emission. Equivalent mechanism: union a heartbeat
    * stream (a rate source in production, its own topic, or any ticking
    * input) into the events BEFORE the watermark. Heartbeat rows carry
    * only a timestamp and the sentinel type.
    *
    * CRITICAL ordering constraint: heartbeats must NOT be filtered
    * before the watermark node — Catalyst pushes filters below
    * EventTimeWatermark, and a dropped row never advances the watermark.
    * So the windowed aggregate keys heartbeats like any other type and
    * the SINK drops the sentinel groups (a post-state filter in
    * foreachBatch or at read time, outside the optimized plan). */
  def withHeartbeats(events: DataFrame, heartbeats: DataFrame,
                     timeCol: String = "ts"): DataFrame = {
    val hb = heartbeats.select(
      lit(null).cast("long").as("event_id"),
      col(timeCol).as(timeCol),
      lit(null).cast("long").as("user_id"),
      lit(heartbeatType).as("event_type"),
      lit(null).cast("double").as("value"))
    events.select(col("event_id"), col(timeCol), col("user_id"),
      col("event_type"), col("value")).unionByName(hb)
  }

  /** Windowed metrics over a heartbeat-merged stream: NO pre-aggregation
    * type filter (see [[withHeartbeats]]), heartbeat groups flow into the
    * output and are dropped by the sink. */
  def idleSafeMetrics(merged: DataFrame,
                      watermark: String = "10 seconds",
                      windowDur: String = "60 seconds"): DataFrame =
    merged.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(col("event_type")).as("event_count"),
        approx_count_distinct(col("user_id")).as("user_count"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        unix_millis(col("window.end")).as("window_end_ms"),
        col("event_type"), col("event_count"), col("user_count"))

  /** Stream-stream interval join (purchase attribution): each purchase
    * matched to the same user's views in the preceding `windowSec`
    * seconds. Both sides carry watermarks and the join condition bounds
    * event-time distance, so Spark can evict view state once the
    * purchase-side watermark passes v_ts + windowSec — state is
    * O(windowSec × view rate), never unbounded. The two sides here are
    * filtered projections of ONE source (a supported stream self-join);
    * with separate Kafka topics the same code applies unchanged. */
  def purchaseAttribution(events: DataFrame,
                          watermark: String = "10 seconds",
                          windowSec: Int = 60): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("p_ts"), col("v_ts"), col("value"))
  }

  /** Stream-static enrichment: the event stream joined to a static
    * (batch) dimension table — the standard "decorate events with user
    * attributes" stage. Stream-static inner joins are stateless in
    * Spark: each micro-batch hash-joins against the static side, no
    * watermark or state store involved, and with a dim that fits the
    * broadcast threshold every batch plans a BroadcastHashJoin — the
    * stream side never shuffles. The static plan re-resolves per batch,
    * so a dim refreshed by an external writer is picked up without
    * restarting the query. */
  def enrichedEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim.select(col("c_custkey").as("user_id"),
        col("c_mktsegment"), col("c_nationkey"))),
      Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("c_mktsegment"), col("c_nationkey"))

  def startMemorySink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.outputMode("append").format("memory").queryName(name).start()

  /** Serving snapshot (S6, the continuously-maintained variant): each
    * micro-batch merges new windows into a compact newest-N parquet
    * snapshot — the relational stand-in for the cache's hash+zset with
    * retention trim (repository.py:54-115). The snapshot is tiny (N
    * windows × types), so read-merge-overwrite per batch is cheap at any
    * input scale; readers get a consistent newest-N table at all times
    * (written to a temp dir + atomic-ish swap via overwrite). */
  def startServingSnapshot(eventMetrics: DataFrame, path: String,
                           checkpoint: String, retain: Int = 120,
                           ttlMs: Long = 6L * 3600 * 1000,
                           now: () => Long = () => System.currentTimeMillis()): StreamingQuery =
    eventMetrics.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing =
          try spark.read.parquet(path)
          catch { case _: Exception => spark.emptyDataFrame }
        val merged =
          if (existing.columns.sameElements(batch.columns))
            existing.unionByName(batch) else batch
        // two eviction rules, matching the reference cache: newest-N
        // retention trim (repository.py:54-115) AND age-based TTL
        // (services/cache/src/core/config.py:24 — 6 h hash expiry);
        // a window older than the TTL leaves the snapshot even when
        // fewer than `retain` windows exist. `now` is injectable so
        // specs can move the clock instead of sleeping.
        val fresh = merged.filter(
          org.apache.spark.sql.functions.col("window_start_ms") >= now() - ttlMs)
        val keep = fresh
          .orderBy(org.apache.spark.sql.functions.col("window_start_ms").desc,
            org.apache.spark.sql.functions.col("event_type"))
          .limit(retain)
          .collect() // snapshot is bounded (≤ retain rows) — safe to hold
        spark.createDataFrame(
          spark.sparkContext.parallelize(keep.toSeq), merged.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
      .start()

  /** The full topology: three pipelines from one source, separate
    * checkpoints (W8/W9). Caller awaits termination. */
  def runAll(spark: SparkSession, srcDir: String, outDir: String,
             trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] = {
    val src = eventsFileStream(spark, srcDir)
    Seq(
      ("event_metrics", eventMetrics(src), Seq("window_start_ms", "event_type")),
      ("session_metrics", sessionMetrics(src), Seq("start_ms", "user_id")),
      ("performance_metrics", perfMetrics(src), Seq("window_start_ms", "category")),
    ).map { case (name, df, key) =>
      df.writeStream
        .queryName(name) // names flow into progress telemetry (Observability)
        .outputMode("append")
        .option("checkpointLocation", s"$outDir/_chk/$name")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          writeStorageBatch(batch, batchId, s"$outDir/$name", key)
        }
        .start()
    }
  }
}
