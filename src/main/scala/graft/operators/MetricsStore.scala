package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Read API over the stored metric tables that [[graft.streaming.Pipelines.runAll]]
  * writes — the relational replacement for the reference's cache-service
  * endpoints (services/cache/src/api/endpoints/metrics.py:13-31,
  * repository.py:80-139):
  *
  *  - `windows(limit)`  → newest-N windows, pivoted wide rows
  *  - `latest`          → the single most recent window
  *  - `overview`        → latest event + performance windows merged
  *
  * Reads hit the date-partitioned parquet tables; the `p_date` predicate
  * derived from the window filter prunes partitions, so a "latest 20
  * windows" read touches the newest date partitions only — the same
  * access pattern the reference gets from its Redis zset index, without
  * a second store to keep consistent.
  */
class MetricsStore(spark: SparkSession, path: String) {

  /** Tables read dedup-free: [[graft.streaming.Pipelines.writeStorageBatch]]'s
    * batch-id overwrite makes them exactly-once already. A store landed
    * by a plain-append at-least-once writer is read through
    * [[graft.streaming.Idempotence.dedupOnRead]] instead. */
  private def table(name: String): DataFrame = spark.read.parquet(s"$path/$name")

  def eventMetrics: DataFrame = table("event_metrics")
  def sessionMetrics: DataFrame = table("session_metrics")
  def performanceMetrics: DataFrame = table("performance_metrics")

  /** The rows micro-batch `batchId` stored in `table`: its
    * `batch_id=<id>` partition under every `p_date`, as
    * [[graft.streaming.Pipelines.writeStorageBatch]] lands them, read with
    * `schema` when given (no inference) and without the partition
    * columns. None when the batch stored no rows: an empty batch writes
    * no partition. */
  def batchRows(table: String, batchId: Long,
                schema: Option[StructType] = None): Option[DataFrame] = {
    val glob = new org.apache.hadoop.fs.Path(s"$path/$table/p_date=*/batch_id=$batchId")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = Option(fs.globStatus(glob)).toSeq.flatten.map(_.getPath.toString)
    if (dirs.isEmpty) None
    else Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(dirs: _*))
  }

  /** The `event_metrics` windows that batch `batchId` made final, read
    * from the query's own state after that batch rather than from the
    * store the next batch writes: every (window, type) key still in
    * state whose window ends at or before `closedByMs`, the watermark the
    * next batch evicts and drops late rows with. With one watermark per
    * batch ([[graft.Engine.MultipleStatefulOperators]] off) no row can
    * reach such a key again, so each row equals the one the next batch
    * appends; with several (Spark's default) nothing is final before it
    * is stored, and this is None. Same columns as the stored table:
    * `event_count` is the count buffer and `user_count` the size of the
    * `collect_set` buffer, which state keeps serialized as an UnsafeRow
    * holding one array. */
  def closedEventWindows(batchId: Long, closedByMs: Long): Option[DataFrame] =
    if (spark.conf.get(graft.Engine.MultipleStatefulOperators, "true") != "false") None
    else Some(spark.read.format("statestore").option("batchId", batchId)
      .load(graft.streaming.Pipelines.checkpointDir(path, "event_metrics"))
      .filter(col("key.window.end") <= timestamp_millis(lit(closedByMs)))
      .select(unix_millis(col("key.window.start")).as("window_start_ms"),
        unix_millis(col("key.window.end")).as("window_end_ms"),
        col("key.event_type").as("event_type"),
        col("value.count").as("event_count"),
        MetricsStore.setSize(col("value.buf")).as("user_count")))

  /** Newest-N event windows as pivoted wide rows (the reference's
    * GET /metrics/event/windows?limit=N). */
  def windows(limit: Int = 20): DataFrame = {
    val newest = eventMetrics
      .select(col("window_start_ms")).distinct()
      .orderBy(col("window_start_ms").desc).limit(limit)
    Serving.pivotEventCounts(
      eventMetrics.join(broadcast(newest), Seq("window_start_ms")))
      .orderBy(col("window_start_ms").desc)
  }

  /** The most recent event window's pivoted row (GET /metrics/latest). */
  def latest: DataFrame = windows(1)

  /** Latest event + performance windows merged (GET /metrics/overview). */
  def overview: DataFrame =
    Serving.overview(eventMetrics, performanceMetrics)

  /** Window-over-window event-mix drift over the stored windows —
    * drift-on-read: recomputed from the O(#windows·#types) metric
    * table, no extra streaming state (see
    * [[Drift.mixDriftOfCounts]]). */
  def mixDrift: DataFrame =
    Drift.mixDriftOfCounts(eventMetrics.select(
      col("window_start_ms"), col("event_type"),
      col("event_count").as("cnt")))

  /** Alert rows over the stored windows' mix drift — the threshold
    * gate of the operational loop ([[Drift.mixDriftAlerts]]); served
    * live at GET /metrics/alerts. */
  def driftAlerts(thresholdPpm: Long = 200000L): DataFrame =
    Drift.mixDriftAlerts(mixDrift, thresholdPpm)

  /** Sketch rows for a (time range × type set) read — the shared scan
    * every cross-window sketch query starts from (partition-pruned by
    * the window filter). */
  private def sketchRows(sketchPath: String, fromMs: Long, toMs: Long,
                         types: Seq[String]): DataFrame = {
    val base = spark.read.parquet(sketchPath)
      .filter(col("window_start_ms") >= fromMs && col("window_start_ms") < toMs)
    if (types.isEmpty) base else base.filter(col("event_type").isin(types: _*))
  }

  /** Merge `sketchCol` over a (time range × type set) and read one value
    * off the merged sketch with `estimate`; `none` when nothing merged —
    * the one body of every single-sketch `*Across` read. */
  private def estimateAcross[T](sketchPath: String, fromMs: Long, toMs: Long,
                                types: Seq[String], sketchCol: String,
                                merge: Column => Column,
                                estimate: Column => Column, none: T): T = {
    val out = sketchRows(sketchPath, fromMs, toMs, types)
      .agg(merge(col(sketchCol)).as("msk"))
      .select(estimate(col("msk")).as("est"))
      .collect()
    if (out.isEmpty || out.head.isNullAt(0)) none else out.head.getAs[T](0)
  }

  /** Cross-window distinct users from the sketch table written by
    * [[graft.streaming.Pipelines.startSketchSink]]: merge the stored HLL
    * sketches over any (time range × type set) and estimate — a
    * metadata-table read, never a rescan of raw events. Window bounds in
    * epoch millis; `types` empty = all types. */
  def distinctUsersAcross(sketchPath: String, fromMs: Long, toMs: Long,
                          types: Seq[String] = Nil): Long = {
    import graft.functions.HllFunctions._
    estimateAcross(sketchPath, fromMs, toMs, types, "user_sketch",
      hll_merge, hll_estimate, 0L)
  }

  /** Sketch-store compaction: merge the per-window sketch rows that
    * [[graft.streaming.Pipelines.startSketchSink]] accumulates into one
    * daily supersketch per (day, type). HLL merge is associative and
    * lossless over merges, so any estimate whose range aligns to day
    * boundaries is IDENTICAL pre/post compaction — but
    * [[distinctUsersAcross]] now reads O(days) rows instead of
    * O(windows) (1440× fewer at 60 s windows), which is the difference
    * between a metadata read and a scan once the store holds months.
    * Output keeps the sink's column names/semantics (window = the day),
    * so every sketch read runs unchanged against either table.
    *
    * Scale shape: one shuffle keyed (day, type) with map-side partial
    * merge of kB-sized sketch buffers; output partitioned by p_date for
    * range pruning. */
  def compactSketchesDaily(sketchPath: String, outPath: String): Unit = {
    import graft.functions.HllFunctions._
    import graft.functions.CmsFunctions._
    import graft.functions.QSketchFunctions._
    import graft.functions.ThetaFunctions._
    val dayMs = lit(86400000L)
    // back-compat: sketch stores written before the theta column landed
    // carry no user_theta. mergeSchema makes a MIXED store (files from
    // both eras — the realistic mid-migration state) expose the column
    // with nulls for the old files' rows; the per-row coalesce then
    // backfills the empty sketch (theta merge's identity) wherever the
    // value is missing. An all-old store never surfaces the column at
    // all, so the column-level backfill still applies. Either way no
    // real sketch is ever overwritten and merges see no nulls.
    val empty = lit(graft.functions.Theta.serialize(graft.functions.Theta.empty()))
    val raw0 = spark.read.option("mergeSchema", "true").parquet(sketchPath)
    val raw = if (raw0.columns.contains("user_theta"))
      raw0.withColumn("user_theta", coalesce(col("user_theta"), empty))
    else raw0.withColumn("user_theta", empty)
    raw
      .groupBy(
        (col("window_start_ms") - pmod(col("window_start_ms"), dayMs))
          .as("window_start_ms"),
        col("event_type"))
      .agg(sum(col("event_count")).as("event_count"),
        hll_merge(col("user_sketch")).as("user_sketch"),
        cm_merge(col("user_cms")).as("user_cms"),
        q_sketch_merge(col("value_sketch")).as("value_sketch"),
        theta_merge(col("user_theta")).as("user_theta"))
      .select(col("window_start_ms"),
        (col("window_start_ms") + dayMs).as("window_end_ms"),
        col("event_type"), col("event_count"), col("user_sketch"),
        col("user_cms"), col("value_sketch"), col("user_theta"),
        to_date(timestamp_millis(col("window_start_ms"))).as("p_date"))
      .repartition(col("p_date"))
      .write.mode("overwrite").partitionBy("p_date").parquet(outPath)
  }

  /** The per-trigger progress table written by
    * [[graft.streaming.MetricsListener]] — one row per (query, trigger)
    * with rates, durations, watermark and state-store size. Reads with
    * `mergeSchema`: tables landed before the per-phase columns existed
    * read with those columns null. */
  def streamingProgress(metricsPath: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(metricsPath)

  /** Watermark lag per query, newest trigger first: how far each
    * query's event-time watermark trails the trigger wall-clock — THE
    * streaming health number (a growing lag means the pipeline is
    * falling behind its input or an idle source is holding the
    * watermark). Derived, not stored, so it's always consistent with
    * the progress rows it came from. */
  def watermarkLag(metricsPath: String): DataFrame =
    streamingProgress(metricsPath)
      .filter(col("watermark_ms").isNotNull && col("watermark_ms") > 0L)
      .select(col("query_name"), col("batch_id"), col("ts_ms"),
        col("watermark_ms"),
        (col("ts_ms") - col("watermark_ms")).as("lag_ms"))
      .orderBy(col("query_name"), col("batch_id").desc)

  /** Cross-segment overlap from the stored theta sketches: (union,
    * intersection, A-not-B) distinct-user estimates for two event
    * types over any window range, from metric-table state alone — the
    * question the HLL column cannot answer (its registers merge under
    * union only). The per-type merge is distributed; only the two
    * final ~2 kB sketches reach the driver (the serving-read
    * exception, same as every `*Across` estimate here). */
  def segmentOverlapAcross(sketchPath: String, fromMs: Long, toMs: Long,
                           typeA: String, typeB: String): (Long, Long, Long) = {
    import graft.functions.ThetaFunctions._
    import graft.functions.Theta
    val merged = sketchRows(sketchPath, fromMs, toMs, Seq(typeA, typeB))
      .groupBy(col("event_type"))
      .agg(theta_merge(col("user_theta")).as("sk"))
      .collect()
      .map(r => r.getString(0) -> Theta.deserialize(r.getAs[Array[Byte]](1)))
      .toMap
    val a = merged.getOrElse(typeA, Theta.empty())
    val b = merged.getOrElse(typeB, Theta.empty())
    (Theta.unionEstimate(a, b),
      Theta.intersectEstimate(a, b),
      Theta.aNotBEstimate(a, b))
  }

  /** Cross-window per-user event frequency from the stored Count-Min
    * sketches: how many events did `userId` generate over any
    * (time range × type set) — upper-bound estimate (CMS never
    * undercounts), from the metric table alone. */
  def userEventsAcross(sketchPath: String, fromMs: Long, toMs: Long,
                       userId: Long, types: Seq[String] = Nil): Long = {
    import graft.functions.CmsFunctions._
    estimateAcross(sketchPath, fromMs, toMs, types, "user_cms",
      cm_merge, cm_estimate(_, lit(userId)), 0L)
  }

  /** Cross-window value quantile from the stored KMV sketches: the
    * p-quantile of the metric value over any (time range × type set) —
    * the "p95 load time last week" question answered from kB of
    * sketch state instead of a raw-event rescan. */
  def valueQuantileAcross(sketchPath: String, fromMs: Long, toMs: Long,
                          p: Double, types: Seq[String] = Nil): Double = {
    import graft.functions.QSketchFunctions._
    estimateAcross(sketchPath, fromMs, toMs, types, "value_sketch",
      q_sketch_merge, q_sketch_quantile(_, lit(p)), Double.NaN)
  }

  /** Retention trim (repository.py:111-115, newest 120 windows): rewrite
    * the table keeping only windows above the cutoff. Expressed as a
    * filter so at scale it becomes partition drops + one rewrite of the
    * boundary date. */
  def retained(retentionWindows: Int = 120): DataFrame = {
    val cutoff = eventMetrics
      .select(col("window_start_ms")).distinct()
      .orderBy(col("window_start_ms").desc).limit(retentionWindows)
      .agg(min(col("window_start_ms")).as("cutoff"))
    eventMetrics.join(broadcast(cutoff),
      col("window_start_ms") >= col("cutoff")).drop("cutoff")
  }
}

object MetricsStore {
  /** Element count of a serialized `collect_set` buffer; nullable, like
    * every column read back from the store. */
  private val setSize = udf { (buf: Array[Byte]) =>
    Option(buf).map { b =>
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(1)
      row.pointTo(b, b.length)
      Long.box(row.getArray(0).numElements().toLong)
    }.orNull
  }
}
