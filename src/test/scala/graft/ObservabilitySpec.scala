package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MetricsStore
import graft.streaming.{Observability, Pipelines}

/** Streaming observability (VERDICT r3 "what's missing" #3): the
  * reference exports Prometheus ingest counters and latency summaries
  * (track.py:21-23, metrics.py:21-59); the engine's analog is a
  * StreamingQueryListener landing per-trigger progress in a parquet
  * metrics table plus a derived watermark-lag read. */
class ObservabilitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("runAll topology lands progress rows; watermark lag is readable") {
    val out = java.nio.file.Files.createTempDirectory("graft_obs").toString
    val metricsPath = s"$out/_metrics"
    val listener = Observability.attach(spark, metricsPath, flushEvery = 4)
    try {
      val qs = Pipelines.runAll(spark, "/root/testdata/sf0.001", out)
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
      // listener-bus delivery is async: poll until all three queries'
      // progress events arrived (AvailableNow → ≥1 trigger per query)
      var waited = 0
      while (listener.eventsSeen < 3 && waited < 300) {
        Thread.sleep(100); waited += 1
      }
    } finally Observability.detach(spark, listener)

    val store = new MetricsStore(spark, out)
    val progress = store.streamingProgress(metricsPath)
    val byQuery = progress.groupBy(col("query_name"))
      .agg(sum(col("num_input_rows")).as("rows"),
        max(col("trigger_ms")).as("trig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byQuery.keySet ==
      Set("event_metrics", "session_metrics", "performance_metrics"),
      s"expected one progress series per topology query, got ${byQuery.keySet}")
    assert(byQuery.values.forall(_ > 0L),
      s"every query must report input rows: $byQuery")

    // the operational read: per-query watermark lag, newest first.
    // AvailableNow over a static file means the watermark lands behind
    // wall-clock by (now - max event time) — huge but NON-NEGATIVE and
    // present for every windowed query that saw data.
    val lag = store.watermarkLag(metricsPath)
    val lagRows = lag.collect()
    assert(lagRows.nonEmpty, "no watermark progress recorded")
    assert(lagRows.forall(_.getAs[Long]("lag_ms") >= 0L),
      "watermark may trail but never lead the trigger clock")
    val lagQueries = lagRows.map(_.getAs[String]("query_name")).toSet
    assert(lagQueries.contains("event_metrics"), s"got $lagQueries")

    // state-store telemetry exists (windowed aggs hold state)
    assert(progress.filter(col("state_rows") > 0L).count() > 0L,
      "windowed aggregations must report state rows")

    // every trigger phase is kept: a data batch ran each one
    val dataBatches = progress.filter(col("num_input_rows") > 0L).collect()
    assert(dataBatches.nonEmpty)
    for (r <- dataBatches; (_, c) <- Observability.phases)
      assert(!r.isNullAt(r.fieldIndex(c)),
        s"$c is null for ${r.getAs[String]("query_name")} batch ${r.getAs[Long]("batch_id")}")
  }

  test("a progress table landed before the phase columns still reads") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_obs_old").toString + "/_progress"
    // the eleven columns of the earlier schema, then a row of the current one
    Seq(("event_metrics", "r0", 0L, 1000L, 5L, 1.0, 2.0, 30L, 0L, 4L, 64L))
      .toDF("query_name", "run_id", "batch_id", "ts_ms", "num_input_rows", "input_rps",
        "processed_rps", "trigger_ms", "watermark_ms", "state_rows", "state_bytes")
      .write.parquet(path)
    val row = org.apache.spark.sql.Row.fromSeq(
      Seq("event_metrics", "r0", 1L, 2000L, 5L, 1.0, 2.0, 30L, 500L, 4L, 64L) ++
        Observability.phases.map(_ => 3L))
    spark.createDataFrame(java.util.List.of(row), Observability.progressSchema)
      .write.mode("append").parquet(path)
    val progress = new MetricsStore(spark, path).streamingProgress(path)
      .orderBy("batch_id").collect()
    assert(progress.length == 2)
    for ((_, c) <- Observability.phases) {
      assert(progress(0).isNullAt(progress(0).fieldIndex(c)))
      assert(progress(1).getAs[Long](c) == 3L)
    }
  }

  test("injected mix shift raises exactly the expected alert rows") {
    import spark.implicits._
    // stored windows with a controlled shift: w0 has A 90% / B 10%,
    // w1 has A 50% / B 50% — both types move 400000 ppm
    val dir = java.nio.file.Files.createTempDirectory("graft_alert").toString
    Seq(
      (0L, "A", 900L, 1L), (0L, "B", 100L, 1L),
      (60000L, "A", 500L, 1L), (60000L, "B", 500L, 1L))
      .toDF("window_start_ms", "event_type", "event_count", "user_count")
      .write.parquet(s"$dir/event_metrics")
    val store = new MetricsStore(spark, dir)
    val alerts = store.driftAlerts(thresholdPpm = 200000L)
      .orderBy("event_type")
      .as[(String, Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(alerts == Seq(
      ("mix_drift", 60000L, "A", 500000L, 900000L, 400000L, 200000L),
      ("mix_drift", 60000L, "B", 500000L, 100000L, 400000L, 200000L)))
    // above the shift's magnitude the gate stays silent
    assert(store.driftAlerts(thresholdPpm = 450000L).count() == 0L)
  }
}
