package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MetricsStore

/** Serving read API over the stored metric tables: write once via the
  * streaming topology, then exercise the cache-service read shapes. */
class MetricsStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val storePath: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_store").toString
    val qs = graft.streaming.Pipelines.runAll(spark, "/root/testdata/sf0.001", out)
    qs.foreach(_.awaitTermination(120000))
    out
  }
  lazy val store = new MetricsStore(spark, storePath)

  test("windows(limit) returns newest-N pivoted rows, descending") {
    val rows = store.windows(5)
      .select("window_start_ms").as[Long].collect().toSeq
    assert(rows.size == 5)
    assert(rows == rows.sorted.reverse, "not newest-first")
    val allMax = store.eventMetrics
      .agg(org.apache.spark.sql.functions.max($"window_start_ms")).as[Long].head()
    assert(rows.head == allMax)
  }

  test("atLeastOnceReads absorbs duplicate landings; default read shows them") {
    // a plain-append at-least-once writer lands batch 7's rows twice,
    // then batch 8 re-emits one window updated
    val dir = java.nio.file.Files.createTempDirectory("graft_alo").toString
    Seq(
      (1000L, "view", 3L, 2L, 7L),
      (1000L, "view", 3L, 2L, 7L),
      (1000L, "view", 4L, 3L, 8L),
      (61000L, "purchase", 1L, 1L, 7L))
      .toDF("window_start_ms", "event_type", "event_count", "user_count", "batch_id")
      .write.parquet(s"$dir/event_metrics")
    val deduped = graft.streaming.Idempotence.dedupOnRead(
        new MetricsStore(spark, dir).eventMetrics, Seq("window_start_ms", "event_type"))
      .orderBy("window_start_ms", "event_type")
      .select("window_start_ms", "event_type", "event_count", "batch_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(deduped == Seq((1000L, "view", 4L, 8L), (61000L, "purchase", 1L, 7L)))
    // the exactly-once store path must NOT pay the dedup window
    assert(new MetricsStore(spark, dir).eventMetrics.count() == 4)
  }

  test("latest returns exactly the most recent window") {
    val l = store.latest.select("window_start_ms").as[Long].collect().toSeq
    assert(l.size == 1)
  }

  test("overview merges latest event and performance windows into one row") {
    val o = store.overview
    assert(o.count() == 1)
    val cols = o.columns.toSet
    assert(cols.contains("event_window_ms") && cols.contains("perf_window_ms"))
    assert(cols.contains("view_count") && cols.contains("Browse_avg"))
  }

  test("retention keeps exactly the newest N windows") {
    val kept = store.retained(10)
      .select("window_start_ms").distinct().as[Long].collect().toSeq
    assert(kept.size == 10)
    val newest = store.eventMetrics.select("window_start_ms").distinct()
      .orderBy($"window_start_ms".desc).limit(10).as[Long].collect().toSeq
    assert(kept.sorted == newest.sorted)
  }

  test("mixDrift serves window-over-window ppm drift from the stored table") {
    val d = store.mixDrift
    val rows = d.count()
    assert(rows > 0, "no drift rows from stored windows")
    val nWindows = store.eventMetrics
      .select("window_start_ms").distinct().count()
    val nTypes = store.eventMetrics.select("event_type").distinct().count()
    // dense grid minus the first (lag-less) window
    assert(rows == (nWindows - 1) * nTypes)
    val cols = d.columns.toSet
    assert(cols == Set("window_start_ms", "event_type", "cnt",
      "ppm", "prev_ppm", "drift_ppm"))
  }
}
