package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Pipelines

/** Stateful-streaming semantics: cross-batch state merge, late-data
  * drop (W4), session merge across batches, and SQL-registered custom
  * functions via SparkSessionExtensions. */
class StateAndLateDataSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Option[Double])

  private val base = 1714867200000L
  private def ev(id: Long, offsetMs: Long, user: Long, typ: String) =
    Ev(id, new Timestamp(base + offsetMs), user, typ, Some(1.0))

  test("exact distinct counts merge across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipelines.startMemorySink(
      Pipelines.eventMetrics(ms.toDF(), watermark = "1 seconds", windowMs = 5000L),
      "state_merge")
    try {
      // same window split across two batches; user 1 repeats
      ms.addData(Seq(ev(1, 0, 1, "view"), ev(2, 1000, 2, "view")))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, 2000, 1, "view"), ev(4, 3000, 3, "view")))
      q.processAllAvailable()
      ms.addData(ev(98, 3600000, 999, "view"))
      q.processAllAvailable()
      ms.addData(ev(99, 7200000, 999, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("state_merge")
      .filter($"window_start_ms" === base)
      .select("event_count", "user_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((4L, 3L))) // 4 events, users {1,2,3}
  }

  test("late events beyond the watermark are dropped (W4)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipelines.startMemorySink(
      Pipelines.eventMetrics(ms.toDF(), watermark = "1 seconds", windowMs = 5000L),
      "late_drop")
    try {
      ms.addData(Seq(ev(1, 0, 1, "view")))
      q.processAllAvailable()
      ms.addData(ev(98, 3600000, 999, "view")) // watermark → ~1h
      q.processAllAvailable()
      ms.addData(ev(2, 1000, 2, "view")) // late: window closed long ago
      q.processAllAvailable()
      ms.addData(ev(99, 7200000, 999, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("late_drop")
      .filter($"window_start_ms" === base)
      .select("event_count", "user_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L))) // the late view never counted
  }

  test("sessions merge events across batches within the gap") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipelines.startMemorySink(
      Pipelines.sessionMetrics(ms.toDF(), watermark = "1 seconds", gap = "5 seconds"),
      "session_merge")
    try {
      ms.addData(Seq(ev(1, 0, 7, "view")))
      q.processAllAvailable()
      ms.addData(Seq(ev(2, 3000, 7, "view"))) // 3s later: same session
      q.processAllAvailable()
      ms.addData(ev(98, 3600000, 999, "view"))
      q.processAllAvailable()
      ms.addData(ev(99, 7200000, 999, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("session_merge").filter($"user_id" === 7)
      .select("page_count", "duration_ms").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 8000L))) // 3s span + 5s gap extension
  }

  /** `runAll`'s `event_metrics` query (60 s windows, 10 s delay, stored
    * through `writeStorageBatch` under `runAll`'s layout) fed three
    * batches on a session with `allowMultiple` as given: batch 0 closes
    * nothing, batch 1 moves the watermark to W(2) = 120 s, batch 2
    * carries a row at 115 s, inside [W(1), W(2)). No-data batches are
    * off so each batch is the next data batch, as on a 10 s trigger with
    * a steady feed. Returns the store, batch 1's progress and the
    * late-row drops batch 2 counted. */
  private def closingFeed(allowMultiple: Boolean) = {
    val s = spark.newSession()
    s.conf.set(Engine.MultipleStatefulOperators, allowMultiple.toString)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    implicit val ctx = s.sqlContext
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_closing").toString
    val ms = MemoryStream[Ev]
    val q = Pipelines.eventMetrics(ms.toDF()).writeStream
      .outputMode("append")
      .option("checkpointLocation", Pipelines.checkpointDir(out, "event_metrics"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipelines.writeStorageBatch(b, id, s"$out/event_metrics", "window_start_ms")
      }.start()
    try {
      Seq(Seq(ev(1, 10000, 1, "view"), ev(2, 20000, 2, "view"), ev(3, 70000, 3, "view")),
        Seq(ev(4, 130000, 4, "click")),
        Seq(ev(5, 115000, 5, "view"), ev(6, 190000, 6, "click"))).foreach { rows =>
        ms.addData(rows)
        q.processAllAvailable()
      }
      val p = q.recentProgress
      assert(p.map(_.batchId).toSeq == Seq(0L, 1L, 2L))
      (new graft.operators.MetricsStore(s, out), p(1), p(2).stateOperators.head.numRowsDroppedByWatermark)
    } finally q.stop()
  }

  test("one watermark per batch: a row late for the watermark batch N closed is dropped, " +
    "and the state row read after N equals the row N+1 appends") {
    import graft.serving.MetricsHttpServer.{closingWatermarkMs, eventTime}
    val (store, p1, dropped) = closingFeed(allowMultiple = false)
    // Engine builds every session with it, so the suite session runs so too
    assert(spark.conf.get(Engine.MultipleStatefulOperators) == "false")
    assert(dropped == 1L)
    val (wm, maxEv) = eventTime(p1).get
    assert(wm == base + 60000L && maxEv == base + 130000L)
    val closedBy = closingWatermarkMs(wm, maxEv)
    assert(closedBy == base + 120000L)
    val early = store.closedEventWindows(1L, closedBy).get
    val stored = store.batchRows("event_metrics", 2L).get
    assert(early.schema == stored.schema)
    val json = (df: org.apache.spark.sql.DataFrame) => df.toJSON.collect().sorted.toSeq
    assert(json(early) == json(stored))
    assert(early.select("window_start_ms", "event_type", "event_count", "user_count")
      .as[(Long, String, Long, Long)].collect().toSeq == Seq((base + 60000L, "view", 1L, 1L)))
  }

  test("under Spark's default of several stateful operators per batch the same row " +
    "is kept, so no window is final before it is stored") {
    val (store, _, dropped) = closingFeed(allowMultiple = true)
    assert(dropped == 0L)
    assert(store.closedEventWindows(1L, base + 120000L).isEmpty)
    assert(store.batchRows("event_metrics", 2L).get
      .select("window_start_ms", "event_count", "user_count").as[(Long, Long, Long)]
      .collect().toSeq == Seq((base + 60000L, 2L, 2L)))
  }

  test("dot_product_f is SQL-callable after registration") {
    // getOrCreate() reuses the suite session, so builder-time extensions
    // don't apply here; use the late-registration path instead
    graft.functions.GraftExtensions.registerAll(spark)
    val got = spark.sql(
      "SELECT dot_product_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }
}
