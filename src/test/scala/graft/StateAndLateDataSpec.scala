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
