package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventWire, Pipelines}

/** Streaming golden scenarios ported from the reference's e2e suite
  * (tests/e2e/test_full_pipeline.py, FIXTURES.md §3), run with
  * test-scaled windows (5 s tumble / 5 s gap / 1 s watermark) like the
  * reference's .env.test. A filtered-out "flush" event far in the future
  * advances the watermark so append mode emits closed windows. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Option[Double])

  private val base = 1714867200000L // 2024-05-05 00:00:00 UTC, 5s-aligned
  private def ev(id: Long, offsetMs: Long, user: Long, typ: String,
                 value: Option[Double] = Some(1.0)) =
    Ev(id, new Timestamp(base + offsetMs), user, typ, value)
  // Flush events advance the watermark. They must SURVIVE the pipeline's
  // filters: Catalyst pushes deterministic filters below the
  // EventTimeWatermark node, so a filtered-out event never reaches the
  // watermark tracker. Hence: type "view" + non-null value, far-future
  // user 999; asserts exclude its windows (they stay unemitted in state).
  private val flush1 = Ev(9999L, new Timestamp(base + 3600000L), 999L, "view", Some(1.0))
  private val flush2 = Ev(10000L, new Timestamp(base + 7200000L), 999L, "view", Some(1.0))

  private var n = 0
  private def run(events: Seq[Ev], build: DataFrame => DataFrame): DataFrame = {
    n += 1; val name = s"stream_out_$n"
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipelines.startMemorySink(build(ms.toDF()), name)
    try {
      ms.addData(events)
      q.processAllAvailable()
      // watermark advances at end-of-batch; emission happens in the NEXT
      // batch — so flush twice
      ms.addData(flush1)
      q.processAllAvailable()
      ms.addData(flush2)
      q.processAllAvailable()
    } finally q.stop()
    val t = spark.table(name)
    if (t.columns.contains("user_id")) t.filter($"user_id" =!= 999L)
    else t.filter($"window_start_ms" < base + 1800000L)
  }

  test("e2e-1: single page view yields one session with page_count=1") {
    val got = run(Seq(ev(1, 0, 42, "view")),
      df => Pipelines.sessionMetrics(df, watermark = "1 seconds", gap = "5 seconds"))
      .select("user_id", "duration_ms", "page_count", "category")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((42L, 5000L, 1L, "Browse")))
  }

  test("e2e-2: exact event and distinct-user counts per window") {
    val got = run(Seq(
      ev(1, 0, 1, "view"), ev(2, 1000, 2, "view"),
      ev(3, 2000, 1, "click"), ev(4, 3000, 3, "purchase")),
      df => Pipelines.eventMetrics(df, watermark = "1 seconds", windowMs = 5000L))
      .select("event_type", "event_count", "user_count")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("view", 2L, 2L), ("click", 1L, 1L), ("purchase", 1L, 1L)))
  }

  test("e2e-3: avg and p95 load metrics") {
    val got = run(
      Seq(100, 200, 300, 400, 500).zipWithIndex.map { case (v, i) =>
        ev(i, i * 800L, 1, "view", Some(v.toDouble))
      },
      df => Pipelines.perfMetrics(df, watermark = "1 seconds", window = "5 seconds"))
      .select("category", "avg_value", "p95_value")
      .as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("Browse", 300.0, 480.0)))
  }

  test("e2e-4: every allowed event type processed; others dropped") {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val got = run(
      types.zipWithIndex.map { case (t, i) => ev(i, i * 100L, i, t) },
      df => Pipelines.eventMetrics(df, watermark = "1 seconds", windowMs = 5000L))
      .select("event_type", "event_count", "user_count")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("view", 1L, 1L), ("click", 1L, 1L),
      ("purchase", 1L, 1L), ("signup", 1L, 1L)))
  }

  test("wire decode: lenient JSON drops malformed, projects nested fields") {
    val good = """{"event":{"id":"e1","type":"page_view"},"user":{"id":"u1"},
      |"context":{"session_id":"s1"},"metrics":{"load_time":250},
      |"timestamp":1714867200000}""".stripMargin.replace("\n", "")
    val missingType = """{"event":{"id":"e2"},"timestamp":1714867200000}"""
    val garbage = "not json at all"
    val got = EventWire.decode(
      Seq(good, missingType, garbage).toDF("value"))
    val rows = got.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("event_type") == "page_view")
    assert(r.getAs[String]("user_id") == "u1")
    assert(r.getAs[Long]("load_time") == 250L)
    // round-trip encode yields a parseable single value column
    val rt = EventWire.decode(EventWire.encode(
      Seq(good).toDF("value").select(
        org.apache.spark.sql.functions.from_json(
          $"value", EventWire.nestedSchema).as("e")).select("e.*")))
    assert(rt.count() == 1)
  }

  test("full topology writes three partitioned metric tables") {
    val out = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val qs = Pipelines.runAll(spark, "/root/testdata/sf0.001", out)
    qs.foreach(_.awaitTermination(120000))
    val em = spark.read.parquet(s"$out/event_metrics")
    val sm = spark.read.parquet(s"$out/session_metrics")
    val pm = spark.read.parquet(s"$out/performance_metrics")
    assert(em.count() > 0 && sm.count() > 0 && pm.count() > 0)
    // partition column exists and prunes
    assert(em.where($"p_date" === "2024-01-15").count() > 0)
  }

  test("stream-static enrichment join is stateless and broadcasts the dim") {
    implicit val ctx = spark.sqlContext
    val dim = Seq((7L, "AUTOMOBILE", 3L), (8L, "BUILDING", 1L))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey")
    val ms = MemoryStream[Ev]
    val name = "stream_enriched"
    val q = Pipelines.startMemorySink(
      Pipelines.enrichedEvents(ms.toDF(), dim), name)
    try {
      ms.addData(Seq(ev(1, 0, 7, "view"), ev(2, 100, 42, "purchase")))
      q.processAllAvailable()
      // no watermark/flush needed: stream-static joins keep no state
      val rows = spark.table(name).collect()
      assert(rows.length == 2)
      val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
      assert(byId(1L).getAs[String]("c_mktsegment") == "AUTOMOBILE")
      assert(byId(2L).isNullAt(byId(2L).fieldIndex("c_mktsegment")),
        "unmatched user must survive the left join with nulls")
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static join must not create a state store")
    } finally q.stop()
  }

  /** One events file at `path`: the file source globs on the file name,
    * so the single part file is moved into place. */
  private def writeEvents(path: java.nio.file.Path, ids: Range): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("evpart").resolve("out")
    ids.map(i => (i.toLong, new Timestamp(base + i * 10L), i % 7L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.move(part, path)
  }

  /** Rows the events file stream over `dir` delivers: everything there
    * at start, then whatever `landLater` adds. */
  private def fileStreamRows(dir: java.nio.file.Path)(landLater: => Unit): Long = {
    n += 1; val name = s"events_file_$n"
    val q = Pipelines.eventsFileStream(spark, dir.toString)
      .writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      landLater
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).count()
  }

  test("eventsFileStream reads events files in plain subdirectories") {
    val dir = java.nio.file.Files.createTempDirectory("evsub")
    writeEvents(dir.resolve("events.parquet"), 0 until 10)
    writeEvents(dir.resolve("sub/events.parquet"), 10 until 1010)
    assert(fileStreamRows(dir)(()) == 1010L)
  }

  test("eventsFileStream: a k=<n> directory landing after start is read, not fatal") {
    val dir = java.nio.file.Files.createTempDirectory("evlate")
    writeEvents(dir.resolve("events.parquet"), 0 until 10)
    assert(fileStreamRows(dir)(
      writeEvents(dir.resolve("k=1/events.parquet"), 10 until 1010)) == 1010L)
  }
}
