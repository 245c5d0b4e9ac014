package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

object SparkTestSession {
  // the tuned library session shape (Engine, whose spark.sql.extensions
  // injects GraftExtensions once) so specs plan exactly like the mains
  lazy val spark: SparkSession = Engine.sessionBuilder(cores = 4).getOrCreate()
}

class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("categorizer priority order: first matching rule wins") {
    val df = Seq("preview_click", "click", "purchase", "weird").toDF("s")
    val got = df.select(Categorizer.categorize($"s").as("c")).as[String].collect().toSeq
    // "preview_click" matches both %view% and %click% — %view% is first.
    assert(got == Seq("Browse", "Interact", "Convert", "Other"))
  }

  test("event aggregation: exact counts per window and type") {
    // 4 events in one 60s window: 2 views by distinct users, 1 click, 1 error (filtered)
    val base = 1700000000000L
    val df = Seq(
      (1L, base + 1000, 1L, "view", 1.0),
      (2L, base + 2000, 2L, "view", 1.0),
      (3L, base + 3000, 1L, "click", 1.0),
      (4L, base + 4000, 3L, "error", 1.0),
    ).toDF("event_id", "tms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis($"tms"))
    val got = EventAggregator.aggregate(df)
      .select("event_type", "event_count", "user_count")
      .as[(String, Long, Long)].collect().map { case (k, a, b) => k -> (a, b) }.toMap
    assert(got == Map("view" -> (2L, 2L), "click" -> (1L, 1L)))
  }

  test("session window: event exactly gap later starts a new session") {
    val base = 1700000000000L
    val gapMs = 1800 * 1000L
    val df = Seq(
      (1L, base, 1L, "view"),            // session 1
      (2L, base + gapMs - 1, 1L, "view"), // still session 1 (strictly inside gap)
      (3L, base + 2 * gapMs - 1 + gapMs, 1L, "view"), // exactly gap after prev end-event → new session
    ).toDF("event_id", "tms", "user_id", "event_type")
      .withColumn("ts", timestamp_millis($"tms"))
    val got = SessionTracker.sessions(df)
      .select("start_ms", "end_ms", "page_count").orderBy("start_ms")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 2)
    assert(got(0) == ((base, base + gapMs - 1 + gapMs, 2L)))
    assert(got(1)._3 == 1L)
    // single-event session duration == gap
    assert(got(1)._2 - got(1)._1 == gapMs)
  }

  test("performance metrics: avg and p95 over known values") {
    val base = 1700000000000L
    val df = Seq(100, 200, 300, 400, 500).zipWithIndex.map { case (v, i) =>
      (i.toLong, base + i * 1000L, 1L, "view", v.toDouble)
    }.toDF("event_id", "tms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis($"tms"))
    val got = PerformanceTracker.metrics(df)
      .select("category", "avg_value", "p95_value")
      .as[(String, Double, Double)].collect().toSeq
    assert(got.size == 1)
    assert(got.head._1 == "Browse")
    assert(got.head._2 == 300.0)
    assert(got.head._3 == 480.0) // exact interpolating percentile, rounded 4dp
  }

  test("exact average rounds a 4 dp half away from zero, exactly") {
    val base = 1700000000000L
    def avg(vs: Double*): Double =
      vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, base + i * 1000L, 1L, "view", v)
      }.toDF("event_id", "tms", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_millis($"tms"))
        .transform(PerformanceTracker.metrics(_))
        .select("avg_value").as[Double].head()
    // the oracle twin is the same integer expression (DuckDB `//` is
    // Spark `div`: both truncate)
    def avgSql(vs: Double*): Double =
      spark.sql(s"SELECT ${PerformanceTracker.exactAvgSql().replace(" // ", " div ")} " +
        s"FROM VALUES ${vs.map(v => s"(CAST($v AS DOUBLE))").mkString(", ")} AS t(value)")
        .as[Double].head()
    // exact mean 1506.33965: its nearest double lies just below the half
    Seq(Seq(1506.33, 1506.3493) -> 1506.3397, Seq(-1506.33, -1506.3493) -> -1506.3397,
        Seq(-3.0, -3.0) -> -3.0, Seq(-0.0001, -0.0002) -> -0.0002).foreach {
      case (vs, want) =>
        assert(avg(vs: _*) == want, s"exactAvg($vs)")
        assert(avgSql(vs: _*) == want, s"exactAvgSql($vs)")
    }
  }

  test("all declared queries run on sf0.001 and return rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
