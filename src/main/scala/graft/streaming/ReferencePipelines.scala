package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Categorizer, EventAggregator, PerformanceTracker, SessionTracker}

/** The reference's three queries on their NATIVE wire schema
  * (SURVEY §2.10, production window sizes): takes the output of
  * [[EventWire.decode]] — event_type, user_id, session_id, user_agent,
  * load_time, event_time — and reproduces EventAggregator /
  * SessionTracker / PerformanceTracker semantics 1:1, including the
  * UA device categorizer with the reference's rule priority and the
  * composite (session_id, user_id) session key.
  *
  * The flat-testdata pipelines in [[Pipelines]] cover the oracle path;
  * these cover schema parity — a reference user's queries run here
  * unchanged in meaning.
  */
object ReferencePipelines {

  val allowedTypes = Seq("page_view", "click", "conversion", "add_to_cart")

  private def withEventTimeAs(decoded: DataFrame, watermark: String): DataFrame =
    decoded
      .withColumn("ts", col("event_time"))
      .withWatermark("ts", watermark)

  /** Q1: tumble 60 s × event_type, count + EXACT distinct users. */
  def eventMetrics(decoded: DataFrame,
                   watermark: String = "10 seconds",
                   windowMs: Long = 60000L): DataFrame =
    EventAggregator.aggregate(withEventTimeAs(decoded, watermark),
      windowDuration = s"$windowMs milliseconds", allowed = allowedTypes)

  /** Q2: session gap 1800 s keyed (session_id, user_id), page_views
    * only, MAX(device_category) from the UA rules. */
  def sessionMetrics(decoded: DataFrame,
                     watermark: String = "10 seconds",
                     gap: String = "1800 seconds"): DataFrame =
    SessionTracker.sessions(
      withEventTimeAs(decoded, watermark),
      gap = gap,
      pageEventType = "page_view",
      keyCols = Seq("session_id", "user_id"),
      categoryCol = Categorizer.categorizeDevice(col("user_agent")))

  /** Q3: tumble 300 s × device_category, avg + exact p95 of load_time,
    * page_views with non-null load_time only. */
  def perfMetrics(decoded: DataFrame,
                  watermark: String = "10 seconds",
                  window: String = "300 seconds"): DataFrame =
    PerformanceTracker.metrics(
      withEventTimeAs(decoded, watermark)
        .filter(col("event_type") === "page_view")
        .withColumn("category", Categorizer.categorizeDevice(col("user_agent"))),
      windowDuration = window,
      valueCol = "load_time",
      categoryCol = Some(col("category")))
}
