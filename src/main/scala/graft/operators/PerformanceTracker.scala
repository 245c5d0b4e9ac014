package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tumbling-window numeric metrics (avg + exact p95) per category.
  *
  * Reference: services/processing/src/jobs/performance_tracker.py:12-45 —
  * null-filter the measured value, derive the category column, tumble,
  * and emit AVG + PERCENTILE(0.95) per (window, category).
  *
  * `percentile` is Catalyst's exact interpolating percentile (matches
  * DuckDB quantile_cont); `metricsApprox` swaps in `percentile_approx`
  * (GK sketch, mergeable, bounded memory) for the 100 TB path where
  * holding every value per group is not acceptable.
  *
  * The average is FIXED-POINT: each value quantizes to 1e-4 once
  * (deterministic per row), the sum is an exact BIGINT, and the mean
  * rounds in integer arithmetic before one final division. A plain `round(avg(double), 4)` is NOT
  * hash-stable across engines — partial-aggregation order shifts the
  * last ulp, and at sf0.1 one group of ~8k landed exactly on a 4 dp
  * half boundary (57.09875) and rounded differently in Spark and
  * DuckDB. Inputs are metric-scaled (|value|·10⁴ « 2⁶³), so the
  * quantization is lossless for any value stated to 4 dp.
  */
object PerformanceTracker {

  /** Deterministic 4 dp mean: quantize → exact integer sum → round the
    * exact rational mean half away from zero in integer arithmetic →
    * one final division. Rounding a double quotient instead lets an
    * exact 4 dp half (1506.33965) land on either neighbour. */
  def exactAvg(c: Column): Column = {
    val s = sum(round(c * 10000).cast("long"))
    val n = count(c)
    val units = call_function("div", abs(s) * 2 + n, n * 2)
    when(s < 0, -units).otherwise(units).cast("double") / 10000.0
  }

  /** The DuckDB twin of [[exactAvg]] over a `value` expression: the same
    * integer expression, so both engines agree on every sign. */
  def exactAvgSql(expr: String = "value"): String = {
    val s = s"sum(CAST(round($expr * 10000) AS BIGINT))"
    val units = s"((2 * abs($s) + count($expr)) // (2 * count($expr)))"
    s"CAST(CASE WHEN $s < 0 THEN -$units ELSE $units END AS DOUBLE) / 10000.0"
  }

  def metrics(events: DataFrame,
              timeCol: String = "ts",
              windowDuration: String = "300 seconds",
              valueCol: String = "value",
              categoryCol: Option[Column] = None): DataFrame =
    byWindowAndCategory(events, timeCol, windowDuration, valueCol,
      categoryCol.getOrElse(Categorizer.categorize(col("event_type"))),
      round(percentile(col(valueCol), lit(0.95)), 4))

  /** Scale-out variant: approximate percentile, bounded state per group. */
  def metricsApprox(events: DataFrame,
                    timeCol: String = "ts",
                    windowDuration: String = "300 seconds",
                    valueCol: String = "value",
                    accuracy: Int = 10000): DataFrame =
    byWindowAndCategory(events, timeCol, windowDuration, valueCol,
      Categorizer.categorize(col("event_type")),
      percentile_approx(col(valueCol), lit(0.95), lit(accuracy)))

  private def byWindowAndCategory(events: DataFrame, timeCol: String,
                                  windowDuration: String, valueCol: String,
                                  category: Column,
                                  p95: Column): DataFrame =
    Windows.windowed(
      events.filter(col(valueCol).isNotNull).withColumn("category", category),
      timeCol, windowDuration, "category")(
      exactAvg(col(valueCol)).as("avg_value"), p95.as("p95_value"))
}
