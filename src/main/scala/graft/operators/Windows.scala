package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hopping (sliding) windows and time-series anomaly scoring over the
  * event stream — batch counterparts of the streaming window family
  * (reference windows are tumbling-only:
  * `services/processing/src/jobs/event_metrics.py`; hopping windows and
  * outlier flags are the next shapes a metrics product adds).
  */
object Windows {

  /** The windowed metric shape every event-time metric table shares:
    * group by (`window(timeCol, duration[, slide])`, `key`), compute
    * `aggs`, and emit `window_start_ms`, `window_end_ms` (epoch millis,
    * so results hash-compare against the DuckDB oracle), `key`, then
    * the aggregates in order. Tumbling without `slide`. The same body
    * runs as a batch query and as a streaming append aggregate behind a
    * watermark. */
  def windowed(events: DataFrame, timeCol: String, duration: String,
               key: String, slide: Option[String] = None)(aggs: Column*): DataFrame = {
    val g = events
      .groupBy(window(col(timeCol), duration, slide.getOrElse(duration)), col(key))
      .agg(aggs.head, aggs.tail: _*)
    g.select(unix_millis(col("window.start")).as("window_start_ms") +:
      unix_millis(col("window.end")).as("window_end_ms") +:
      g.columns.toSeq.tail.map(col): _*)
  }

  /** Event counts per hopping window (length `winMs`, slide `slideMs`,
    * epoch-aligned like Spark's `window()`): each event lands in
    * winMs/slideMs overlapping windows. Spark plans this as one Expand
    * (one row per covering window) + a single hash aggregate — the same
    * single-shuffle shape as a tumbling window, just with the
    * window-per-event multiplier. */
  def hoppingCounts(events: DataFrame, winSec: Int = 600,
                    slideSec: Int = 300): DataFrame =
    windowed(events, "ts", s"$winSec seconds", "event_type",
      Some(s"$slideSec seconds"))(count(lit(1)).as("n"))

  /** Oracle: enumerate each event's covering window indices k where
    * k·slide ≤ t < k·slide + win; for win = 2·slide that is exactly
    * k ∈ {t div slide − 1, t div slide}. */
  def hoppingCountsSql(winSec: Int = 600, slideSec: Int = 300): String = {
    require(winSec == 2 * slideSec, "oracle enumerates the win=2*slide case")
    val s = slideSec * 1000L; val w = winSec * 1000L
    s"""SELECT k * $s AS window_start_ms, k * $s + $w AS window_end_ms,
       |       event_type, count(*) AS n
       |FROM (SELECT event_type,
       |        unnest(generate_series(epoch_ms(ts) // $s - 1,
       |                               epoch_ms(ts) // $s)) AS k
       |      FROM events)
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** Per-(type, day) event-count z-scores against that type's daily
    * history. Variance comes from exact integer power sums
    * (n·Σx² − (Σx)²) / (n·(n−1)) — BIGINT-exact in every engine, so the
    * final double z-score is bit-deterministic, unlike built-in
    * stddev whose accumulation order varies. is_anomaly flags |z| > 2.
    * Two aggregates + a broadcast-size join back on event_type. */
  def dailyAnomalies(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        floor(unix_millis(col("ts")) / 86400000L).cast("long").as("day_num"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      .filter(col("n_days") > 1)
    val mean = col("s1").cast("double") / col("n_days").cast("double")
    val variance = (col("n_days") * col("s2") - col("s1") * col("s1")).cast("double") /
      (col("n_days") * (col("n_days") - 1)).cast("double")
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day_num"), col("n"),
        round((col("n").cast("double") - mean) / sqrt(variance), 4).as("z"))
      .withColumn("is_anomaly", (abs(col("z")) > 2.0).cast("boolean"))
  }

  def dailyAnomaliesSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_num,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS n_days,
      |         CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
      |  FROM daily GROUP BY 1 HAVING count(*) > 1),
      |scored AS (
      |  SELECT d.event_type, d.day_num, d.n,
      |         round((CAST(d.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n_days) /
      |               sqrt(CAST(s.n_days * s.s2 - s.s1 * s.s1 AS DOUBLE) /
      |                    (s.n_days * (s.n_days - 1))), 4) AS z
      |  FROM daily d JOIN stats s ON d.event_type = s.event_type)
      |SELECT event_type, day_num, n, z, abs(z) > 2.0 AS is_anomaly
      |FROM scored""".stripMargin

  /** 7-day moving revenue per order priority: daily pre-aggregate
    * (shrinks the window input from |orders| rows to |priorities|×|days|)
    * then a RANGE frame over the integer day — a range frame, unlike
    * ROWS, stays correct when a group has gap days. Money stays in
    * integer cents end-to-end so the moving sums hash-match across
    * engines. One shuffle for the daily agg; the window only adds a
    * per-group sort on top of it. */
  def movingRevenue(orders: DataFrame, days: Int = 7): DataFrame = {
    val daily = orders
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day_num"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("priority")).orderBy(col("day_num"))
      .rangeBetween(-(days - 1), 0)
    daily.select(col("priority"), col("day_num"), col("day_cents"),
      sum(col("day_cents")).over(w).as(s"cents_${days}d"))
  }

  def movingRevenueSql(days: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS priority,
       |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
       |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
       |  FROM orders GROUP BY 1, 2)
       |SELECT priority, day_num, day_cents,
       |       CAST(sum(day_cents) OVER (PARTITION BY priority ORDER BY day_num
       |         RANGE BETWEEN ${days - 1} PRECEDING AND CURRENT ROW) AS BIGINT)
       |         AS cents_${days}d
       |FROM daily""".stripMargin

  /** Event-type transition matrix: per user, order events by time and
    * count (previous type → type) bigrams — the Markov-chain input for
    * funnel/path products. One shuffle (hash by user for the lag
    * window); the global bigram count partial-aggregates map-side on
    * top of it. Ties on ts are broken by event_id so the lag order is
    * total and both engines agree. */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        col("event_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  def transitionsSql: String =
    """SELECT prev_type, event_type, count(*) AS n
      |FROM (SELECT user_id,
      |        lag(event_type) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS prev_type,
      |        event_type
      |      FROM events)
      |WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** Gap-filled daily series: every (event_type, day) in the observed
    * range gets a row, zero when absent — the densification step time-
    * series models and dashboards require (a LEFT JOIN against a
    * `sequence()` spine). The spine is |types|×|days| rows built from
    * the AGGREGATED table, so the corpus contributes one shuffle (the
    * daily agg) and the dense join is dimension-sized. */
  def gapFill(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day_num"))
      .agg(count(lit(1)).as("n"))
    val days = daily.agg(min(col("day_num")).as("lo"), max(col("day_num")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day_num"))
    daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day_num"), "left")
      .select(col("event_type"), col("day_num"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  def gapFillSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day_num, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT unnest(range(min(day_num), max(day_num) + 1)) AS day_num
      |         FROM daily),
      |t AS (SELECT DISTINCT event_type FROM daily)
      |SELECT t.event_type, d.day_num, CAST(COALESCE(dl.n, 0) AS BIGINT) AS n
      |FROM t CROSS JOIN days d
      |LEFT JOIN daily dl ON dl.event_type = t.event_type
      |                  AND dl.day_num = d.day_num""".stripMargin
}
