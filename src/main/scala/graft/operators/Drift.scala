package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift audit: how much did the event-type mix shift
  * between the early and late halves of the stream's time range?
  *
  * The reference's operational story (sustained ingest into windowed
  * aggregates — services/processing event_analytics) implicitly assumes
  * a stable event mix; a pipeline feeding a training corpus needs that
  * assumption CHECKED — schema-stable drift in the value distribution is
  * the failure mode dashboards miss. This operator is the minimal
  * engine-side detector: per-category rate (ppm, integer-exact) in each
  * half of the observed time range and the absolute rate delta.
  *
  * Scale shape: one pass over events for the time bounds (column-pruned
  * min/max), one pass for the per-type conditional counts (map-side
  * partial aggregation; the bounds row rides a constant-key broadcast
  * hash join so everything stays in whole-stage codegen). The
  * cross-type totals come from an unpartitioned window over the
  * per-type AGGREGATE — a #event_types-row table, so the single-
  * partition window is a few rows, never the raw events. All
  * arithmetic is integer (epoch ms, counts, ppm floor-division) —
  * bit-identical across engines, no float drift in a drift detector.
  */
object Drift {

  /** Registers `df` under a per-call unique temp-view name, runs `f`,
    * and drops the view before returning. `spark.sql` analyzes eagerly
    * (the view's plan is inlined at analysis), so the drop is safe and
    * concurrent callers in one session can't clobber each other's view
    * — a fixed global name would race between registration and
    * analysis and leak into the session catalog. */
  private def withTempView(df: DataFrame, prefix: String)(f: String => DataFrame): DataFrame = {
    val v = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceTempView(v)
    try f(v) finally df.sparkSession.catalog.dropTempView(v)
  }

  /** Columns: event_type, n_early, n_late, ppm_early, ppm_late,
    * drift_ppm. Midpoint = floor((min_ms + max_ms)/2); "early" is
    * strictly before the midpoint. A single-timestamp corpus yields
    * zero early rows → ppm columns are NULL (nullif guard), not a
    * division error.
    *
    * The midpoint reaches the per-row comparison as an uncorrelated
    * SCALAR SUBQUERY, not a constant-key join: Catalyst runs the
    * bounds aggregate once as a subquery stage and injects the result
    * as a literal, so the events scan → conditional-count aggregate
    * stays one whole-stage-codegen pipeline (a 1-row broadcast join
    * here constant-folds into a BroadcastNestedLoopJoin that breaks
    * codegen on the full-corpus side — measured, not guessed). */
  def eventTypeDrift(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val perType = withTempView(
      events.select(col("event_type"), unix_millis(col("ts")).as("ms")),
      "graft_drift_") { v =>
      val mid = s"(SELECT (min(ms) + max(ms)) div 2 FROM $v)"
      spark.sql(
        s"""SELECT event_type,
           |       sum(CASE WHEN ms < $mid THEN 1L ELSE 0L END) AS n_early,
           |       sum(CASE WHEN ms >= $mid THEN 1L ELSE 0L END) AS n_late
           |FROM $v GROUP BY event_type""".stripMargin)
    }
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perType
      .withColumn("te", sum(col("n_early")).over(w))
      .withColumn("tl", sum(col("n_late")).over(w))
      .select(col("event_type"), col("n_early"), col("n_late"),
        expr("n_early * 1000000 div nullif(te, 0)").as("ppm_early"),
        expr("n_late * 1000000 div nullif(tl, 0)").as("ppm_late"),
        abs(expr("n_early * 1000000 div nullif(te, 0)") -
            expr("n_late * 1000000 div nullif(tl, 0)")).as("drift_ppm"))
  }

  /** Window-over-window event-mix drift: per (tumbling window, type),
    * the type's share of the window (ppm) vs its share of the
    * PREVIOUS window — the streaming-native companion to
    * [[eventTypeDrift]]'s one-shot half-split. This is the quantity a
    * live pipeline alerts on ("checkout's share just moved 300k ppm
    * window-over-window").
    *
    * Streaming integration is drift-on-READ, not extra stream state:
    * the windowed counts are exactly what the storage sink already
    * lands (event_metrics), and this recomputes over that
    * O(#windows·#types) metadata table — see
    * [[graft.operators.MetricsStore.mixDrift]]. Types absent from a
    * window are explicit 0-ppm rows (dense grid), so a type
    * disappearing IS a drift signal, not a missing row. */
  def windowMixDrift(events: DataFrame, windowMs: Long = 60000L): DataFrame =
    mixDriftOfCounts(windowCounts(events, windowMs))

  /** (window_start_ms, event_type, cnt) per tumbling window, pinned. */
  private def windowCounts(events: DataFrame, windowMs: Long): DataFrame =
    events.select(
        expr(s"(unix_millis(ts) div $windowMs) * $windowMs").as("window_start_ms"),
        col("event_type"))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      // the count table is #windows·#types rows (kB); without the
      // checkpoint its corpus-scan lineage re-runs for each grid
      // branch (wins, types, join). In the streaming shape this table
      // IS the materialized sink — see MetricsStore.mixDrift, which
      // passes the stored table and skips this
      .localCheckpoint()

  /** The drift computation over an already-windowed count table
    * (window_start_ms, event_type, cnt) — shared by the batch query
    * and the metrics-store read. Everything here is post-aggregate:
    * the inputs are #windows·#types rows. */
  def mixDriftOfCounts(wcnt0: DataFrame): DataFrame = {
    // post-aggregate the table is #windows·#types rows (bounded by
    // retention at scale): one partition makes the grid join and both
    // window functions single-task instead of paying 3 exchanges of
    // kB-sized data across the full shuffle width
    val wcnt = wcnt0.coalesce(1)
    val wins = wcnt.select(col("window_start_ms")).distinct()
    val types = wcnt.select(col("event_type")).distinct()
    val dense = wins.crossJoin(broadcast(types))
      .join(wcnt, Seq("window_start_ms", "event_type"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wTot = Window.partitionBy(col("window_start_ms"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("window_start_ms"))
    dense
      .withColumn("total", sum(col("cnt")).over(wTot))
      .withColumn("ppm", expr("cnt * 1000000 div nullif(total, 0)"))
      .withColumn("prev_ppm", lag(col("ppm"), 1).over(wLag))
      .filter(col("prev_ppm").isNotNull)
      .select(col("window_start_ms"), col("event_type"), col("cnt"),
        col("ppm"), col("prev_ppm"),
        abs(col("ppm") - col("prev_ppm")).as("drift_ppm"))
  }

  /** Window-over-window PSI: [[psiDrift]]'s score computed per
    * tumbling window against the previous window, from the SAME dense
    * count grid [[windowMixDrift]] reads — one number per window for
    * the monitoring dashboard ("PSI crossed 0.25 at 14:03"), where the
    * per-type mix table is the drill-down. Post-aggregate arithmetic
    * over the #windows·#types grid; at scale this reads the stored
    * metric table ([[MetricsStore.mixDrift]] path), never the stream. */
  def windowPsi(events: DataFrame, windowMs: Long = 60000L): DataFrame =
    psiOfCounts(windowCounts(events, windowMs), "window_start_ms", "n_types")

  /** PSI of each window's key mix against the previous window's, over a
    * (window_start_ms, event_type, cnt) count table: the
    * [[mixDriftOfCounts]] dense grid and lag, each key contributing
    * (p − q)·ln(p/q) on ppm shares, each clamped to ≥ 1 ppm inside the
    * log (a key absent from one side scores against 1 ppm, not ln 0).
    * One row per window
    * that has a predecessor — the window under `axis`, `psi` at 4 dp,
    * and the grid's key count under `nName`. Every windowed PSI in the
    * repo (events, ingest shards, score bins, stored batches) is this
    * body; pinning `counts` is the caller's. */
  def psiOfCounts(counts: DataFrame, axis: String, nName: String): DataFrame = {
    val contrib = ((col("ppm") - col("prev_ppm")) / lit(1e6)) *
      log(greatest(col("ppm"), lit(1L)).cast("double") /
        greatest(col("prev_ppm"), lit(1L)).cast("double"))
    mixDriftOfCounts(counts)
      .groupBy(col("window_start_ms").as(axis))
      // boundary-stable fixed-point sum (r16): sf0.1 surfaced windows
      // whose exact psi sits ON the 4 dp half boundary, where
      // round(sum(round(c,6)),4) let the engines' summation order
      // pick the side — see FixedPoint.sum6Round4
      .agg(FixedPoint.sum6Round4(contrib).as("psi"),
        count(lit(1)).cast("int").as(nName))
  }

  def windowPsiSql(windowMs: Long = 60000L): String =
    s"""SELECT window_start_ms,
       |       ${FixedPoint.sum6Round4Sql(
               """((ppm - prev_ppm) / 1e6) *
                 |         ln(CAST(greatest(ppm, 1) AS DOUBLE) /
                 |            CAST(greatest(prev_ppm, 1) AS DOUBLE))""".stripMargin)} AS psi,
       |       CAST(count(*) AS INT) AS n_types
       |FROM (${windowMixDriftSql(windowMs)})
       |GROUP BY window_start_ms""".stripMargin

  /** Threshold gate over a mix-drift table ([[windowMixDrift]] /
    * [[MetricsStore.mixDrift]]) — the operational alerting loop the
    * reference's Prometheus counters imply (ingest counters at
    * services/ingestion/src/api/v1/endpoints/track.py:21-23): a type
    * whose window share moved ≥ thresholdPpm vs the previous window
    * becomes an alert row. Integer ppm compare — deterministic,
    * engine-exact, and post-aggregate (the input is the
    * #windows·#types drift table, never the stream). */
  def mixDriftAlerts(drift: DataFrame, thresholdPpm: Long = 200000L): DataFrame =
    drift.filter(col("drift_ppm") >= thresholdPpm)
      .select(lit("mix_drift").as("kind"), col("window_start_ms"),
        col("event_type"), col("ppm").as("observed_ppm"),
        col("prev_ppm"), col("drift_ppm"),
        lit(thresholdPpm).as("threshold_ppm"))

  /** The KS companion gate (same alert schema, window NULL — KS is a
    * whole-range statistic): types whose value distribution moved
    * ≥ thresholdPpm between halves ([[ksDrift]]/[[ksDriftBinned]]). */
  def ksDriftAlerts(ks: DataFrame, thresholdPpm: Long = 100000L): DataFrame =
    ks.filter(col("ks_ppm") >= thresholdPpm)
      .select(lit("ks_drift").as("kind"),
        lit(null).cast("long").as("window_start_ms"),
        col("event_type"), col("ks_ppm").as("observed_ppm"),
        lit(null).cast("long").as("prev_ppm"),
        col("ks_ppm").as("drift_ppm"),
        lit(thresholdPpm).as("threshold_ppm"))

  def mixDriftAlertsSql(windowMs: Long = 60000L,
                        thresholdPpm: Long = 200000L): String =
    s"""SELECT 'mix_drift' AS kind, window_start_ms, event_type,
       |       ppm AS observed_ppm, prev_ppm, drift_ppm,
       |       CAST($thresholdPpm AS BIGINT) AS threshold_ppm
       |FROM (${windowMixDriftSql(windowMs)})
       |WHERE drift_ppm >= $thresholdPpm""".stripMargin

  def windowMixDriftSql(windowMs: Long = 60000L): String =
    s"""WITH wcnt AS (
       |  SELECT (epoch_ms(ts) // $windowMs) * $windowMs AS window_start_ms,
       |         event_type, CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |dense AS (
       |  SELECT g.window_start_ms, g.event_type, coalesce(c.cnt, 0) AS cnt
       |  FROM (SELECT w.window_start_ms, t.event_type
       |        FROM (SELECT DISTINCT window_start_ms FROM wcnt) w,
       |             (SELECT DISTINCT event_type FROM wcnt) t) g
       |  LEFT JOIN wcnt c
       |    ON c.window_start_ms = g.window_start_ms
       |   AND c.event_type = g.event_type),
       |ppm AS (
       |  SELECT window_start_ms, event_type, cnt,
       |         CAST(cnt * 1000000 //
       |              nullif(CAST(sum(cnt) OVER (PARTITION BY window_start_ms) AS BIGINT), 0)
       |              AS BIGINT) AS ppm
       |  FROM dense),
       |lagd AS (
       |  SELECT window_start_ms, event_type, cnt, ppm,
       |         lag(ppm) OVER (PARTITION BY event_type ORDER BY window_start_ms) AS prev_ppm
       |  FROM ppm)
       |SELECT window_start_ms, event_type, cnt, ppm, prev_ppm,
       |       abs(ppm - prev_ppm) AS drift_ppm
       |FROM lagd WHERE prev_ppm IS NOT NULL""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov distance of the `value`
    * distribution between the early and late halves, per event type —
    * the numeric-column companion to [[eventTypeDrift]]'s categorical
    * mix check (the KS test is the standard continuous-drift gate).
    *
    * Fully integer arithmetic: at each observed value v,
    * |F_early(v) − F_late(v)| = |cum_a·n_b − cum_b·n_a| / (n_a·n_b),
    * so the max runs over exact BIGINT cross-products and only the
    * final ppm ratio divides (floor). No float CDFs, no engine drift.
    *
    * Scale shape: one groupBy(type, value) collapses the corpus to
    * distinct observed values (counts partial-aggregate map-side);
    * the CDF cumsum is a per-type ordered window over that collapsed
    * table. A type with ~10⁹ distinct values makes the per-type sort
    * the bottleneck — the documented scale path is pre-bucketing
    * `value` to fixed-width bins (KS on binned data lower-bounds the
    * true KS), which caps the window input at #bins·#types rows. */
  def ksDrift(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val perVal = withTempView(
      events.select(col("event_type"), unix_millis(col("ts")).as("ms"),
        col("value")),
      "graft_ksdrift_") { v =>
      val mid = s"(SELECT (min(ms) + max(ms)) div 2 FROM $v)"
      spark.sql(
        s"""SELECT event_type, value,
           |       sum(CASE WHEN ms < $mid THEN 1L ELSE 0L END) AS ca,
           |       sum(CASE WHEN ms >= $mid THEN 1L ELSE 0L END) AS cb
           |FROM $v WHERE value IS NOT NULL
           |GROUP BY event_type, value""".stripMargin)
    }
    ksOfCdf(perVal, col("value"))
  }

  /** Shared KS tail: CDF cross-products and the ppm ratio in
    * DECIMAL(38,0) — BIGINT would wrap silently (non-ANSI) once
    * n_early·n_late exceeds ~9.2e12 (a few million events per half),
    * i.e. exactly on the documented scale path, while the DuckDB twin
    * promotes to HUGEINT. Decimal headroom: ks_num ≤ n_a·n_b and
    * ks_num·1e6 must fit 38 digits → valid while n_a·n_b ≤ 1e32
    * (each half up to ~1e16 events — beyond any real corpus). The
    * final floor-div lands back in BIGINT (ppm ≤ 1e6). */
  private def ksOfCdf(perVal: DataFrame, ord: org.apache.spark.sql.Column): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(ord)
    val wAll = Window.partitionBy(col("event_type"))
    perVal
      .withColumn("cum_a", sum(col("ca")).over(wOrd))
      .withColumn("cum_b", sum(col("cb")).over(wOrd))
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        max(col("na")).as("n_early"),
        max(col("nb")).as("n_late"),
        max(abs(col("cum_a").cast("decimal(38,0)") * col("nb") -
                col("cum_b").cast("decimal(38,0)") * col("na"))).as("ks_num"))
      .select(col("event_type"), col("n_early"), col("n_late"),
        expr("ks_num * 1000000 div nullif(CAST(n_early AS DECIMAL(38,0)) * n_late, 0)")
          .as("ks_ppm"))
  }

  /** The documented scale path for [[ksDrift]], as real code: values
    * pre-bucketed to fixed-width bins, then the identical integer CDF
    * arithmetic over ≤ #bins·#types rows. Binned KS lower-bounds the
    * exact statistic (the max is taken over bin boundaries only), so a
    * binned alarm is always a true alarm; resolution is 1/binWidth of
    * the value axis. Use when a type's distinct-value cardinality
    * makes the exact per-type CDF sort the bottleneck. */
  def ksDriftBinned(events: DataFrame, binWidth: Double = 10.0): DataFrame = {
    val spark = events.sparkSession
    val perBin = withTempView(
      events.select(col("event_type"), unix_millis(col("ts")).as("ms"),
        floor(col("value") / binWidth).cast("long").as("bin")),
      "graft_ksbinned_") { v =>
      val mid = s"(SELECT (min(ms) + max(ms)) div 2 FROM $v)"
      spark.sql(
        s"""SELECT event_type, bin,
           |       sum(CASE WHEN ms < $mid THEN 1L ELSE 0L END) AS ca,
           |       sum(CASE WHEN ms >= $mid THEN 1L ELSE 0L END) AS cb
           |FROM $v WHERE bin IS NOT NULL
           |GROUP BY event_type, bin""".stripMargin)
    }
    ksOfCdf(perBin, col("bin"))
  }

  def ksDriftBinnedSql(binWidth: Double = 10.0): String =
    s"""WITH mid AS (
       |  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS m FROM events),
       |pv AS (
       |  SELECT event_type, CAST(floor(value / $binWidth) AS BIGINT) AS bin,
       |         CAST(sum(CASE WHEN epoch_ms(ts) < mid.m THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN epoch_ms(ts) >= mid.m THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events, mid WHERE value IS NOT NULL
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type,
       |         CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum_a,
       |         CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum_b,
       |         CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
       |         CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
       |  FROM pv)
       |SELECT event_type,
       |       max(na) AS n_early, max(nb) AS n_late,
       |       CAST(CAST(max(abs(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)) AS HUGEINT) * 1000000 //
       |            nullif(CAST(max(na) AS HUGEINT) * max(nb), 0) AS BIGINT) AS ks_ppm
       |FROM cum GROUP BY 1""".stripMargin

  def ksDriftSql: String =
    s"""WITH mid AS (
       |  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS m FROM events),
       |pv AS (
       |  SELECT event_type, value,
       |         CAST(sum(CASE WHEN epoch_ms(ts) < mid.m THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN epoch_ms(ts) >= mid.m THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events, mid WHERE value IS NOT NULL
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type,
       |         CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum_a,
       |         CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum_b,
       |         CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
       |         CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
       |  FROM pv)
       |SELECT event_type,
       |       max(na) AS n_early, max(nb) AS n_late,
       |       CAST(CAST(max(abs(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na)) AS HUGEINT) * 1000000 //
       |            nullif(CAST(max(na) AS HUGEINT) * max(nb), 0) AS BIGINT) AS ks_ppm
       |FROM cum GROUP BY 1""".stripMargin

  /** DuckDB twin: epoch_ms ↔ unix_millis, `//` ↔ `div`, same nullif
    * guard; HUGEINT sums cast back to BIGINT for schema parity. */
  /** Population Stability Index over the categorical event mix — the
    * industry-standard drift score the model-monitoring world reports
    * (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 action): per
    * category, (p_late − p_early)·ln(p_late/p_early), summed. Built on
    * [[eventTypeDrift]]'s integer-ppm half-split table, so every ln
    * input is an engine-exact integer; zero shares clamp to 1 ppm (the
    * standard ε guard — a vanished category contributes a large finite
    * score, not ±∞). Post-aggregate arithmetic over #categories rows —
    * nothing here touches the corpus a second time. */
  def psiDrift(events: DataFrame): DataFrame = {
    val pe = greatest(col("ppm_early"), lit(1L)).cast("double")
    val pl = greatest(col("ppm_late"), lit(1L)).cast("double")
    val contrib = ((col("ppm_late") - col("ppm_early")) / lit(1e6)) * log(pl / pe)
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    eventTypeDrift(events)
      .select(col("event_type"), col("ppm_early"), col("ppm_late"),
        round(contrib, 6).as("psi_contrib"))
      // boundary-stable total (r16, FixedPoint.sum6Round4 rationale)
      .withColumn("psi_total",
        FixedPoint.units6To4(sum(FixedPoint.units6(contrib)).over(w)))
  }

  def psiDriftSql: String =
    s"""WITH etd AS (${eventTypeDriftSql}),
       |c AS (
       |  SELECT event_type, ppm_early, ppm_late,
       |         ((ppm_late - ppm_early) / 1e6) *
       |           ln(CAST(greatest(ppm_late, 1) AS DOUBLE) /
       |              CAST(greatest(ppm_early, 1) AS DOUBLE)) AS contrib
       |  FROM etd)
       |SELECT event_type, ppm_early, ppm_late,
       |       round(contrib, 6) AS psi_contrib,
       |       ${FixedPoint.units6To4Sql(
              s"sum(${FixedPoint.units6Sql("contrib")}) OVER ()")} AS psi_total
       |FROM c""".stripMargin

  def eventTypeDriftSql: String =
    s"""WITH b AS (
       |  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid FROM events),
       |pt AS (
       |  SELECT event_type,
       |         CAST(sum(CASE WHEN epoch_ms(ts) < b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
       |         CAST(sum(CASE WHEN epoch_ms(ts) >= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_late
       |  FROM events, b GROUP BY 1),
       |tot AS (
       |  SELECT event_type, n_early, n_late,
       |         CAST(sum(n_early) OVER () AS BIGINT) AS te,
       |         CAST(sum(n_late) OVER () AS BIGINT) AS tl
       |  FROM pt)
       |SELECT event_type, n_early, n_late,
       |       CAST((n_early * 1000000) // nullif(te, 0) AS BIGINT) AS ppm_early,
       |       CAST((n_late * 1000000) // nullif(tl, 0) AS BIGINT) AS ppm_late,
       |       CAST(abs((n_early * 1000000) // nullif(te, 0) -
       |                (n_late * 1000000) // nullif(tl, 0)) AS BIGINT) AS drift_ppm
       |FROM tot""".stripMargin

  // ------------------------------------------------- embedding drift
  /** PSI over EMBEDDING SPACE — the model-monitoring question the
    * scalar drift family can't answer: "has the distribution of
    * vectors shifted?". Embeddings are histogram-ized by k-means cell
    * ([[graft.ann.KMeans.assign]] — the IVF coarse quantizer doubling
    * as the binning), halves split by vec_id parity (the deterministic
    * stand-in for a time split), then the exact [[psiDrift]] formula
    * per cell. This is how embedding drift is monitored in production
    * vector pipelines: cluster-assignment histograms, not raw-vector
    * statistics (which wash out in high dimension).
    *
    * Scale shape: assignment is the standard broadcast-centroid scan;
    * everything after is arithmetic over k rows. */
  def embedDrift(embs: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val h = graft.ann.KMeans.assign(embs, k, iters)
      .withColumn("half", col("vec_id") % 2)
    val counts = h.groupBy(col("cluster")).agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_early"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_late"))
    val tot = counts.agg(sum(col("n_early")).as("te"),
      sum(col("n_late")).as("tl"))
    val pe = greatest(col("ppm_early"), lit(1L)).cast("double")
    val pl = greatest(col("ppm_late"), lit(1L)).cast("double")
    val contrib = ((col("ppm_late") - col("ppm_early")) / lit(1e6)) *
      log(pl / pe)
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // nullif guard on BOTH twins: an all-one-parity corpus empties a
    // half, and Spark's `div 0` (NULL) vs DuckDB's `// 0` (error)
    // would otherwise diverge silently vs loudly
    counts.crossJoin(broadcast(tot))
      .withColumn("ppm_early", expr("n_early * 1000000 div nullif(te, 0)"))
      .withColumn("ppm_late", expr("n_late * 1000000 div nullif(tl, 0)"))
      .select(col("cluster"), col("ppm_early"), col("ppm_late"),
        round(contrib, 6).as("psi_contrib"))
      // boundary-stable total (r16, FixedPoint.sum6Round4 rationale)
      .withColumn("psi_total",
        FixedPoint.units6To4(sum(FixedPoint.units6(contrib)).over(w)))
  }

  /** DuckDB twin: [[graft.ann.KMeans.assignSql]] as the binning CTE,
    * then the [[psiDriftSql]] arithmetic verbatim. */
  def embedDriftSql(k: Int = 8, iters: Int = 2): String =
    s"""WITH a AS (
       |${graft.ann.KMeans.assignSql(k, iters)}
       |),
       |h AS (SELECT cluster, vec_id % 2 AS half FROM a),
       |cnt AS (
       |  SELECT cluster,
       |         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
       |         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
       |  FROM h GROUP BY 1),
       |t AS (SELECT CAST(sum(n_early) AS BIGINT) AS te,
       |             CAST(sum(n_late) AS BIGINT) AS tl FROM cnt),
       |p AS (
       |  SELECT cluster,
       |         CAST((n_early * 1000000) // nullif(te, 0) AS BIGINT) AS ppm_early,
       |         CAST((n_late * 1000000) // nullif(tl, 0) AS BIGINT) AS ppm_late
       |  FROM cnt CROSS JOIN t),
       |x AS (
       |  SELECT cluster, ppm_early, ppm_late,
       |         ((ppm_late - ppm_early) / 1e6) *
       |           ln(CAST(greatest(ppm_late, 1) AS DOUBLE) /
       |              CAST(greatest(ppm_early, 1) AS DOUBLE)) AS contrib
       |  FROM p)
       |SELECT cluster, ppm_early, ppm_late,
       |       round(contrib, 6) AS psi_contrib,
       |       ${FixedPoint.units6To4Sql(
              s"sum(${FixedPoint.units6Sql("contrib")}) OVER ()")} AS psi_total
       |FROM x""".stripMargin
}
