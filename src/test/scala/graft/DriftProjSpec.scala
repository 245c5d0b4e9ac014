package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ann.Projection
import graft.operators.Drift

class DriftProjSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def events(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("ms", "event_type")
      .select(timestamp_millis(col("ms")).as("ts"), col("event_type"))

  test("psi: symmetric 3:1 swap scores 2·0.5·ln3, zero shares clamp") {
    // early a,a,a,b | late a,b,b,b → each contributes 0.5·ln3=0.549306
    val d = Drift.psiDrift(events(
      (0L, "a"), (1L, "a"), (2L, "a"), (3L, "b"),
      (999997L, "a"), (999998L, "b"), (999999L, "b"), (1000000L, "b")))
      .orderBy("event_type")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(d == Seq(
      ("a", 750000L, 250000L, 0.549306, 1.0986),
      ("b", 250000L, 750000L, 0.549306, 1.0986)), d.toString)
    // a category that vanishes entirely: ppm clamps to 1, finite score
    val v = Drift.psiDrift(events(
      (0L, "a"), (1L, "b"), (999999L, "a"), (1000000L, "a")))
      .filter($"event_type" === "b")
      .as[(String, Long, Long, Double, Double)].head()
    // contrib = (0−500000)/1e6 · ln(1/500000) = 0.5·ln(5e5) ≈ 6.561182
    assert(v._2 == 500000L && v._3 == 0L &&
      math.abs(v._4 - 6.561182) < 1e-6, v.toString)
  }

  test("psiOfCounts: 3-window grid, a vanished key scores against the 1-ppm clamp") {
    // w0: a=3 b=1 (750k/250k ppm); w1: a=2, b absent (1M/0); w2: a=1 b=1
    val counts = Seq((0L, "a", 3L), (0L, "b", 1L), (1L, "a", 2L),
        (2L, "a", 1L), (2L, "b", 1L))
      .toDF("window_start_ms", "event_type", "cnt")
    val got = Drift.psiOfCounts(counts, "batch_id", "n_keys")
      .orderBy("batch_id").as[(Long, Double, Int)].collect().toSeq
    // w1: 0.25·ln(4/3) + 0.25·ln(250000/1) = 0.071921 + 3.107304
    // w2: 0.5·ln 2 + 0.5·ln(500000/1)      = 0.346574 + 6.561182
    // w0 has no predecessor, so no row
    assert(got == Seq((1L, 3.1792, 2), (2L, 6.9078, 2)), got.toString)
  }

  test("drift: rates shift fully between halves") {
    // min=1000 max=9000 → mid=5000; A all early, B all late
    val d = Drift.eventTypeDrift(events(
      (1000L, "A"), (2000L, "A"), (3000L, "A"), (9000L, "B")))
      .orderBy("event_type")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect()
    assert(d(0) == (("A", 3L, 0L, Some(1000000L), Some(0L), Some(1000000L))))
    assert(d(1) == (("B", 0L, 1L, Some(0L), Some(1000000L), Some(1000000L))))
  }

  test("drift: stable mix yields zero drift") {
    val d = Drift.eventTypeDrift(events(
      (0L, "A"), (0L, "B"), (10000L, "A"), (10000L, "B")))
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect()
    assert(d.forall(_._6 == Some(0L)))
    assert(d.forall(r => r._4 == Some(500000L) && r._5 == Some(500000L)))
  }

  test("drift: single-timestamp corpus nulls the early rate, no div error") {
    val d = Drift.eventTypeDrift(events((5000L, "A")))
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(d == (("A", 0L, 1L, None, Some(1000000L), None)))
  }

  def eventsV(rows: (Long, String, Double)*): org.apache.spark.sql.DataFrame =
    rows.toDF("ms", "event_type", "value")
      .select(timestamp_millis(col("ms")).as("ts"), col("event_type"), col("value"))

  test("ks drift: separated, identical, and half-shifted distributions") {
    // range 0..10000 → mid=5000
    val d = Drift.ksDrift(eventsV(
      // A: early {1,2} late {3,4} → KS=1
      (0L, "A", 1.0), (0L, "A", 2.0), (10000L, "A", 3.0), (10000L, "A", 4.0),
      // B: identical halves → KS=0
      (0L, "B", 1.0), (0L, "B", 2.0), (10000L, "B", 1.0), (10000L, "B", 2.0),
      // C: early {1,3} late {2,3} → KS=1/2
      (0L, "C", 1.0), (0L, "C", 3.0), (10000L, "C", 2.0), (10000L, "C", 3.0)))
      .orderBy("event_type")
      .as[(String, Long, Long, Option[Long])].collect()
    assert(d(0) == (("A", 2L, 2L, Some(1000000L))))
    assert(d(1) == (("B", 2L, 2L, Some(0L))))
    assert(d(2) == (("C", 2L, 2L, Some(500000L))))
  }

  test("binned ks lower-bounds exact ks and agrees when bins separate the halves") {
    // values 0..9 early vs 100..109 late: bins (width 10) fully
    // separate the halves too → binned == exact == 1.0
    val rows = (0 until 10).map(i => (0L, "A", i.toDouble)) ++
      (0 until 10).map(i => (10000L, "A", 100.0 + i))
    val exact = Drift.ksDrift(eventsV(rows: _*))
      .as[(String, Long, Long, Option[Long])].head()
    val binned = Drift.ksDriftBinned(eventsV(rows: _*))
      .as[(String, Long, Long, Option[Long])].head()
    assert(exact._4 == Some(1000000L) && binned._4 == Some(1000000L))
    // same-bin values: exact sees the within-bin shift, binned cannot
    // (lower bound, never an overestimate)
    val close = Seq((0L, "A", 1.0), (0L, "A", 2.0),
      (10000L, "A", 3.0), (10000L, "A", 4.0))
    val e2 = Drift.ksDrift(eventsV(close: _*))
      .as[(String, Long, Long, Option[Long])].head()._4.get
    val b2 = Drift.ksDriftBinned(eventsV(close: _*))
      .as[(String, Long, Long, Option[Long])].head()._4.get
    assert(b2 <= e2)
    assert(b2 == 0L && e2 == 1000000L)
  }

  test("ks drift: ppm arithmetic survives counts whose BIGINT cross-products wrap") {
    // 4M early at value 1.0, 4M late at value 2.0: ks_num = n_a·n_b =
    // 1.6e13, so ks_num·1e6 = 1.6e19 exceeds Long.MaxValue (9.2e18) —
    // the old BIGINT expression wrapped silently (non-ANSI) to a wrong
    // negative ppm; the DECIMAL(38,0) path must return exactly 1e6.
    val n = 4000000L
    val df = spark.range(2 * n).select(
      timestamp_millis(when(col("id") < n, 0L).otherwise(lit(10000L))).as("ts"),
      lit("A").as("event_type"),
      when(col("id") < n, 1.0).otherwise(2.0).as("value"))
    val d = Drift.ksDrift(df)
      .as[(String, Long, Long, Option[Long])].head()
    assert(d == (("A", n, n, Some(1000000L))))
  }

  test("ks drift: one-sided type yields null ppm, not a division error") {
    val d = Drift.ksDrift(eventsV(
      (0L, "A", 1.0), (10000L, "A", 2.0),
      (0L, "B", 5.0))) // B has no late sample
      .orderBy("event_type")
      .as[(String, Long, Long, Option[Long])].collect()
    assert(d(1) == (("B", 1L, 0L, None)))
  }

  test("window mix drift: dense grid, ppm shares, previous-window lag") {
    // two 60s windows: w0 has A:3 B:1 (A=750000ppm), w1 has A:1 B:1
    // (A=500000ppm); C appears only in w1 → prev row exists via dense
    // grid with ppm 0 in w0
    val d = Drift.windowMixDrift(eventsV(
      (0L, "A", 0.0), (1000L, "A", 0.0), (2000L, "A", 0.0), (3000L, "B", 0.0),
      (60000L, "A", 0.0), (61000L, "B", 0.0), (62000L, "C", 0.0)))
      .orderBy("window_start_ms", "event_type")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    // only w1 rows survive (w0 has no previous window)
    assert(d.map(_._1).forall(_ == 60000L))
    assert(d == Seq(
      (60000L, "A", 1L, 333333L, 750000L, 416667L),
      (60000L, "B", 1L, 333333L, 250000L, 83333L),
      (60000L, "C", 1L, 333333L, 0L, 333333L)))
  }

  test("projection: sign matrix is seed-deterministic and balanced-ish") {
    val m1 = Projection.signMatrix(64, 8, 42L)
    val m2 = Projection.signMatrix(64, 8, 42L)
    val m3 = Projection.signMatrix(64, 8, 43L)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.map(_.toSeq).toSeq != m3.map(_.toSeq).toSeq)
    val flat = m1.flatten
    assert(flat.count(_ > 0) > flat.length / 4)
    assert(flat.count(_ < 0) > flat.length / 4)
  }

  test("projection: engine values equal the driver-side dot, 4dp") {
    val vec = Array.tabulate(64)(i => (i % 7 - 3) * 0.25f)
    val df = Seq((1L, vec.toSeq)).toDF("vec_id", "embedding")
    val row = Projection.randomProject(df).head()
    val m = Projection.signMatrix(64, 8, 42L)
    (0 until 8).foreach { j =>
      var acc = 0.0
      (0 until 64).foreach(i => acc += vec(i).toDouble * m(j)(i).toDouble)
      val expected = BigDecimal(acc).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(row.getDouble(1 + j) - expected) < 1e-9,
        s"dim $j: got ${row.getDouble(1 + j)} want $expected")
    }
  }

  test("projection: oracle SQL embeds the identical literal matrix") {
    val sql = Projection.randomProjectSql()
    assert(sql.contains("AS r0") && sql.contains("AS r7"))
    val m = Projection.signMatrix(64, 8, 42L)
    val firstRow = m(0).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
    assert(sql.contains(firstRow))
  }
}
