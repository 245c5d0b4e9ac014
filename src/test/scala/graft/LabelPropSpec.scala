package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Drift, LabelProp}

/** Label propagation: hand-computed spread over a tiny entity graph,
  * argmax/tie semantics, fill-only monotonicity; plus the embedding-
  * drift composite (PSI over k-means cells) reacting to an injected
  * distribution shift. */
class LabelPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixtures = {
    // weights via lineitem multiplicity: c1-s100 ×2, c2-s100 ×1,
    // c2-s200 ×1, c5-s200 ×1
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 5L), (4L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 100L), (1L, 100L), (2L, 100L), (3L, 200L),
      (4L, 200L)).toDF("l_orderkey", "l_suppkey")
    val customer = Seq((1L, 10L), (2L, 20L), (5L, 30L))
      .toDF("c_custkey", "c_nationkey")
    (orders, lineitem, customer)
  }

  test("labels spread one weighted hop per round, argmax by weight then min label") {
    val (o, l, c) = fixtures
    val got = LabelProp.labelPropagation(o, l, c, seedMax = 3, iters = 3)
      .select("node", "label", "round").as[(String, Long, Long)]
      .collect().toSet
    // round 0: seeds c1→10, c2→20 (c5 is not seeded: custkey ≥ 3)
    // round 1: s100 sees c1(w2,l10) vs c2(w1,l20) → 10; s200 sees
    //          c2(w1,l20) only → 20
    // round 2: c5 reaches via s200 → 20
    assert(got == Set(
      ("c:1", 10L, 0L), ("c:2", 20L, 0L),
      ("s:100", 10L, 1L), ("s:200", 20L, 1L),
      ("c:5", 20L, 2L)), s"got $got")
  }

  test("equal weights tie-break to the smaller label; labels never flip") {
    val orders = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 100L), (2L, 100L))
      .toDF("l_orderkey", "l_suppkey") // c1-s100 w1, c2-s100 w1
    val customer = Seq((1L, 20L), (2L, 10L)).toDF("c_custkey", "c_nationkey")
    val got = LabelProp.labelPropagation(orders, lineitem, customer,
        seedMax = 3, iters = 3)
      .select("node", "label", "round").as[(String, Long, Long)]
      .collect().toSet
    // s100: labels {20 (from c1), 10 (from c2)} at weight 1 each → 10.
    // Fill-only: round 2/3 produce nothing (everything labeled), and
    // s100 keeps its round-1 label — no bipartite oscillation.
    assert(got == Set(("c:1", 20L, 0L), ("c:2", 10L, 0L),
      ("s:100", 10L, 1L)), s"got $got")
  }

  test("the label-ASC tie-break holds at Long.MinValue (no negation overflow)") {
    val edges = Seq(("a", "x", 1L), ("b", "x", 1L)).toDF("src", "dst", "w")
    val seeds = Seq(("a", Long.MinValue, 0L), ("b", 0L, 0L))
      .toDF("node", "label", "round")
    val got = LabelProp.labelsFromEdges(edges, seeds, iters = 1)
      .filter(col("node") === "x").select("label").as[Long].collect().toSeq
    // x ties at weight 1 between Long.MinValue and 0 → the smaller label
    assert(got == Seq(Long.MinValue), s"got $got")
  }

  test("embedDrift: parity-dependent distribution → large PSI, balanced → zero") {
    // shifted: even ids cluster at e1, odd at e2 → halves disagree
    val shifted = (0L until 64L).map { i =>
      val v = if (i % 2 == 0) Array(100f, 0f, 0f, 0f)
      else Array(0f, 100f, 0f, 0f)
      (i, v.map(x => x + (i % 7)), 0) // small jitter, cluster-preserving
    }.toDF("vec_id", "embedding", "label")
    val psiShift = Drift.embedDrift(shifted, k = 2)
      .select("psi_total").as[Double].head()
    assert(psiShift > 1.0, s"injected shift should dominate: $psiShift")
    // balanced: id div 2 decides the cluster → halves agree exactly
    val balanced = (0L until 64L).map { i =>
      val v = if ((i / 2) % 2 == 0) Array(100f, 0f, 0f, 0f)
      else Array(0f, 100f, 0f, 0f)
      (i, v.map(x => x + (i % 7)), 0)
    }.toDF("vec_id", "embedding", "label")
    val psiBal = Drift.embedDrift(balanced, k = 2)
      .select("psi_total").as[Double].head()
    assert(math.abs(psiBal) < 0.01, s"balanced halves should not drift: $psiBal")
  }
}
