package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over the customer↔supplier graph:
  * seed customers carry a known label (their nation), and labels spread
  * outward one weighted hop per round — the graph-native way to extend
  * a small hand-labeled set (domain tags, quality tiers, topic labels)
  * across a corpus-scale entity graph when most nodes are unlabeled.
  * Complements [[PageRank]] (importance) and
  * [[graft.dedup.Clusters]] (connectivity) in the graph family; the
  * reference has no graph operator (training-data-pipeline mandate).
  *
  * Update rule, chosen for exact cross-engine replay:
  *
  *   - FILL-ONLY (label spreading): a node labels once — at the first
  *     round it becomes reachable — and keeps that label. Strict LPA
  *     re-labels every round and OSCILLATES on bipartite graphs (the
  *     well-known 2-cycle); fill-only is deterministic, monotone, and
  *     models "propagate by graph distance".
  *   - A newly reached node takes argmax over Σ edge-weight per
  *     neighbor label, ties broken (weight DESC, label ASC) — integer
  *     counts, no floats anywhere.
  *
  * The per-round shape is edges ⋈ labels + one (dst, label) aggregate
  * + one per-dst window — the [[PageRank.iterate]] iteration cost with
  * a window instead of a sum. Labels are node-sized (broadcastable to
  * ~10⁷ nodes; above that the same size-gated shuffle fallback as
  * PageRank applies). Output: (node, label, round) for every node
  * reached within `iters` hops; round 0 = the seeds. Hash-matches the
  * unrolled-CTE oracle ([[labelPropagationSql]]). */
object LabelProp {

  /** Both-direction weighted edges, built once and materialized. */
  private def edgesOf(orders: DataFrame, lineitem: DataFrame): DataFrame =
    edgesFromPairs(PageRank.weightedPairs(orders, lineitem))
      .localCheckpoint()

  /** The core fill-only spread over prepared inputs: `edges`
    * (src, dst, w) and `seeds` (node, label, round=0). Exposed so the
    * STREAMING leg ([[graft.streaming.GraphRank.refreshLabels]]) can
    * run the identical iteration over its accumulated edge store —
    * same code path, so streaming == batch is structural. */
  def labelsFromEdges(edges: DataFrame, seeds: DataFrame,
                      iters: Int = 3,
                      broadcastLabels: Boolean = false): DataFrame = {
    var labels = seeds.localCheckpoint()
    // The label table is node-sized — the same size class as
    // [[PageRank.iterate]]'s rank table, so it rides the same
    // broadcast-vs-shuffle decision: EVERY caller gates on |V| against
    // [[PageRank.DefaultBroadcastMaxNodes]] ([[labelPropagation]],
    // [[graft.streaming.GraphRank.refreshLabels]]) — the default is the
    // path that survives an unbounded graph (r17, ADVICE: the streaming
    // edge store grows without bound, and the PageRank soak measured
    // ungated node-table broadcasts losing 2-4.5× past 4M nodes).
    // Under the gate the hint matters because the checkpointed label
    // RDD has no stats (defaultSizeInBytes), so the static plan
    // SMJ-sorts the EDGE table against it every round; AQE can only
    // rescue this at runtime, one materialized stage late.
    def lab(df: DataFrame): DataFrame =
      if (broadcastLabels) broadcast(df) else df
    for (r <- 1 to iters) {
      // argmax by (sw DESC, label ASC) as a partial-aggregable
      // max(struct(sw, ~label)) instead of a row_number window: the
      // map side combines the (dst, label) candidate rows before the
      // exchange and no sort runs (r17, guide §2.3/§4). `~label`
      // (= -label - 1) reverses the order of EVERY long; `-label` did
      // not, since -Long.MinValue overflows back to Long.MinValue.
      val fresh = edges
        .join(lab(labels.select(col("node").as("src"), col("label"))), "src")
        .groupBy(col("dst"), col("label")).agg(sum(col("w")).as("sw"))
        .groupBy(col("dst"))
        .agg(max(struct(col("sw"), bitwise_not(col("label")).as("nl")))
          .as("best"))
        .select(col("dst"), bitwise_not(col("best.nl")).as("label"))
        .join(lab(labels.select(col("node").as("dst"))), Seq("dst"), "left_anti")
        .select(col("dst").as("node"), col("label"),
          lit(r.toLong).as("round"))
      labels = labels.unionByName(fresh).localCheckpoint()
    }
    labels
  }

  /** Both-direction edges from a (c, s, w) pair aggregate — the unit
    * the streaming edge store accumulates. */
  def edgesFromPairs(pairs: DataFrame): DataFrame =
    pairs.select(concat(lit("c:"), col("c")).as("src"),
        concat(lit("s:"), col("s")).as("dst"), col("w"))
      .unionAll(pairs.select(concat(lit("s:"), col("s")).as("src"),
        concat(lit("c:"), col("c")).as("dst"), col("w")))

  /** Nation-label seeds for customers below `seedMax`. */
  def nationSeeds(customer: DataFrame, seedMax: Long = 30): DataFrame =
    customer.filter(col("c_custkey") < seedMax)
      .select(concat(lit("c:"), col("c_custkey")).as("node"),
        col("c_nationkey").cast("long").as("label"),
        lit(0L).as("round"))

  def labelPropagation(orders: DataFrame, lineitem: DataFrame,
                       customer: DataFrame, seedMax: Long = 30,
                       iters: Int = 3,
                       broadcastMaxNodes: Long =
                         PageRank.DefaultBroadcastMaxNodes): DataFrame = {
    val edges = edgesOf(orders, lineitem)
    // |V| from the materialized edge table — one bounded count, the
    // PageRank gate applied to the label table (labels ≤ |V| rows)
    val n = edges.select(col("dst")).distinct().count()
    labelsFromEdges(edges, nationSeeds(customer, seedMax), iters,
      broadcastLabels = n <= broadcastMaxNodes)
  }

  /** DuckDB twin: the rounds unrolled as CTE pairs (candidate argmax,
    * then the fill-only union) — the [[PageRank.supplierRankSql]]
    * unrolling pattern with a window argmax per round. */
  def labelPropagationSql(seedMax: Long = 30, iters: Int = 3): String = {
    val rounds = (1 to iters).map { r =>
      s"""n$r AS (
         |  SELECT node, label, CAST($r AS BIGINT) AS round FROM (
         |    SELECT e.dst AS node, l.label, sum(e.w) AS sw,
         |           row_number() OVER (PARTITION BY e.dst
         |             ORDER BY sum(e.w) DESC, l.label) AS rn
         |    FROM edges e JOIN l${r - 1} l ON e.src = l.node
         |    WHERE NOT EXISTS (SELECT 1 FROM l${r - 1} x WHERE x.node = e.dst)
         |    GROUP BY e.dst, l.label) WHERE rn = 1),
         |l$r AS (SELECT * FROM l${r - 1} UNION ALL SELECT * FROM n$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT o_custkey AS c, l_suppkey AS s, count(*) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT 'c:' || c AS src, 's:' || s AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT 's:' || s, 'c:' || c, w FROM pairs),
       |l0 AS (
       |  SELECT 'c:' || c_custkey AS node,
       |         CAST(c_nationkey AS BIGINT) AS label,
       |         CAST(0 AS BIGINT) AS round
       |  FROM customer WHERE c_custkey < $seedMax),
       |$rounds
       |SELECT node, label, round FROM l$iters""".stripMargin
  }
}
