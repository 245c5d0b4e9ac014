package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The in-memory, id-ordered shard driver every incremental query loop
  * runs through (q_curate_incr, q_curate_strict, q_curate_full_incr*,
  * q_scrub_incr): shards are `doc_id` ranges of width `shardSize` below
  * `maxId`, each shard's step sees the stores accumulated from every
  * earlier shard, and the result is the union of the shards' survivor
  * tails — the loop form of the disk-backed `start` entries, whose
  * stores are `batch_id` partitions instead of in-memory unions.
  *
  * Shape (r17; the loops are measured job-latency-bound, ~50 jobs per
  * shard, not data-bound):
  *  - LAZY store accumulation: each store is a union of the shards'
  *    appends, never checkpointed. Every append is a cheap projection
  *    over a frame its shard already pins, and each store has exactly
  *    one duplicate-immune consumer per shard (gram: membership join;
  *    fp: anti-join; sig: banded collision probe), so a per-shard
  *    union-checkpoint was a pure barrier — dropping them removed 3 jobs
  *    and an await per shard. The price is plan depth: the union grows
  *    by one child per shard and Catalyst re-analyzes it every shard,
  *    which is why the shard count is bounded by [[MaxShards]]; the
  *    unbounded form is the disk-backed store, which reads a compacted
  *    table, not a union chain.
  *  - Bounded survivor tails: each shard's tail (near-dedup checkpoint,
  *    keep-best CC with its eager bounded driver actions, contamination)
  *    runs on [[graft.Engine.blockingPool]] while the loop moves on to
  *    the next shard's store-bound stages (guide §2.6). Before starting
  *    shard i+1 the loop awaits the tail of shard i-1, so at most 2 are
  *    in flight at any shard count.
  *  - Fail-fast: tails and the loop's own jobs form one
  *    [[graft.Engine.FanOut]] — the first failure cancels the rest and is
  *    rethrown at once, not at the terminal await.
  *
  * Not a ShardLoop (2026-10-19): [[graft.dedup.Clusters.incrClusters]]
  * stays a hand-driven fold. Its shards are candidate-PAIR ranges
  * (`greatest(a_id, b_id) div shardSize`), not `doc_id` ranges; each
  * step REPLACES the one label state rather than appending to stores
  * and emitting a survivor tail; and its result is the last state, not
  * a union of tails. Forcing it through [[run]] would need a store that
  * is overwritten and a tail that is discarded — a second loop shape
  * behind this one's signature (SCALING.md "q_incr_clusters stays a
  * fold"). */
object ShardLoop {

  /** Upper bound on shards per loop: the lazy store unions grow the plan
    * Catalyst re-analyzes per shard with the shard count. Every in-repo
    * caller runs 4 (5 at most from rounding). */
  val MaxShards: Int = 16

  def run(docs: DataFrame, shardSize: Long, maxId: Long, stores: Seq[Store])
         (step: (DataFrame, Int, Map[Store, StoreSides]) => ShardOut)
      : DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val nShards = ((maxId + shardSize - 1) / shardSize).toInt
    require(nShards <= MaxShards,
      s"$nShards shards (maxId=$maxId, shardSize=$shardSize) exceed " +
        s"ShardLoop.MaxShards=$MaxShards: the lazy store unions would grow " +
        "the plan past its bound — widen the shards, or ingest through the " +
        "disk-backed stores")
    val spark = docs.sparkSession
    val fan = new graft.Engine.FanOut(spark.sparkContext)
    fan.run {
      var acc = stores.map(s => s -> s.empty(spark)).toMap
      var tails = Vector.empty[scala.concurrent.Future[DataFrame]]
      for (i <- 0 until nShards) {
        fan.check()
        val shard = docs.filter(col("doc_id") >= i * shardSize &&
          col("doc_id") < (i + 1) * shardSize && col("doc_id") < maxId)
        val out = step(shard, i, acc.map { case (s, df) => s -> StoreSides(df) })
        tails :+= fan.submit(out.kept)
        if (tails.size >= 2) fan.await(tails(tails.size - 2))
        acc = acc.map { case (s, df) => s -> df.unionByName(out.appends(s)) }
      }
      tails.map(fan.await(_)).reduce(_ unionByName _)
    }
  }
}
