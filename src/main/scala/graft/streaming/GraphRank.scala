package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.PageRank

/** Streaming leg of the graph family: PageRank refreshed on edge-delta
  * arrival, with the same idempotence discipline as the storage sink
  * and the incremental indexes.
  *
  * The insight that makes this exact rather than approximate: the
  * graph's edge weights are COUNTS — a monoid. Each micro-batch
  * aggregates only its own (customer, supplier) pairs into a delta
  * ([[PageRank.weightedPairs]] over the batch), the delta lands in its
  * own `batch_id=` partition with overwrite semantics (a crash-replayed
  * batch rewrites exactly its own partition — the
  * [[Pipelines.writeStorageBatch]] contract), and the refresh sums the
  * partitions per pair. Summed deltas equal the batch aggregate over
  * the cumulative raw stream exactly, so the refreshed ranks are
  * BIT-EQUAL to [[PageRank.supplierRank]] run on everything seen so far
  * (spec-asserted) — no raw-event reprocessing, no drift between the
  * streaming and batch answers.
  *
  * Scale shape: per batch the new work is O(batch) (the delta
  * aggregate) plus a rank recompute over the ACCUMULATED edge
  * aggregate — pair-count-sized, not raw-stream-sized, the same
  * pair table every batch PageRank run reads. The rank iteration
  * itself keeps [[PageRank.iterate]]'s hybrid broadcast/shuffle gate.
  * Delta partitions accumulate one per batch; fold them into a single
  * `batch_id=-1` part with [[compactEdgeState]] (the
  * [[Pipelines.compactStorageDate]] move) when the directory count,
  * not the byte count, becomes the read bottleneck.
  */
object GraphRank {

  /** One micro-batch of raw (order, lineitem-ish) pair events →
    * this batch's (c, s, w) edge-weight delta, written to its own
    * batch_id partition. Replay-idempotent by partition overwrite. */
  def writeEdgeDelta(batchPairs: DataFrame, batchId: Long,
                     statePath: String): Unit =
    Stores.writeBatch(batchPairs
      .groupBy(col("c"), col("s")).agg(count(lit(1)).as("w")),
      batchId, statePath)

  /** The accumulated edge aggregate: per-pair sum over every delta
    * partition — equal to [[PageRank.weightedPairs]] over the full
    * history because counts are associative. */
  def edgeState(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("c"), col("s")).agg(sum(col("w")).as("w"))

  /** Fold all delta partitions into a single batch_id=-1 part.
    * Idempotent (re-running rewrites the same content); run it only
    * for quiesced state a replay can't touch, like date compaction. */
  def compactEdgeState(spark: SparkSession, statePath: String): Unit = {
    val folded = edgeState(spark, statePath)
      .withColumn("batch_id", lit(-1L))
      .localCheckpoint() // materialize BEFORE overwriting the input dirs
    folded.write.mode("overwrite").partitionBy("batch_id").parquet(statePath)
  }

  /** Ranks over everything seen so far — [[PageRank.rankFromPairs]] on
    * the accumulated aggregate, so bit-equal to the batch engine. */
  def refreshRanks(spark: SparkSession, statePath: String,
                   iters: Int = 5): DataFrame =
    PageRank.rankFromPairs(edgeState(spark, statePath), iters)

  /** Label spread over everything seen so far — the same monoid
    * argument as [[refreshRanks]]: summed per-batch edge deltas equal
    * the batch pair aggregate, and
    * [[graft.operators.LabelProp.labelsFromEdges]] is a pure function
    * of (edges, seeds), so the streaming labels are bit-equal to the
    * batch operator on the cumulative stream (spec-asserted). The
    * aggregate is materialized once per refresh so the per-round edge
    * scan reads a checkpoint, not the delta partitions re-grouped. */
  def refreshLabels(spark: SparkSession, statePath: String,
                    seeds: DataFrame, iters: Int = 3): DataFrame = {
    val edges = graft.operators.LabelProp.edgesFromPairs(
      edgeState(spark, statePath)).localCheckpoint()
    // |V| gate from the materialized edge table — the same measured
    // broadcast-vs-shuffle decision the batch labelPropagation applies
    // (r17, ADVICE: the edge store grows without bound across batches,
    // so an unconditional label broadcast is exactly the ungated
    // node-table broadcast the PageRank soak measured dying at scale)
    val n = edges.select(col("dst")).distinct().count()
    graft.operators.LabelProp.labelsFromEdges(edges, seeds, iters,
      broadcastLabels =
        n <= graft.operators.PageRank.DefaultBroadcastMaxNodes)
  }

  /** The wired pipeline: a stream of (c, s) pair events; each batch
    * writes its delta then overwrites the rank snapshot at `ranksPath`
    * (snapshot overwrite is idempotent under replay by construction —
    * same state in, same parquet out). */
  def start(pairEvents: DataFrame, statePath: String, ranksPath: String,
            checkpoint: String, iters: Int = 5): StreamingQuery = {
    val spark = pairEvents.sparkSession
    pairEvents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeEdgeDelta(batch, batchId, statePath)
        refreshRanks(spark, statePath, iters)
          .write.mode("overwrite").parquet(ranksPath)
      }
      .start()
  }
}
