package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.dedup.Clusters

/** Streaming leg of the duplicate-cluster family: the cluster label
  * store refreshed on pair-delta arrival — [[GraphRank]]'s
  * edge-delta discipline applied to connected components. The
  * ingestion pipeline defers cross-shard near-dup pairs by design
  * (emitted survivors never retract;
  * [[CurateIngest.crossShardNearDups]] is the detection read); this
  * operator closes the loop by maintaining the would-have-merged
  * clusters as a live read model, without re-curating or re-running
  * CC over the accumulated pair history.
  *
  * Unlike [[GraphRank]] (whose refresh re-runs the batch operator
  * over the summed edge state — exact because counts are a monoid),
  * the refresh here is INCREMENTAL: each batch folds only its own
  * pairs into the previous label snapshot via
  * [[Clusters.refreshClusters]] — the CC iteration runs on the
  * delta-contracted root graph, never the accumulated edges. The
  * contraction identity makes this bit-equal to batch CC over every
  * pair seen so far (spec-asserted, and oracle-pinned through
  * q_incr_clusters).
  *
  * Replay discipline: per-batch label SNAPSHOTS, each in its own
  * `batch_id=` partition with overwrite semantics. Batch b reads the
  * snapshot of the latest batch < b, so a crash-replayed batch sees
  * exactly the state it saw the first time and rewrites exactly its
  * own partition ([[StoreLayout.state]]'s pre-batch contract). The snapshot
  * table is pair-graph-node-sized — docs that appear in at least one
  * candidate pair — not corpus-sized. Old snapshots are
  * superseded-and-droppable; [[compactSnapshots]] keeps the latest. */
object ClusterRefresh {

  private val pairSchema = StructType(Seq(
    StructField("a_id", LongType), StructField("b_id", LongType),
    StructField("batch_id", LongType)))
  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType),
    StructField("batch_id", LongType)))

  private def readStore(spark: SparkSession, path: String,
                        schema: StructType): DataFrame =
    Stores.readStore(spark, path, schema)

  /** This batch's pair delta, canonicalized, in its own partition —
    * the audit/rebuild trail (the refresh itself never re-reads it). */
  def writePairDelta(batchPairs: DataFrame, batchId: Long,
                     pairsPath: String): Unit =
    Stores.writeBatch(batchPairs
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id")).distinct(), batchId, pairsPath)

  /** The accumulated pair-delta trail through the pinned schema — the
    * schema-safe read path for the audit/rebuild uses the deltas
    * advertise: replaying `Clusters.connectedComponents` over
    * `pairState(...).drop("batch_id")` rebuilds the latest label
    * snapshot from scratch (ClusterRefreshSpec pins the equality).
    * Same empty-store discipline as every other store reader. */
  def pairState(spark: SparkSession, pairsPath: String): DataFrame =
    readStore(spark, pairsPath, pairSchema)

  /** The label snapshot as of strictly before `batch`: the single
    * latest snapshot partition below it (one metadata max + one
    * partition-pruned read, not a scan over history). */
  def labelState(spark: SparkSession, labelsPath: String,
                 beforeBatch: Long): DataFrame = {
    val store = readStore(spark, labelsPath, labelSchema)
    val mx = store.filter(col("batch_id") < beforeBatch)
      .agg(max(col("batch_id"))).head()
    if (mx.isNullAt(0))
      store.filter(lit(false)).select(col("doc_id"), col("cluster_id"))
    else store.filter(col("batch_id") === mx.getLong(0))
      .select(col("doc_id"), col("cluster_id"))
  }

  /** The current cluster read model. */
  def latestLabels(spark: SparkSession, labelsPath: String): DataFrame =
    labelState(spark, labelsPath, Long.MaxValue)

  /** One micro-batch: fold the batch's pairs into the pre-batch
    * snapshot, write the refreshed snapshot as partition `batchId`. */
  def refreshBatch(batchPairs: DataFrame, batchId: Long,
                   pairsPath: String, labelsPath: String): Unit = {
    val spark = batchPairs.sparkSession
    writePairDelta(batchPairs, batchId, pairsPath)
    Stores.writeBatch(Clusters.refreshClusters(
        labelState(spark, labelsPath, batchId),
        batchPairs.select(col("a_id"), col("b_id"))), batchId, labelsPath)
  }

  /** Drop snapshots superseded by the latest one strictly below
    * `upToBatch` — pure retention (each snapshot is complete), same
    * write-nothing/delete-old safety as every compaction here: the
    * kept partition is never rewritten, so any interim crash state
    * still serves reads. */
  def compactSnapshots(spark: SparkSession, labelsPath: String,
                       upToBatch: Long): Unit = {
    val parts = Stores.batchPartitions(spark, labelsPath, upToBatch)
    if (parts.nonEmpty) {
      // each snapshot is complete: keep only the latest below the cut
      val fs = parts.head._2
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      parts.init.foreach { case (_, dir) => fs.delete(dir, true) }
    }
  }

  /** The wired pipeline: a stream of (a_id, b_id) pair events —
    * e.g. [[CurateIngest.crossShardNearDups]] output landed on a
    * topic — maintaining the incremental cluster store. */
  def start(pairEvents: DataFrame, pairsPath: String, labelsPath: String,
            checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    pairEvents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        refreshBatch(batch, batchId, pairsPath, labelsPath)
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0)
            compactSnapshots(batch.sparkSession, labelsPath,
              upToBatch = batchId)
        }
      }
      .start()
}
