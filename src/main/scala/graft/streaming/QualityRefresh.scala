package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.text.QualityModel

/** Streaming leg of the model-based quality filter: the Naive Bayes
  * count store refreshed on shard arrival — [[GraphRank]]'s monoid
  * edge-delta discipline applied to [[QualityModel]]'s sufficient
  * statistics. Per-token class counts and per-class doc counts are
  * monoids under +, so summed per-batch deltas equal the batch
  * statistics over everything seen, and the refreshed model is
  * BIT-EQUAL to [[QualityModel.nbQuality]]'s trained on the
  * cumulative corpus (spec-asserted) — the filter retrains as the
  * corpus ingests, with no raw-text reprocessing.
  *
  * Replay discipline: each batch's count deltas land in their own
  * `batch_id=` partition with overwrite semantics (crash-replay
  * rewrites exactly its own state); the model read model is derived,
  * never stored, so it is always consistent with the counts. */
object QualityRefresh {

  /** `folded_hi` is the compaction provenance column: null in delta
    * partitions, and in the compacted `batch_id=-1` partition the
    * EXCLUSIVE upper bound of the batch ids folded into it. Sum
    * semantics cannot absorb duplicate partitions the way the ingest
    * stores' distinct-semantics reads do, so every reader derives the
    * compacted-through watermark from it and self-excludes delta
    * partitions below the watermark — a crash between the fold write
    * and the source-partition delete leaves already-folded deltas on
    * disk, and they must never be summed a second time. */
  private val countsSchema = StructType(Seq(
    StructField("token", StringType), StructField("pc", LongType),
    StructField("nc", LongType), StructField("folded_hi", LongType),
    StructField("batch_id", LongType)))
  private val dstatsSchema = StructType(Seq(
    StructField("p_docs", LongType), StructField("n_docs", LongType),
    StructField("folded_hi", LongType), StructField("batch_id", LongType)))

  private val CompactedId = -1L

  /** The store with stale (already-folded) delta partitions excluded:
    * the compacted partition plus deltas at or above its watermark.
    * This is the ONLY read path — [[modelState]] and [[compactCounts]]
    * both sum what it returns, so no crash state can double-count.
    * The watermark probe is a partition-pruned aggregate over the
    * single compacted partition (bounded driver action). */
  private def watermark(spark: SparkSession, path: String,
                        schema: StructType): Long =
    Stores.readStore(spark, path, schema)
      .filter(col("batch_id") === CompactedId)
      .agg(coalesce(max(col("folded_hi")), lit(0L))).head().getLong(0)

  private def liveStore(spark: SparkSession, path: String,
                        schema: StructType): DataFrame = {
    val all = Stores.readStore(spark, path, schema)
    val wm = watermark(spark, path, schema)
    all.filter(col("batch_id") === CompactedId || col("batch_id") >= wm)
  }

  /** One micro-batch's sufficient-statistic deltas, each in its own
    * batch_id partition. */
  def writeCountsDelta(batch: DataFrame, batchId: Long, countsPath: String,
                       dstatsPath: String,
                       minQualityPm: Long = 600): Unit = {
    val (cls, dstats) = QualityModel.classCounts(batch, minQualityPm)
    writeCountsDeltaFrom(cls, dstats, batchId, countsPath, dstatsPath)
  }

  /** [[writeCountsDelta]] from PRECOMPUTED sufficient statistics
    * ([[QualityModel.classCountsFromTokens]] over the combined
    * topology's shared token frame). */
  def writeCountsDeltaFrom(cls: DataFrame, dstats: DataFrame,
                           batchId: Long, countsPath: String,
                           dstatsPath: String): Unit = {
    Stores.writeBatch(cls.withColumn("folded_hi", lit(null).cast(LongType)),
      batchId, countsPath)
    Stores.writeBatch(dstats.withColumn("folded_hi", lit(null).cast(LongType)),
      batchId, dstatsPath)
  }

  /** The model over everything seen so far: per-token sums across all
    * delta partitions (the monoid merge), then the exact
    * [[QualityModel.modelFromCounts]] arithmetic. Returns the
    * broadcastable (token, w_u) table and the integer prior. */
  def modelState(spark: SparkSession, countsPath: String,
                 dstatsPath: String): (DataFrame, Long) =
    modelStateUpTo(spark, countsPath, dstatsPath, Long.MaxValue)

  /** The model over everything seen strictly BEFORE `beforeBatch` —
    * the DEPLOYED-model view batch `beforeBatch` is scored with
    * (pinned below the batch, so a crash-replayed batch scores with
    * the identical model; compaction folds only committed batches, so
    * a replayable batch's view never loses partitions it could see).
    * Returns an empty weight table before any counts exist. */
  def modelStateBefore(spark: SparkSession, countsPath: String,
                       dstatsPath: String,
                       beforeBatch: Long): (DataFrame, Long) =
    modelStateUpTo(spark, countsPath, dstatsPath, beforeBatch)

  private def modelStateUpTo(spark: SparkSession, countsPath: String,
                             dstatsPath: String,
                             beforeBatch: Long): (DataFrame, Long) = {
    def bounded(df: DataFrame): DataFrame =
      df.filter(col("batch_id") === CompactedId ||
        col("batch_id") < beforeBatch)
    val cls = bounded(liveStore(spark, countsPath, countsSchema))
      .groupBy(col("token"))
      .agg(sum(col("pc")).as("pc"), sum(col("nc")).as("nc"))
    val d = bounded(liveStore(spark, dstatsPath, dstatsSchema))
      .agg(coalesce(sum(col("p_docs")), lit(0L)).as("p"),
        coalesce(sum(col("n_docs")), lit(0L)).as("n")).head()
    QualityModel.modelFromCounts(cls, d.getLong(0), d.getLong(1))
  }

  /** The fold half of [[compactCounts]]: rewrite the `batch_id=-1`
    * partitions with the sums over {compacted ∪ live deltas <
    * upToBatch}, stamping `folded_hi = upToBatch`. Package-private so
    * the crash-window spec can stop exactly here. */
  private[graft] def foldCounts(spark: SparkSession, countsPath: String,
                                dstatsPath: String,
                                upToBatch: Long): Unit = {
    // The stamped watermark must be MONOTONE: a fold called with an
    // upToBatch below the current folded_hi would otherwise REGRESS
    // the watermark, after which liveStore re-admits stale
    // already-folded delta partitions left by a prior crash window and
    // the sums double-count — the exact failure folded_hi prevents.
    val upCnt = math.max(upToBatch,
      watermark(spark, countsPath, countsSchema))
    val cls = liveStore(spark, countsPath, countsSchema)
      .filter(col("batch_id") === CompactedId || col("batch_id") < upCnt)
      .groupBy(col("token"))
      .agg(sum(col("pc")).as("pc"), sum(col("nc")).as("nc"))
      .withColumn("folded_hi", lit(upCnt))
      .localCheckpoint() // pin BEFORE overwriting a partition we read
    Stores.writeBatch(cls, CompactedId, countsPath)
    val upD = math.max(upToBatch,
      watermark(spark, dstatsPath, dstatsSchema))
    val d = liveStore(spark, dstatsPath, dstatsSchema)
      .filter(col("batch_id") === CompactedId || col("batch_id") < upD)
      .agg(coalesce(sum(col("p_docs")), lit(0L)).as("p_docs"),
        coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"))
      .withColumn("folded_hi", lit(upD))
      .localCheckpoint()
    Stores.writeBatch(d, CompactedId, dstatsPath)
  }

  /** Fold the `batch_id < upToBatch` delta partitions into one
    * `batch_id=-1` partition — counts are monoids, so the sum-merge is
    * lossless and [[modelState]] reads the identical totals before and
    * after (spec-asserted). Same replay contract as
    * [[StoreLayout.compact]]: only batches ≥ upToBatch can
    * replay, and their reads select the same summed row set.
    *
    * Crash-safety differs from the set-semantics ingest stores, whose
    * reads absorb duplicate partitions for free: sums DOUBLE-COUNT, so
    * the fold carries provenance — the rewritten `-1` partition is
    * stamped `folded_hi = upToBatch`, and EVERY reader (via
    * [[liveStore]]) excludes delta partitions below that watermark. A
    * crash between the fold write and the delete therefore leaves
    * stale-but-ignored partitions, never a double count; re-running
    * compaction reads only {`-1` ∪ deltas ≥ watermark} and is
    * idempotent (spec-asserted by stopping inside the crash window). */
  def compactCounts(spark: SparkSession, countsPath: String,
                    dstatsPath: String, upToBatch: Long): Unit = {
    foldCounts(spark, countsPath, dstatsPath, upToBatch)
    Stores.dropBatchPartitions(spark, countsPath, upToBatch)
    Stores.dropBatchPartitions(spark, dstatsPath, upToBatch)
  }

  /** The wired pipeline: a document stream maintaining the count
    * stores; the model itself stays derived (read via [[modelState]],
    * applied via [[QualityModel.scoreWith]]). `compactEvery` bounds
    * the store tree at n+1 partitions ([[CurateIngest.start]]'s
    * contract). */
  def start(docStream: DataFrame, countsPath: String, dstatsPath: String,
            checkpoint: String, minQualityPm: Long = 600,
            compactEvery: Option[Long] = None): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCountsDelta(batch, batchId, countsPath, dstatsPath, minQualityPm)
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0)
            compactCounts(batch.sparkSession, countsPath, dstatsPath,
              upToBatch = batchId)
        }
      }
      .start()
}
