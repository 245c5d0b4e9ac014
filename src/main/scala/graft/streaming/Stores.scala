package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Shared read discipline for the batch_id-partitioned state stores
  * (fingerprints, signatures, kept docs, pair deltas, label
  * snapshots, classifier counts).
  *
  * Two hazards every store reader must handle identically:
  *  - a micro-batch whose rows all fail a gate writes only _SUCCESS,
  *    and schema inference over a file-less directory throws — which
  *    would kill the stream on the NEXT batch; the pinned schema makes
  *    an empty store read as an empty frame instead.
  *  - existence must resolve through Hadoop's FileSystem for the
  *    path's OWN scheme (hdfs://, s3a://, file:), never the driver's
  *    local filesystem — a remote store must be honored as existing,
  *    and a genuinely unreadable one must be an error, never silently
  *    an empty state. */
private[streaming] object Stores {

  def readStore(spark: SparkSession, path: String,
                schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(path)
  }

  /** Land `df` as the `batch_id = batchId` partition of `path` with
    * dynamic overwrite: every other partition is untouched and a
    * crash-replayed batch rewrites exactly its own partition — the
    * idempotence contract of every batch-partitioned store. */
  def writeBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** Batch-id partition directories of `path` with `0 <= id < upToBatch`
    * (non-numeric or sentinel dirs untouched), oldest first. */
  def batchPartitions(spark: SparkSession, path: String,
                      upToBatch: Long): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("batch_id="))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName.stripPrefix("batch_id=").toLong)
          .toOption.map(_ -> st.getPath)
      }
      .filter { case (b, _) => b >= 0 && b < upToBatch }
      .sortBy(_._1)
  }

  /** Delete every batch-id partition below `upToBatch` — the
    * post-compaction cleanup step shared by all compacting stores. */
  def dropBatchPartitions(spark: SparkSession, path: String,
                          upToBatch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchPartitions(spark, path, upToBatch)
      .foreach { case (_, dir) => fs.delete(dir, true) }
  }

  /** True when a plain-compaction `batch_id=-1` sentinel partition
    * exists under `path` — folded state the BUCKETED readers do not
    * see, so its presence under a bucketed pipeline means an
    * unmigrated store. */
  def hasCompactedPartition(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "batch_id=-1")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Delete the `batch_id=-1` sentinel partition (after its rows have
    * been folded into a bucket table). */
  def dropCompactedPartition(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "batch_id=-1")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
