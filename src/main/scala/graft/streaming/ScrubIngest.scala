package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming leg of span-level deduplication: the Lee et al. 2022
  * ExactSubstr scrub ([[graft.dedup.SpanScrub]]) run shard-at-a-time
  * against a persisted gram-fingerprint store — the byte-level sibling
  * of [[CurateIngest]]'s doc-level fingerprint/signature stores. Each
  * micro-batch:
  *
  *  1. probes the pre-batch gram store: every shard gram already
  *     present is a repeated span and is cut;
  *  2. cuts within-shard later occurrences of novel grams (shard-sized
  *     first-occurrence window — the corpus-scale sort the batch form
  *     pays never happens here);
  *  3. appends the shard's novel first-occurrence grams to the store
  *     and the scrubbed survivor texts to the output store, each into
  *     their own `batch_id` partition (dynamic overwrite → replay
  *     idempotent, the [[CurateIngest.writeShard]] discipline).
  *
  * The reference has no incremental byte-level dedup (its dedup surface
  * is whole-event; `services/processing/src/jobs/base_job.py` shows the
  * per-job stream shape this store pattern generalizes); this leg exists
  * for the 100 TB curation mandate: a corpus that arrives shard-by-shard
  * never re-scrubs history, and the store — one 8-byte row per distinct
  * corpus gram, the engine's largest store by construction — compacts
  * to a gram-clustered layout ([[StoreLayout]]; under
  * [[StoreLayout.Bucketed]] a gram-bucketed table folded by append) so
  * the per-shard probe join is the only corpus-scale contact and only
  * the arriving shard shuffles.
  *
  * Equality contract (spec-pinned): with shards arriving in doc_id
  * order, the streamed output equals [[graft.dedup.SpanScrub.incrScrub]]
  * equals the flat batch [[graft.dedup.SpanScrub.spanScrub]] —
  * q_scrub_incr hash-matches the loop against the exact-substring
  * DuckDB oracle, so both incrementality and fp-collision-freedom are
  * checked facts.
  */
object ScrubIngest {

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_cut_spans", IntegerType),
    StructField("cut_chars", LongType),
    StructField("text_clean", StringType),
    StructField("batch_id", LongType)))

  /** Scrubbed documents accumulated so far (`<root>/out`). */
  def scrubbedState(spark: SparkSession, root: String): DataFrame =
    Stores.readStore(spark, s"$root/out", outSchema).drop("batch_id")

  /** One micro-batch: scrub against the pre-batch gram store, then
    * write the novel grams and the scrubbed docs each into their own
    * batch_id partition. Both outputs root at the scrub's pinned store
    * probe, and the gram read stops strictly below the batch, so neither
    * can observe its own append; a crash-replay rewrites both partitions
    * with identical content. */
  def writeShard(batch: DataFrame, batchId: Long, root: String,
                 layout: StoreLayout = StoreLayout.Flat,
                 k: Int = 40): Unit = {
    val (scrubbed, novel) = Funnel.scrub(batch.select(col("doc_id"), col("text")),
      layout.state(batch.sparkSession, Store.Gram, root, batchId), k)
    Stores.writeBatch(novel, batchId, Store.Gram.path(root))
    Stores.writeBatch(scrubbed, batchId, s"$root/out")
  }

  /** The wired pipeline: a document stream span-scrubbed
    * shard-at-a-time, the gram store under `root` in `layout`, folded
    * every `compactEvery` batches ([[StoreLayout.tick]]). The output
    * store is append-only per batch and needs no folding. */
  def start(docStream: DataFrame, root: String, checkpoint: String,
            layout: StoreLayout = StoreLayout.Flat, k: Int = 40,
            compactEvery: Option[Long] = None): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeShard(batch, batchId, root, layout, k)
        layout.tick(batch.sparkSession, root, Seq(Store.Gram), batchId,
          compactEvery)
        ()
      }
      .start()
}
