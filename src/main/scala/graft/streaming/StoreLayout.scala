package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One of the ingest family's `batch_id`-partitioned stores: its
  * directory under an ingest root, its bucket-table suffix, its data
  * columns, the keys its compacted form clusters (flat) or buckets
  * (metastore table) on, and the row key its inventory read and
  * compaction deduplicate on (empty = the whole row). */
sealed abstract class Store(val dir: String, val table: String,
                            val schema: StructType, val keys: Seq[String],
                            val rowKey: Seq[String] = Nil,
                            val flatFiles: Int = 32) {
  /** Columns of the compacted form (table or `batch_id=-1` partition). */
  def compactedSchema: StructType = schema
  def onDisk: StructType = compactedSchema.add("batch_id", LongType)
  def path(root: String): String = s"$root/$dir"
  /** An empty store as a `LocalRelation`, so a join against it folds
    * away (PropagateEmptyRelation) instead of planning a scan. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  /** One batch's own rows (its single partition). */
  def batch(spark: SparkSession, root: String, batchId: Long): DataFrame =
    data(Stores.readStore(spark, path(root), onDisk)
      .filter(col("batch_id") === batchId))
  private[streaming] def dedupe(df: DataFrame): DataFrame =
    if (rowKey.isEmpty) df.distinct() else df.dropDuplicates(rowKey)
  private[streaming] def data(df: DataFrame): DataFrame =
    df.select(schema.fieldNames.map(col).toSeq: _*)
}

object Store {
  private def longs(names: String*) = names.map(StructField(_, LongType))

  /** Novel 63-bit span-gram fingerprints (the scrub store). */
  case object Gram extends Store("grams", "gram",
    StructType(longs("gram")), Seq("gram"), flatFiles = 8)
  /** md5 fingerprints of every gated doc (the exact-dedup store). */
  case object Fp extends Store("fps", "fp",
    StructType(Seq(StructField("fingerprint", StringType))),
    Seq("fingerprint"))
  /** Banded MinHash rows of every post-exact doc, tombstones included
    * ([[CurateIngest.sigBands]]). */
  case object Sig extends Store("sigs", "sig",
    StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bkey", StringType)) ++
      longs((0 until graft.dedup.Dedup.numHashes).map(i => s"h$i"): _*)),
    Seq("band", "bkey")) {
    /** Compaction keeps each row's ORIGINAL batch as `src_batch` (the
      * partition column is overwritten) — what retention filters on. */
    override def compactedSchema: StructType = schema.add("src_batch", LongType)
  }
  /** Curated survivors. */
  case object Kept extends Store("kept", "kept",
    StructType(Seq(StructField("doc_id", LongType),
      StructField("lang_pred", StringType)) ++
      longs("quality_pm", "n_chars")),
    Seq("doc_id"), rowKey = Seq("doc_id"))
  /** BM25 postings of kept docs ([[CombinedIngest]]). */
  case object Postings extends Store("postings", "postings",
    StructType(Seq(StructField("doc_id", LongType),
      StructField("token", StringType), StructField("tf", LongType),
      StructField("dl", IntegerType))),
    Seq("token"), rowKey = Seq("doc_id", "token"))
}

/** A store's pre-batch state as the per-shard probes see it: the
  * compacted side, plus — under [[StoreLayout.Bucketed]] — the recent
  * `batch_id` deltas not yet folded into the bucket table. A flat store
  * has no delta side, so its probe plans are the single-join forms. */
final case class StoreSides(compact: DataFrame,
                            delta: Option[DataFrame] = None)

/** Where an ingest entry's stores live and how they fold — the one
  * parameter that used to be a `*Bucketed` twin of every reader,
  * writer and start. Batches always land as `batch_id=B` partitions
  * ([[Stores.writeBatch]]); the layout owns what differs: the
  * pre-batch state read, the inventory read, and the compaction tick.
  *
  * Replay contract (both layouts): only batches ≥ the last compaction
  * bound can replay, every state read selects `batch_id < B`, and
  * compaction is a set-semantics merge that never crosses its bound —
  * so a crash-replayed batch sees exactly the store it saw the first
  * time. Compaction writes before it deletes, and every read
  * deduplicates, so a crash between the two steps degrades to
  * duplicates a rerun collapses, never to loss. */
sealed trait StoreLayout {
  /** `store`'s state as of (strictly before) `beforeBatch`. */
  def state(spark: SparkSession, store: Store, root: String,
            beforeBatch: Long): StoreSides
  /** Everything `store` holds, one row per [[Store.rowKey]] (the kept
    * and postings read models). */
  def inventory(spark: SparkSession, store: Store, root: String): DataFrame
  /** Fold each store's partitions below `upToBatch`. `sigRetentionBatches
    * = Some(n)` drops signature rows (survivors and tombstones) whose
    * source batch is older than `upToBatch - n`, re-admitting near-copies
    * of docs last seen that long ago; fingerprints are always kept. */
  def compact(spark: SparkSession, root: String, stores: Seq[Store],
              upToBatch: Long, sigRetentionBatches: Option[Long] = None): Unit

  /** The compaction tick every `start` folds into its `foreachBatch`:
    * every n-th batch compacts everything STRICTLY BELOW itself — the
    * current batch is the only one foreachBatch can replay, and it is
    * never compacted while in flight. True when this batch compacted. */
  def tick(spark: SparkSession, root: String, stores: Seq[Store],
           batchId: Long, compactEvery: Option[Long],
           sigRetentionBatches: Option[Long] = None): Boolean = {
    val due = compactEvery.exists(n => batchId > 0 && batchId % n == 0)
    if (due) compact(spark, root, stores, batchId, sigRetentionBatches)
    due
  }

  /** `store`'s partitions below `upToBatch` (a `batch_id=-1` sentinel
    * included), data columns plus compaction provenance, retention
    * applied. */
  protected def deltas(spark: SparkSession, store: Store, root: String,
                       upToBatch: Long,
                       sigRetentionBatches: Option[Long]): DataFrame = {
    val old = Stores.readStore(spark, store.path(root), store.onDisk)
      .filter(col("batch_id") < upToBatch)
    if (store != Store.Sig) store.data(old)
    else {
      val withSrc = old.withColumn("src_batch",
        coalesce(col("src_batch"), col("batch_id"))).drop("batch_id")
      sigRetentionBatches.fold(withSrc)(n =>
        withSrc.filter(col("src_batch") >= upToBatch - n))
    }
  }
}

object StoreLayout {

  /** The compacted partition's id: strictly below every real batch id,
    * so `batch_id < beforeBatch` keeps including compacted rows in every
    * flat state read without special-casing. */
  val CompactedBatchId: Long = -1L

  /** Plain `batch_id` partitions; compaction folds them into one
    * clustered, sorted `batch_id=-1` partition (`Store.flatFiles` files
    * hash-clustered on [[Store.keys]]), so the per-shard store join
    * scans a few large sorted runs instead of O(shards) small files. */
  case object Flat extends StoreLayout {
    def state(spark: SparkSession, store: Store, root: String,
              beforeBatch: Long): StoreSides =
      StoreSides(store.data(
        Stores.readStore(spark, store.path(root), store.onDisk)
          .filter(col("batch_id") < beforeBatch)))

    def inventory(spark: SparkSession, store: Store,
                  root: String): DataFrame =
      store.dedupe(store.data(
        Stores.readStore(spark, store.path(root), store.onDisk)))

    def compact(spark: SparkSession, root: String, stores: Seq[Store],
                upToBatch: Long,
                sigRetentionBatches: Option[Long] = None): Unit =
      stores.foreach { s =>
        val folded = s.dedupe(
            deltas(spark, s, root, upToBatch, sigRetentionBatches))
          .repartition(s.flatFiles, s.keys.map(col): _*)
          .sortWithinPartitions(s.keys.map(col): _*)
          .localCheckpoint() // pin BEFORE overwriting a partition we read
        Stores.writeBatch(folded, CompactedBatchId, s.path(root))
        Stores.dropBatchPartitions(spark, s.path(root), upToBatch)
      }
  }

  /** Compacted state in metastore tables `<tablePrefix>_<store>`,
    * bucketed on [[Store.keys]] into `buckets` files, so every per-shard
    * store join reads the bucket layout with NO store-side exchange
    * (plan-asserted in the streaming specs); the recent deltas
    * (at most `compactEvery` shard-sized partitions) ride beside it.
    *
    * The gram store folds by APPEND, never rewriting the table: a
    * rewrite-the-world fold's tick cost grew linearly with the store
    * and spilled by the third tick (74 → 79 → 146 s, 62 GB — SCALING.md).
    * Appending is correct because novel grams are disjoint from
    * everything earlier by construction; appends leave several files per
    * bucket (hash layout kept, sortedness lost — hence the scrub's
    * shuffled-hash probe), and past `maxFilesPerBucket` files per bucket
    * the table is rewritten once into one file per bucket. */
  final case class Bucketed(tablePrefix: String, buckets: Int = 32,
                            maxFilesPerBucket: Int = 16)
      extends StoreLayout {

    def tableName(store: Store): String = s"${tablePrefix}_${store.table}"

    private def table(spark: SparkSession, store: Store): DataFrame =
      if (spark.catalog.tableExists(tableName(store))) spark.table(tableName(store))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], store.compactedSchema)

    /** These readers see {bucket table ∪ `batch_id >= 0` deltas} ONLY —
      * a flat-compaction `batch_id=-1` sentinel is invisible to them, so
      * opening a flat-compacted store here would silently lose its
      * folded state and re-admit its duplicates. Fail fast instead; the
      * migration is one [[compact]] run, which folds the sentinel into
      * the tables and deletes it. */
    private def requireMigrated(spark: SparkSession, store: Store,
                                root: String): Unit =
      require(!Stores.hasCompactedPartition(spark, store.path(root)),
        s"${store.path(root)} has a flat-compacted batch_id=-1 partition " +
          s"that the bucketed readers (tablePrefix=$tablePrefix) would not " +
          "see — run one bucketed compaction to migrate it into the " +
          "bucket tables before ingesting")

    private def recent(spark: SparkSession, store: Store, root: String,
                       beforeBatch: Long): DataFrame =
      store.data(Stores.readStore(spark, store.path(root), store.onDisk)
        .filter(col("batch_id") >= 0 && col("batch_id") < beforeBatch))

    def state(spark: SparkSession, store: Store, root: String,
              beforeBatch: Long): StoreSides = {
      requireMigrated(spark, store, root)
      StoreSides(store.data(table(spark, store)),
        Some(recent(spark, store, root, beforeBatch)))
    }

    def inventory(spark: SparkSession, store: Store,
                  root: String): DataFrame = {
      requireMigrated(spark, store, root)
      store.dedupe(store.data(table(spark, store))
        .unionByName(recent(spark, store, root, Long.MaxValue)))
    }

    def compact(spark: SparkSession, root: String, stores: Seq[Store],
                upToBatch: Long,
                sigRetentionBatches: Option[Long] = None): Unit =
      stores.foreach { s =>
        val old = deltas(spark, s, root, upToBatch, sigRetentionBatches)
        if (s == Store.Gram) {
          // partitions still on disk are exactly the un-folded ones;
          // distinct absorbs replay duplicates and sentinel overlap
          old.distinct()
            .repartition(buckets, s.keys.map(col): _*)
            .localCheckpoint() // pin BEFORE deleting partitions we read
            .write.mode("append")
            .bucketBy(buckets, s.keys.head, s.keys.tail: _*)
            .format("parquet").saveAsTable(tableName(s))
        } else {
          val all = s.dedupe(table(spark, s).unionByName(old))
          writeTable(sigRetentionBatches.filter(_ => s == Store.Sig)
            .fold(all)(n => all.filter(col("src_batch") >= upToBatch - n)), s)
        }
        Stores.dropBatchPartitions(spark, s.path(root), upToBatch)
        Stores.dropCompactedPartition(spark, s.path(root))
        if (s == Store.Gram &&
            tableDataFiles(spark, tableName(s)) >
              buckets.toLong * maxFilesPerBucket)
          writeTable(spark.table(tableName(s)).distinct(), s, sorted = false)
      }

    /** Overwrite `store`'s table with `df`: repartitioned on the bucket
      * keys first (Spark's bucket hash is the shuffle's Murmur3, so each
      * task holds exactly one bucket → one file per bucket) and pinned
      * BEFORE the table it may have been read from is overwritten. */
    private def writeTable(df: DataFrame, store: Store,
                           sorted: Boolean = true): Unit = {
      val ks = store.keys
      val parts = df.repartition(buckets, ks.map(col): _*)
      val w = (if (sorted) parts.sortWithinPartitions(ks.map(col): _*)
        else parts).localCheckpoint()
        .write.mode("overwrite").bucketBy(buckets, ks.head, ks.tail: _*)
      (if (sorted) w.sortBy(ks.head, ks.tail: _*) else w)
        .format("parquet").saveAsTable(tableName(store))
    }
  }

  /** Number of data files currently backing a metastore table (0 when
    * it does not exist yet — no tick has run). */
  private[graft] def tableDataFiles(spark: SparkSession,
                                    table: String): Long = {
    if (!spark.catalog.tableExists(table)) return 0L
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toLong
  }
}
