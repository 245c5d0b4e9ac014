package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.SparseIndex

/** The deployed ingestion topology as ONE stream — the shape a real
  * corpus pipeline runs in production: every maintained read model
  * (curated corpus, duplicate-cluster labels, quality-classifier
  * counts, BM25 postings) consumes the SAME micro-batches, so a crash
  * hits all stores at once and recovery must bring every one of them
  * back to its batch twin together. Each leg is individually
  * recovery-proven (CurateStreamSpec, ClustersSpec, CorpusOpsSpec,
  * SparseIndexSpec); this object is the composition, and
  * CombinedIngestSpec kills the whole topology mid-stream and asserts
  * the restarted run is store-for-store equal to an uninterrupted one.
  *
  * Store layout under `root`:
  * {{{
  *   fps/ sigs/ kept/          — strict curation (CurateIngest)
  *   pairs/ labels/            — cluster refresh (ClusterRefresh)
  *   counts/ dstats/           — quality model   (QualityRefresh)
  *   postings/                 — BM25 index      (SparseIndex store)
  *   drift/                    — monitoring      (DriftMonitor)
  * }}}
  *
  * Replay discipline: every leg writes only `batch_id = B` partitions
  * (dynamic overwrite) from reads pinned strictly below B, so the one
  * batch foreachBatch can replay rewrites exactly its own state in
  * every store — the [[CurateIngest]] contract, inherited wholesale.
  * The cluster leg's pairs come from the STORE-PROBING detection
  * ([[CurateIngest.crossShardNearDupsFromSigs]] over history sigs ×
  * the batch's own sig rows, plus the batch's self-probe for
  * intra-batch pairs): detection tokenizes nothing, and the pair
  * trail doubles as the labels store's rebuild path.
  *
  * Compaction tick: every `compactEvery` batches ALL stores compact in
  * the same foreachBatch — ingestion stores and postings fold per the
  * [[StoreLayout]] (a clustered partition, or their bucket tables),
  * counts fold under the folded_hi watermark, superseded label
  * snapshots drop — so the combined tree stays bounded at
  * O(compactEvery) partitions per store, the single-leg contract
  * preserved under composition.
  *
  * Under [[StoreLayout.Bucketed]] (the 100 TB deployment shape) every
  * per-shard store join reads a metastore bucket table on its exact join
  * keys (`fingerprint`, `(band, bkey)`, `doc_id`, `token`) with no
  * store-side exchange (plan-asserted in CombinedIngestSpec), and the
  * cluster leg's detection probes the bucketed signature table the same
  * way — table side bucket-aligned, recent-delta side broadcast-sized. */
object CombinedIngest {

  /** The searchable BM25 read model over everything kept so far: the
    * postings inventory (deduped, absorbing the compaction crash window)
    * + the kept store as the doc inventory. */
  def bm25Index(spark: SparkSession, root: String,
                layout: StoreLayout = StoreLayout.Flat): SparseIndex.Index =
    SparseIndex.fromStore(layout.inventory(spark, Store.Postings, root),
      layout.inventory(spark, Store.Kept, root).select(col("doc_id")))

  /** The curation-gate frame for one batch: the heuristic gate over
    * the shared signals, optionally intersected with the Gopher
    * repetition gate ([[CurateIngest.gateShardGopher]]'s rule — the
    * Dolma/FineWeb stack on the stream). With the gate on, the
    * repetition signals derive from the SHARED positional frame
    * (`repBase` — [[graft.text.Repetition.positionalBase]], the same
    * pinned scan the tf frame exploded from: one tokenization even
    * with the gate on), restricted to the heuristic-gate SURVIVORS so
    * the narrow fold's per-doc gram sort/fold CPU (the signals are a
    * zero-shuffle projection since r13) never pays for docs the
    * quality/language gate already rejected (the intersection is
    * unchanged — gopher only ever removes docs from the
    * heuristic-gate set).
    *
    * `gopherQualityStops = Some(stopList)` additionally gates on the
    * NON-repetition Gopher Table A1 rules
    * ([[graft.text.GopherQuality]]) — shape heuristics riding the SAME
    * positional frame (zero extra scans, zero shuffle: the signals are
    * per-doc array arithmetic), restricted to heuristic-gate survivors
    * like the repetition leg. The stop list is the one per-corpus knob
    * (GopherQuality.DefaultStopWords is the published set). */
  private def gateOf(signals: DataFrame, repBase: Option[DataFrame],
                     minQualityPm: Long, langs: Seq[String],
                     gopherGate: Boolean,
                     gopherQualityStops: Option[Seq[String]]): DataFrame = {
    val base = CurateIngest.gateFromSignals(signals, minQualityPm, langs)
    def survivors: DataFrame = repBase.get
      .join(base.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val afterRep =
      if (!gopherGate) base
      else base.join(graft.text.Repetition.signalsFromBase(survivors)
          .filter(col("gopher_pass") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    gopherQualityStops.fold(afterRep) { stops =>
      afterRep.join(
        graft.text.GopherQuality.qualitySignalsFromBase(survivors, stops)
          .filter(col("gopher_quality_pass") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    }
  }

  /** The batch's shared frames: with the Gopher gate OFF the single
    * scan is the tf tokenization itself; with it ON the single scan is
    * the pinned POSITIONAL frame (ws/lines/paras), from which both the
    * tf frame and the repetition n-gram explode derive.
    *
    * The positional frame is pinned with `localCheckpoint` (row
    * objects), not the columnar cache — a verdict that has FLIPPED
    * once: the r12 `combinedgopher` A/B chose `persist` when the
    * repetition leg was the exploded relational form (columnar 32.0 vs
    * lchk 34.3 s/batch), but under the r14 native run-stats leg the same
    * A/B measures lchk 9.57 vs columnar 14.88 s/batch — rebuilding
    * 600-element string arrays from the compressed columnar cache per
    * row costs more than the row-object pin, because the consumers got
    * ~10× cheaper and the cache READ became the bottleneck (SCALING.md
    * r14 `combinedgopher`). The frame is micro-batch-sized
    * (trigger-bounded), so the row-object pin is not a memory hazard. */
  private def sharedFrames(batch: DataFrame, gopherGate: Boolean)
      : (DataFrame, Option[DataFrame]) =
    if (!gopherGate)
      (SparseIndex.postingsOf(batch.select(col("doc_id"), col("text")))
        .localCheckpoint(), None)
    else {
      // forceSpread: the micro-batch path is where non-empty-partition
      // skew was actually observed (a range-contiguous shard arriving
      // as 4/32 non-empty partitions — the partition-COUNT gate can't
      // see it — measured ~1.9× the fold wall and ~4× through the
      // cache build + narrow legs; SCALING.md r14 "repdiag4: the
      // positional-frame skew table").
      // The batch is trigger-bounded, so the exchange is micro-batch-
      // sized; batch entry points keep the upward-only gate.
      val pb = graft.text.Repetition.positionalBase(batch,
        forceSpread = true).localCheckpoint()
      (SparseIndex.postingsFromBase(pb).localCheckpoint(), Some(pb))
    }

  /** One micro-batch through all five legs (+ the compaction tick).
    *
    * The batch is tokenized ONCE: the `(doc_id, token, tf, dl)` frame
    * ([[SparseIndex.postingsOf]]) plus the per-doc gate signals derived
    * from it ([[graft.text.TextAnalysis.docSignals]]) feed the curation
    * gate, the classifier counts AND the postings — the three legs that
    * each used to re-scan the batch's text (measured per-batch delta in
    * SCALING.md). The only remaining text pass is the strict leg's
    * shingle/MinHash signature of post-gate survivors, which is the
    * signature store's write unit, not a tokenization.
    *
    * `anonymize` masks the batch BEFORE the shared tokenization
    * ([[Funnel.anonymized]], Dolma ordering), so every derived artifact
    * — postings tokens, signatures, fingerprints, kept text, drift rows
    * — sees masked text and no persisted store ever holds a raw
    * email/IP/phone. */
  def processBatch(batch: DataFrame, batchId: Long, root: String,
                   layout: StoreLayout = StoreLayout.Flat,
                   minQualityPm: Long = 600,
                   langs: Seq[String] = Seq("en", "de"),
                   minEstJaccard: Double = 0.5,
                   compactEvery: Option[Long] = None,
                   sigRetentionBatches: Option[Long] = None,
                   gopherGate: Boolean = false,
                   gopherQualityStops: Option[Seq[String]] = None,
                   anonymize: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val b = Funnel.anonymized(batch, anonymize)
    // THE one tokenization of this batch, pinned; every leg derives
    val (tokens, repBase) =
      sharedFrames(b, gopherGate || gopherQualityStops.nonEmpty)
    val signals = graft.text.TextAnalysis.docSignals(b, tokens)
      .localCheckpoint()
    // leg 1 — strict curation: fps/sigs/kept land in partition batchId
    val gated = gateOf(signals, repBase, minQualityPm, langs, gopherGate,
      gopherQualityStops)
    CurateIngest.writeShard(b, batchId, root,
      Funnel.strict(_ => gated, minEstJaccard), layout)
    // leg 2 — cluster refresh over this batch's near-dup pairs:
    // history signatures (strictly pre-batch: each side of the layout)
    // probed against the batch's own just-written sig partition, UNION
    // the batch's self-probe — a self-probe IS minhashCandidates over
    // the batch ([[CurateIngest.deferredClusters]]'s contract), and
    // without it an intra-batch pair (A≈B arriving together; dropsBest
    // silently drops one) would never reach the pairs/labels stores, so
    // a later chain through the dropped doc would under-merge. All reads
    // are deterministic under replay.
    val sigBatch = Store.Sig.batch(spark, root, batchId)
    val history = layout.state(spark, Store.Sig, root, batchId)
    val pairs = (history.compact +: history.delta.toSeq :+ sigBatch)
      .map(CurateIngest.crossShardNearDupsFromSigs(_, sigBatch, minEstJaccard))
      .reduce(_ unionByName _)
      .select(col("a_id"), col("b_id")).distinct()
    ClusterRefresh.refreshBatch(pairs, batchId, s"$root/pairs",
      s"$root/labels")
    // leg 3 — quality-classifier sufficient statistics, from the
    // shared token frame (no re-tokenize, no re-score)
    val (cls, dstats) = graft.text.QualityModel.classCountsFromTokens(
      tokens, signals, minQualityPm)
    QualityRefresh.writeCountsDeltaFrom(cls, dstats, batchId,
      s"$root/counts", s"$root/dstats")
    // leg 5 — drift monitoring: language-mix + deployed-model
    // score-decile counts, riding the shared signals (sketch binning,
    // no global sort; the PSI alert reads run over the store alone)
    DriftMonitor.writeDriftDelta(b, tokens, signals, batchId,
      s"$root/drift", s"$root/counts", s"$root/dstats", minQualityPm)
    // leg 4 — BM25 postings of the batch's KEPT docs: the shared frame
    // restricted to the survivors (tf/dl are per-doc, so the
    // restriction equals tokenizing only the kept docs)
    Stores.writeBatch(tokens.join(
        Store.Kept.batch(spark, root, batchId).select(col("doc_id")),
        Seq("doc_id")),
      batchId, Store.Postings.path(root))
    // compaction tick — every store together
    if (layout.tick(spark, root,
        Seq(Store.Fp, Store.Kept, Store.Sig, Store.Postings), batchId,
        compactEvery, sigRetentionBatches)) {
      QualityRefresh.compactCounts(spark, s"$root/counts",
        s"$root/dstats", upToBatch = batchId)
      ClusterRefresh.compactSnapshots(spark, s"$root/labels",
        upToBatch = batchId)
    }
  }

  /** The wired topology. */
  def start(docStream: DataFrame, root: String, checkpoint: String,
            layout: StoreLayout = StoreLayout.Flat,
            minQualityPm: Long = 600,
            langs: Seq[String] = Seq("en", "de"),
            minEstJaccard: Double = 0.5,
            compactEvery: Option[Long] = None,
            sigRetentionBatches: Option[Long] = None,
            gopherGate: Boolean = false,
            gopherQualityStops: Option[Seq[String]] = None,
            anonymize: Boolean = false): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, root, layout, minQualityPm, langs,
          minEstJaccard, compactEvery, sigRetentionBatches, gopherGate,
          gopherQualityStops, anonymize)
      }
      .start()
}
