package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the training-data
  * extensions) appears in [[queries]]; each SQL-expressible one has a
  * DuckDB oracle in [[oracleSql]] with IDENTICAL output column names.
  * Window bounds are emitted as epoch-millis longs (not timestamps) so
  * the driver's value-hash compare is immune to parquet timestamp
  * logical-type differences between Spark and DuckDB.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventAggregator.aggregate(Tables.events(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity: the three streaming queries, batch-mode ---
    "q_event_agg" -> ((s, dir) =>
      EventAggregator.aggregate(Tables.events(s, dir))),
    "q_sessions" -> ((s, dir) =>
      SessionTracker.sessions(Tables.events(s, dir))),
    "q_perf" -> ((s, dir) =>
      PerformanceTracker.metrics(Tables.events(s, dir))),
    // --- projections / scalar expressions (SURVEY §2.2) ---
    "q_device_cat" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        Categorizer.categorize(col("event_type")).as("category"))),
    "q_json_props" -> ((s, dir) =>
      Scalars.jsonPropsAgg(Tables.events(s, dir))),
    "q_ts_coerce" -> ((s, dir) =>
      Scalars.tsCoercions(Tables.events(s, dir))),
    "q_filter_proj" -> ((s, dir) =>
      Scalars.filterProject(Tables.events(s, dir))),
    "q_validate" -> ((s, dir) =>
      Validator.validate(Tables.events(s, dir))),
    "q_type_sniff" -> ((s, dir) => // P14 int→float→string coercion ladder
      Scalars.typeSniff(Tables.events(s, dir))),
    // --- serving read models (SURVEY §2.7, A8/P13) ---
    "q_pivot_counts" -> ((s, dir) =>
      Serving.pivotEventCounts(
        EventAggregator.aggregate(Tables.events(s, dir)))),
    "q_latest_windows" -> ((s, dir) =>
      Serving.latestWindows(
        EventAggregator.aggregate(Tables.events(s, dir)))),
    "q_overview" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Serving.overview(
        EventAggregator.aggregate(ev), PerformanceTracker.metrics(ev))
    }),
    // --- text analysis (training-data pipeline) ---
    "q_token_stats" -> ((s, dir) =>
      graft.text.TextAnalysis.tokenStats(Tables.documents(s, dir))),
    "q_quality" -> ((s, dir) =>
      graft.text.TextAnalysis.qualityScore(Tables.documents(s, dir))),
    "q_lang_id" -> ((s, dir) =>
      graft.text.TextAnalysis.langId(Tables.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) =>
      graft.text.TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "q_winnow" -> ((s, dir) =>
      graft.text.TextAnalysis.winnow(Tables.documents(s, dir))),
    // --- deduplication (training-data pipeline) ---
    "q_dedup_exact" -> ((s, dir) =>
      graft.dedup.Dedup.exactDedup(Tables.documents(s, dir))),
    "q_incr_dedup" -> ((s, dir) => // shard-arrival gate vs existing corpus
      graft.dedup.Dedup.incrementalDedup(Tables.documents(s, dir))),
    "q_dedup_best" -> ((s, dir) => // keep highest-quality cluster member
      graft.dedup.Clusters.survivorsBest(Tables.documents(s, dir))),
    "q_ngram_jaccard" -> ((s, dir) =>
      graft.dedup.Dedup.ngramJaccard(Tables.documents(s, dir))),
    "q_minhash_lsh" -> ((s, dir) =>
      graft.dedup.Dedup.minhashCandidates(Tables.documents(s, dir))),
    // measured LSH banding recall per true-Jaccard decile (bounded
    // exhaustive region — the dedup twin of the ANN recall curves)
    "q_lsh_quality" -> ((s, dir) =>
      graft.dedup.Dedup.lshQuality(Tables.documents(s, dir))),
    // SimHash recall on the same truth table (comparable to q_lsh_quality)
    "q_simhash_quality" -> ((s, dir) =>
      graft.dedup.Dedup.simhashQuality(Tables.documents(s, dir))),
    // deferred cross-shard near-dups: the ingestion monitoring read
    "q_cross_shard_dups" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.streaming.CurateIngest.crossShardNearDups(
        d.filter(col("doc_id") < 250),
        d.filter(col("doc_id") >= 250 && col("doc_id") < 500))
    }),
    // deferred pairs folded into per-shard clusters via incremental CC
    "q_deferred_clusters" -> ((s, dir) =>
      graft.streaming.CurateIngest.deferredClusters(Tables.documents(s, dir))),
    // dup-cluster-aware train/test split (no near-dup leaks the boundary)
    "q_leak_split" -> ((s, dir) =>
      graft.operators.Sampling.leakSafeSplit(Tables.documents(s, dir))),
    // asymmetric containment: quote/subset pairs Jaccard-LSH misses
    "q_containment" -> ((s, dir) =>
      graft.dedup.Dedup.containment(Tables.documents(s, dir))),
    // ingestion monitoring: language-mix PSI between consecutive shards
    "q_shard_drift" -> ((s, dir) =>
      graft.streaming.CurateIngest.shardMixDrift(Tables.documents(s, dir))),
    // model-ops: NB score-decile PSI per shard (classifier calibration)
    "q_quality_drift" -> ((s, dir) =>
      graft.streaming.CurateIngest.qualityScoreDrift(Tables.documents(s, dir))),
    // Gopher repetition rules: top/duplicate n-gram char fractions
    "q_rep_signals" -> ((s, dir) =>
      graft.text.Repetition.repetitionSignals(Tables.documents(s, dir))),
    "q_simhash" -> ((s, dir) =>
      graft.dedup.Dedup.simhash(Tables.documents(s, dir))),
    "q_line_dedup" -> ((s, dir) => // C4-style repeated-span removal
      graft.dedup.Dedup.lineDedup(Tables.documents(s, dir))),
    // Lee et al. ExactSubstr: cut repeated k-gram spans, keep the rest
    "q_span_scrub_fp" -> ((s, dir) => // 8-byte rolling-hash gram key, parity-pinned
      graft.dedup.SpanScrub.spanScrubFp(Tables.documents(s, dir))),
    "q_span_scrub" -> ((s, dir) =>
      graft.dedup.SpanScrub.spanScrub(Tables.documents(s, dir))),
    "q_scrub_incr" -> ((s, dir) => // shard-at-a-time ExactSubstr vs gram store
      graft.dedup.SpanScrub.incrScrub(Tables.documents(s, dir))),
    // FineWeb ordering: scrub repeated bytes FIRST, then score/gate/dedup
    "q_curate_full" -> ((s, dir) => // + benchmark-contamination gate (stage 5)
      graft.text.Curate.curateFull(Tables.documents(s, dir))),
    "q_curate_full_fp" -> ((s, dir) => // fp gram wire, parity-pinned
      graft.text.Curate.curateFull(Tables.documents(s, dir))),
    // the Dolma anonymize stage composed into the funnel (r14): PII
    // masked BEFORE the scrub, so grams/fps/sigs/kept text derive from
    // masked text; planted corpus (no natural PII in the testdata)
    "q_curate_full_anon" -> ((s, dir) =>
      graft.text.Curate.curateFull(
        graft.text.CorpusStats.plantPii(Tables.documents(s, dir)),
        anonymize = true)),
    // the whole 6-stage funnel arriving shard-at-a-time: scrub vs the
    // gram store, gate, exact vs fp store, strict near-dedup vs sig
    // store, contamination vs the static benchmark grams
    "q_curate_full_incr" -> ((s, dir) =>
      graft.streaming.CurateIngest.incrCurateFullStrict(
        Tables.documents(s, dir))),
    // the 7-stage variant: Gopher repetition rules gate beside the
    // quality/language heuristics on the incremental path
    "q_curate_full_incr_gopher" -> ((s, dir) =>
      graft.streaming.CurateIngest.incrCurateFullStrict(
        Tables.documents(s, dir), gopherGate = true)),
    // anonymize on the INCREMENTAL path (r14): each arriving shard is
    // masked before any store-bound artifact derives from it
    "q_curate_full_incr_anon" -> ((s, dir) =>
      graft.streaming.CurateIngest.incrCurateFullStrict(
        graft.text.CorpusStats.plantPii(Tables.documents(s, dir)),
        maxId = 300, anonymize = true)),
    "q_curate_scrub" -> ((s, dir) =>
      graft.text.Curate.curateScrubbed(Tables.documents(s, dir))),
    "q_semantic_dedup" -> ((s, dir) => // SemDeDup: cluster + cosine prune
      // k pinned to the oracle's spelled-out case; production default
      // derives k from corpus size (KMeans.autoK)
      graft.ann.KMeans.semanticDedup(Tables.embeddings(s, dir), k = 8)),
    // --- similarity search (training-data pipeline) ---
    "q_knn_cosine" -> ((s, dir) =>
      graft.ann.Similarity.knnBrute(Tables.embeddings(s, dir))),
    "q_embed_dedup" -> ((s, dir) =>
      graft.ann.Similarity.blockedDedup(Tables.embeddings(s, dir))),
    "q_hard_negatives" -> ((s, dir) => // nearest wrong-label = contrastive negatives
      graft.ann.Similarity.hardNegatives(Tables.embeddings(s, dir))),
    "q_lsh_knn" -> ((s, dir) => // approximate recall, but deterministic → oracle-checked
      graft.ann.Similarity.lshKnn(Tables.embeddings(s, dir))),
    "q_lshmp_knn" -> ((s, dir) => // multi-probe: flip each sign bit on the query side
      graft.ann.Similarity.lshKnnMultiProbe(Tables.embeddings(s, dir))),
    "q_quantize" -> ((s, dir) => // int8 codes: scalarized digest, oracle-checked
      graft.ann.Quantize.quantizeDigest(Tables.embeddings(s, dir))),
    "q_quant_knn" -> ((s, dir) => // quantized candidates + exact re-rank
      graft.ann.Quantize.quantKnn(Tables.embeddings(s, dir))),
    "q_pq_knn" -> ((s, dir) => // product-quantization SDC lookup-table knn
      graft.ann.Pq.pqKnn(Tables.embeddings(s, dir))),
    "q_pq_adc" -> ((s, dir) => // asymmetric-distance PQ (raw query subvectors)
      graft.ann.Pq.pqKnnAdc(Tables.embeddings(s, dir))),
    "q_ivfpq_knn" -> ((s, dir) => // IVF probe -> PQ shortlist -> exact re-rank
      graft.ann.Pq.ivfPqKnn(Tables.embeddings(s, dir))),
    "q_ivfpq_res" -> ((s, dir) => // PQ over residuals v - centroid (FAISS IVFPQ)
      graft.ann.Pq.ivfPqResKnn(Tables.embeddings(s, dir))),
    "q_ivfpq_refine" -> ((s, dir) => // residual shortlist x refine re-rank recall
      graft.ann.Pq.ivfPqResRefineRecall(Tables.embeddings(s, dir))),
    "q_pq_curve" -> ((s, dir) => // recall vs codebook budget (k x iters grid)
      graft.ann.Pq.pqRecallCurve(Tables.embeddings(s, dir))),
    "q_opq_perm" -> ((s, dir) => // OPQ energy-balanced subspace allocation
      graft.ann.Opq.allocation(Tables.embeddings(s, dir))),
    "q_opq_recall" -> ((s, dir) => // OPQ perm + refine re-rank vs plain, same budget
      graft.ann.Opq.opqRecall(Tables.embeddings(s, dir))),
    "q_incr_index" -> ((s, dir) => // frozen-index shard append, search old+new
      graft.ann.IncrementalIndex.incrIndexKnn(Tables.embeddings(s, dir))),
    "q_media_phash" -> ((s, dir) => // perceptual image dHash per media row
      graft.multimodal.Multimodal.phash(
        graft.multimodal.Multimodal.synthesizeMedia(Tables.documents(s, dir)))
        .toDF()),
    "q_phash_pairs" -> ((s, dir) => // banded near-dup pairs, planted copies
      graft.multimodal.Multimodal.plantedPhashPairs(Tables.documents(s, dir))),
    // real RIFF/WAVE codec over genuine synthesized PCM bytes
    "q_audio_meta" -> ((s, dir) =>
      graft.multimodal.Audio.extractMeta(
        graft.multimodal.Audio.synthesizeWav(Tables.documents(s, dir))).toDF()),
    "q_audio_energy" -> ((s, dir) => // per-frame Σ(s−128)² over the PCM payload
      graft.multimodal.Audio.frameEnergy(
        graft.multimodal.Audio.synthesizeWav(Tables.documents(s, dir))).toDF()),
    "q_audio_fp" -> ((s, dir) => // 63-bit energy-gradient acoustic fingerprint
      graft.multimodal.Audio.audioFp(
        graft.multimodal.Audio.synthesizeWav(Tables.documents(s, dir))).toDF()),
    "q_audio_pairs" -> ((s, dir) => // banded audio near-dups, planted exact copies
      graft.multimodal.Audio.plantedAudioPairs(Tables.documents(s, dir))),
    // real GIF container walk over genuine synthesized multi-frame bytes
    "q_video_meta" -> ((s, dir) =>
      graft.multimodal.Video.extractMeta(
        graft.multimodal.Video.synthesizeGif(Tables.documents(s, dir))).toDF()),
    "q_video_frames" -> ((s, dir) => // every-2nd-frame decimation + payload checksums
      graft.multimodal.Video.sampleFrames(
        graft.multimodal.Video.synthesizeGif(Tables.documents(s, dir))).toDF()),
    "q_video_features" -> ((s, dir) => // real LZW decode → per-frame luminance features
      graft.multimodal.Video.frameFeatures(
        graft.multimodal.Video.synthesizePixelGif(Tables.documents(s, dir))).toDF()),
    "q_video_fp" -> ((s, dir) => // 63-bit spatio-temporal hash from decoded pixels
      graft.multimodal.Video.videoFp(
        graft.multimodal.Video.synthesizePixelGif(Tables.documents(s, dir))).toDF()),
    "q_video_pairs" -> ((s, dir) => // banded video near-dups, planted exact copies
      graft.multimodal.Video.plantedVideoPairs(Tables.documents(s, dir))),
    "q_bpe_encode" -> ((s, dir) => // apply the trained merge list (tokenize)
      graft.text.Bpe.encode(Tables.documents(s, dir))),
    "q_bpe_train" -> ((s, dir) => { // learn the merge table from the corpus
      val (merges, _) = graft.text.Bpe.train(Tables.documents(s, dir), nMerges = 8)
      graft.text.Bpe.mergesDf(s, merges)
    }),
    "q_approx_bounds" -> ((s, dir) => // sketch error bounds vs exact twins
      ApproxBounds.bounds(Tables.events(s, dir))),
    "q_ivf_knn" -> ((s, dir) => // approximate recall, deterministic → oracle-checked
      graft.ann.IvfKnn.ivfKnn(Tables.embeddings(s, dir))),
    "q_ann_recall" -> ((s, dir) => // measured recall@k of all 8 ANN search variants
      graft.ann.Similarity.annRecall(Tables.embeddings(s, dir))),
    "q_ivf_curve" -> ((s, dir) => // recall-vs-nprobe tuning curve, 1.0 anchor
      graft.ann.IvfKnn.recallCurve(Tables.embeddings(s, dir))),
    // --- relational / joins over the star schema ---
    "q_revenue_nation" -> ((s, dir) =>
      Relational.revenueByNation(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    // TPC-H Q14 shape: conditional revenue share over the part dim
    "q_promo_share" -> ((s, dir) =>
      Relational.promoRevenueShare(Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q_top_customers" -> ((s, dir) =>
      Relational.topCustomers(Tables.orders(s, dir), Tables.customer(s, dir))),
    "q_late_orders" -> ((s, dir) =>
      Relational.lateOrders(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_range_join" -> ((s, dir) =>
      RangeJoin.withinTimeCounts(Tables.events(s, dir))),
    "q_asof_join" -> ((s, dir) => {
      // per event: the user's latest order at-or-before the event time
      val snap = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("last_totalprice"))
      AsOfJoin.asOf(
        Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        snap, keyCols = Seq("user_id"),
        leftTime = "ts", rightTime = "o_orderdate",
        payload = Seq("last_orderkey", "last_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("last_orderkey"), col("last_totalprice"))
    }),
    // dynamic-gap sessions: per-event gap expression (purchases hold
    // the session open longer), interval-merge island oracle
    "q_dynamic_sessions" -> ((s, dir) =>
      SessionTracker.dynamicSessions(Tables.events(s, dir))),
    // Count-Min sketch column: per-day sketches merged, then point
    // estimates (exact at this cardinality — CmsSpec proves no
    // collision — so the estimate oracle-checks against true counts)
    "q_cms_freq" -> ((s, dir) => {
      import graft.functions.CmsFunctions._
      val ev = Tables.events(s, dir)
      val sk = ev
        .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
        .agg(cm_sketch(col("event_type")).as("sk"))
        .agg(cm_merge(col("sk")).as("sk"))
      ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(sk))
        .select(col("event_type"),
          cm_estimate(col("sk"), col("event_type")).as("est"))
    }),
    // gap-filled daily series (sequence spine densification)
    "q_gapfill" -> ((s, dir) =>
      Windows.gapFill(Tables.events(s, dir))),
    // post-load referential-integrity audit (anti-join orphan counts)
    "q_integrity" -> ((s, dir) =>
      Relational.integrityAudit(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.lineitem(s, dir))),
    // FULL OUTER reconciliation with pre-aggregated sides
    "q_activity_matrix" -> ((s, dir) =>
      SetOps.userActivityMatrix(Tables.events(s, dir))),
    // Z-order layout: z-curve range histogram over (custkey, day)
    "q_zorder" -> ((s, dir) =>
      Layout.zHistogram(Tables.orders(s, dir))),
    // DSv2 generator source (BATCH_READ path; arithmetic replicated by
    // the oracle from generate_series — the source itself is checked)
    "q_gen_agg" -> ((s, _) =>
      s.read.format("graft.sources.EventGen").option("totalRows", 100000L)
        .load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          graft.operators.FixedPoint.sum4(col("value")).as("sum_value"))),
    // integer Lloyd k-means on quantized codes (SemDeDup-style corpus
    // clustering; exact cross-engine arithmetic, full membership oracle)
    "q_kmeans" -> ((s, dir) =>
      graft.ann.KMeans.assign(Tables.embeddings(s, dir))),
    // unigram LM surprisal per doc (KenLM-perplexity proxy)
    "q_unigram_ppl" -> ((s, dir) =>
      graft.text.CorpusStats.unigramSurprisal(Tables.documents(s, dir))),
    // DSIR-shaped importance weights (target-domain data selection)
    "q_importance" -> ((s, dir) =>
      graft.text.CorpusStats.importanceWeights(Tables.documents(s, dir))),
    // model-based quality filter (DCLM/FineWeb-Edu classifier stage)
    "q_nb_quality" -> ((s, dir) =>
      graft.text.QualityModel.nbQuality(Tables.documents(s, dir))),
    // tokenizer fertility by language (subword tokens/word, chars/token)
    "q_fertility" -> ((s, dir) =>
      graft.text.Bpe.fertility(Tables.documents(s, dir))),
    // temporal-behavior similarity: top-k rhythm-similar users
    "q_ts_similar" -> ((s, dir) =>
      graft.operators.TimeSeries.similarActivity(Tables.events(s, dir))),
    // signed-random-projection dim reduction (pre-ANN compression)
    "q_rand_proj" -> ((s, dir) =>
      graft.ann.Projection.randomProject(Tables.embeddings(s, dir))),
    // event-type mix drift between early/late halves of the time range
    "q_drift" -> ((s, dir) =>
      graft.operators.Drift.eventTypeDrift(Tables.events(s, dir))),
    // PSI over embedding space: k-means cells as the histogram bins
    "q_embed_drift" -> ((s, dir) =>
      graft.operators.Drift.embedDrift(Tables.embeddings(s, dir))),
    // semi-supervised label spreading over the entity graph (fill-only)
    "q_label_prop" -> ((s, dir) =>
      graft.operators.LabelProp.labelPropagation(Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.customer(s, dir))),
    // Population Stability Index over the same half-split (the
    // model-monitoring standard: <0.1 stable, >0.25 action)
    "q_psi_drift" -> ((s, dir) =>
      graft.operators.Drift.psiDrift(Tables.events(s, dir))),
    // one PSI per window vs its predecessor (the dashboard series)
    "q_window_psi" -> ((s, dir) =>
      graft.operators.Drift.windowPsi(Tables.events(s, dir))),
    // exact two-sample KS distance of `value` between the halves
    "q_ks_drift" -> ((s, dir) =>
      graft.operators.Drift.ksDrift(Tables.events(s, dir))),
    // binned KS (the bounded-cardinality scale path; lower-bounds exact)
    "q_ks_binned" -> ((s, dir) =>
      graft.operators.Drift.ksDriftBinned(Tables.events(s, dir))),
    // MOSS-style cross-doc shared-span pairs (winnow fp self-join)
    "q_shared_spans" -> ((s, dir) =>
      graft.text.TextAnalysis.sharedSpans(Tables.documents(s, dir))),
    // window-over-window event-mix drift (streaming drift-on-read shape)
    "q_window_drift" -> ((s, dir) =>
      graft.operators.Drift.windowMixDrift(Tables.events(s, dir))),
    // threshold-gated drift alerts (the operational alerting loop)
    "q_drift_alerts" -> ((s, dir) =>
      graft.operators.Drift.mixDriftAlerts(
        graft.operators.Drift.windowMixDrift(Tables.events(s, dir)))),
    // end-to-end curation: score -> gate -> exact dedup -> keep-best LSH dedup
    "q_curate" -> ((s, dir) =>
      graft.text.Curate.curate(Tables.documents(s, dir))),
    // funnel audit: per-document verdict (kept / which stage dropped it)
    "q_curate_audit" -> ((s, dir) =>
      graft.text.Curate.curateAudit(Tables.documents(s, dir))),
    // + the Gopher repetition rules as a gate stage (Rae et al. 2021):
    // verdict `repetitious` beside the heuristic quality/lang gates
    "q_curate_gopher" -> ((s, dir) =>
      graft.text.Curate.curateGopherAudit(Tables.documents(s, dir))),
    // the audit lifted to the FULL funnel: scrub-first scoring and the
    // contamination stage join the verdict CASE (`contaminated`)
    "q_curate_full_audit" -> ((s, dir) =>
      graft.text.Curate.curateFullAudit(Tables.documents(s, dir))),
    // the NON-repetition half of Gopher Table A1: word/line-shape
    // heuristics as per-doc integer signals + verdict (no shuffle).
    // Stop list pinned corpus-appropriate (the synthetic register has
    // only `the`/`a` of the published function words) so the oracle
    // exercises both verdict branches; the published set is the default
    "q_gopher_quality" -> ((s, dir) =>
      graft.text.GopherQuality.gopherQualitySignals(Tables.documents(s, dir),
        stopWords = Seq("the", "a", "to", "of", "and", "that", "have",
          "with"))),
    // shard-at-a-time ingestion: store-backed first-wins exact dedup +
    // per-shard near-dup; loop hash-matches the flat batch twin
    "q_curate_incr" -> ((s, dir) =>
      graft.streaming.CurateIngest.incrCurate(Tables.documents(s, dir))),
    // strict mode: enforced cross-shard near-dedup vs the tombstone
    // store; the sequential loop still hash-matches a flat twin
    "q_curate_strict" -> ((s, dir) =>
      graft.streaming.CurateIngest.incrCurateStrict(Tables.documents(s, dir))),
    // context-window chunking with overlap (map-side, no shuffle);
    // non-text columns ride along, so project to the classic surface
    "q_chunk" -> ((s, dir) =>
      graft.text.Chunking.chunkDocs(
        Tables.documents(s, dir).select("doc_id", "text"))),
    // the whole corpus-preparation pipeline: curate -> chunk -> epoch order
    "q_training_data" -> ((s, dir) =>
      graft.text.TrainingData.prepare(Tables.documents(s, dir))),
    // data-mixing resample to a target language mixture (largest feasible)
    "q_mixture" -> ((s, dir) =>
      graft.operators.Sampling.mixtureSample(Tables.documents(s, dir))),
    // BPE statistics: frequency-weighted top adjacent symbol pairs
    "q_bpe_pairs" -> ((s, dir) =>
      graft.text.Bpe.topPairs(Tables.documents(s, dir))),
    // bigram LM perplexity (CCNet-style fit filter, engine-exact MLE)
    "q_bigram_ppl" -> ((s, dir) =>
      graft.text.CorpusStats.bigramSurprisal(Tables.documents(s, dir))),
    // dedup end-to-end: the corpus surviving LSH + clustering
    "q_dedup_keep" -> ((s, dir) =>
      graft.dedup.Clusters.survivors(Tables.documents(s, dir))),
    // CDC compaction: latest order per customer via the heap top-k (k=1)
    "q_latest_order" -> ((s, dir) =>
      graft.plans.TopK.perKey(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        keyCols = Seq(col("o_custkey")),
        orderCols = Seq(col("o_orderdate").desc, col("o_orderkey").desc), k = 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))),
    // TPC-H Q5 shape: 6-table join, one fact-fact exchange, dims broadcast
    "q_regional_rev" -> ((s, dir) =>
      Relational.regionalRevenue(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),
    // fixed-width distribution histogram, integer bucket + cents
    "q_histogram" -> ((s, dir) =>
      Relational.priceHistogram(Tables.orders(s, dir))),
    // GROUPING SETS in one Expand + single aggregate pass
    "q_grouping_sets" -> ((s, dir) =>
      Relational.orderGroupingSets(Tables.orders(s, dir))),
    // stream-static enrichment join, batch-mode oracle (same code path
    // runs under readStream in Pipelines.enrichedEvents)
    "q_enriched" -> ((s, dir) =>
      graft.streaming.Pipelines.enrichedEvents(
        Tables.events(s, dir), Tables.customer(s, dir))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_mktsegment"), col("c_nationkey"))),
    // bloom-prefiltered exact semi join: fact table never shuffles
    // rows the filter set rejects
    "q_bloom_semi" -> ((s, dir) =>
      BloomJoin.urgentRevenue(Tables.lineitem(s, dir), Tables.orders(s, dir))),
    // RANGE-frame moving aggregate over gap-tolerant integer days
    "q_moving_avg" -> ((s, dir) =>
      Windows.movingRevenue(Tables.orders(s, dir))),
    // per-user lag window -> global bigram counts (Markov transitions)
    "q_transitions" -> ((s, dir) =>
      Windows.transitions(Tables.events(s, dir))),
    // integer PageRank over the customer<->supplier bipartite graph:
    // edges stay partitioned, ranks broadcast each iteration
    "q_pagerank" -> ((s, dir) =>
      graft.operators.PageRank.supplierRank(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_ppr" -> ((s, dir) => // seed-teleport personalized rank (related entities)
      graft.operators.PageRank.personalizedRank(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // eval-leakage gate: exact n-gram overlap vs a broadcast benchmark set
    "q_contamination" -> ((s, dir) =>
      graft.dedup.Dedup.contamination(Tables.documents(s, dir))),
    // native heap-based top-k per key (custom LogicalPlan + Strategy +
    // SparkPlan): 5 highest-value events per type, total order via id
    "q_topk_events" -> ((s, dir) =>
      graft.plans.TopK.perKey(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"), col("event_id"), col("value")),
        keyCols = Seq(col("event_type")),
        orderCols = Seq(col("value").desc, col("event_id").asc), k = 5)),
    // salted exact distinct: hot-key skew spread over 32 buckets, result
    // identical to the plain aggregate (the salt partitions the domain)
    "q_salted_distinct" -> ((s, dir) =>
      Skew.saltedCountDistinct(Tables.events(s, dir),
        keys = Seq("event_type"), distinctCol = "user_id",
        resultName = "user_distinct")),
    // --- scale-out approximate variants, SELF-GATED (r14): each row
    // carries exact-checkable columns + its sketch-guarantee verdict
    // (bounds_ok, oracle-pinned at 1) — no more no_oracle artifact
    // rows; raw estimates stay aggregateApprox/metricsApprox
    "q_event_agg_approx" -> ((s, dir) =>
      ApproxBounds.eventAggApproxGated(Tables.events(s, dir))),
    "q_perf_approx" -> ((s, dir) =>
      ApproxBounds.perfApproxGated(Tables.events(s, dir))),
    // sketch-column rollup: per-day user sketches re-merged per type —
    // the "distinct across windows without raw data" pattern. The
    // replicable (md5-hash) sketch variant makes register contents and
    // the estimate bit-reproducible in DuckDB → full hash-match oracle.
    "q_hll_rollup" -> ((s, dir) => {
      import graft.functions.HllFunctions._
      // merge once per group; estimate is a scalar projection over the
      // merged sketch, outside the aggregate expression tree
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(hll_sketch_r(col("user_id")).as("sk"))
        .groupBy(col("event_type"))
        .agg(hll_merge(col("sk")).as("msk"))
        .select(col("event_type"), hll_estimate(col("msk")).as("approx_users"))
    }),
    // theta-sketch set algebra: per-day user sketches merged per type,
    // then union/intersection/difference per type PAIR from sketch
    // state alone — the segment-overlap question HLL cannot answer —
    // with exact twin columns as the in-row error gate
    "q_theta_sets" -> ((s, dir) =>
      SetSketch.thetaSets(Tables.events(s, dir))),
    // quantile-sketch rollup: per-day value sketches re-merged per type —
    // percentiles across windows without rescanning raw events. KMV
    // bottom-k with the md5 sample hash → the oracle reproduces sample
    // membership exactly (bottom-k of a union == bottom-k of the union
    // of bottom-ks, so the per-window sketch step drops out of the SQL).
    "q_quantile_rollup" -> ((s, dir) => {
      import graft.functions.QSketchFunctions._
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(q_sketch_r(col("value"), col("event_id")).as("sk"))
        .groupBy(col("event_type"))
        .agg(q_sketch_merge(col("sk")).as("msk")) // ONE merge per group
        .select(col("event_type"),
          round(q_sketch_quantile(col("msk"), lit(0.5)), 4).as("p50"),
          round(q_sketch_quantile(col("msk"), lit(0.95)), 4).as("p95"),
          round(q_sketch_quantile(col("msk"), lit(0.99)), 4).as("p99"))
    }),
    // --- corpus statistics / curation (training-data pipeline) ---
    "q_doc_freq" -> ((s, dir) =>
      graft.text.CorpusStats.docFreq(Tables.documents(s, dir))),
    "q_tfidf_top" -> ((s, dir) =>
      graft.text.CorpusStats.tfidfTop(Tables.documents(s, dir))),
    "q_repetition" -> ((s, dir) =>
      graft.text.CorpusStats.repetition(Tables.documents(s, dir))),
    "q_corpus_mix" -> ((s, dir) =>
      graft.text.CorpusStats.corpusMix(Tables.documents(s, dir))),
    "q_lang_confusion" -> ((s, dir) =>
      graft.text.CorpusStats.langConfusion(Tables.documents(s, dir))),
    // Okapi BM25 lexical retrieval (the ANN family's hybrid companion)
    "q_bm25" -> ((s, dir) =>
      graft.text.CorpusStats.bm25(Tables.documents(s, dir))),
    // hybrid retrieval: RRF fusion of the BM25 + cosine towers
    "q_hybrid_search" -> ((s, dir) =>
      graft.text.Hybrid.rrfSearch(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // hybrid over MAINTAINED indexes: split-build-append both towers,
    // search reads postings + codes only (raw vectors: re-rank rows)
    "q_hybrid_incr" -> ((s, dir) =>
      graft.text.Hybrid.hybridIncr(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // incremental sparse index: build base + append shard, search sees
    // the union — oracle is the BATCH bm25 (incremental ≡ batch, exact)
    "q_incr_bm25" -> ((s, dir) =>
      graft.text.SparseIndex.incrBm25(Tables.documents(s, dir))),
    // CM-sketch join-size estimation gate (planner-side sketch use)
    "q_joinsize_bounds" -> ((s, dir) =>
      JoinEstimate.starJoinBounds(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    // chunk-level BM25: retrieve over the context-window chunks the
    // trainer consumes (the RAG read path: chunk -> index -> retrieve)
    "q_chunk_search" -> ((s, dir) =>
      graft.text.CorpusStats.bm25Units(
        graft.text.Chunking.chunkDocs(
          Tables.documents(s, dir).select("doc_id", "text")),
        "chunk_text", Seq("doc_id", "chunk_idx"),
        Seq("spark", "join", "window", "hash"))),
    "q_scrub" -> ((s, dir) =>
      graft.text.CorpusStats.scrub(Tables.documents(s, dir))),
    "q_pii_scrub" -> ((s, dir) => // Dolma anonymization: email/IP/phone
      graft.text.CorpusStats.piiScrubPlanted(Tables.documents(s, dir))),
    "q_sample_strat" -> ((s, dir) =>
      Sampling.stratifiedByHash(Tables.documents(s, dir))),
    "q_weighted_sample" -> ((s, dir) => // length-biased deterministic sample
      Sampling.weightedSample(Tables.documents(s, dir))),
    "q_token_mixture" -> ((s, dir) => // temperature mixture in BPE tokens
      graft.operators.Sampling.tokenMixture(Tables.documents(s, dir))),
    "q_temp_mixture" -> ((s, dir) => // sqrt-flattened mixture (alpha = 1/2)
      Sampling.temperatureMixture(Tables.documents(s, dir))),
    "q_shuffle_order" -> ((s, dir) => // deterministic epoch permutation
      Sampling.shuffleOrder(Tables.documents(s, dir))),
    // --- set operations (SURVEY §2.8) ---
    "q_users_view_only" -> ((s, dir) =>
      SetOps.viewersWhoNeverPurchased(Tables.events(s, dir))),
    "q_users_view_buy" -> ((s, dir) =>
      SetOps.viewersWhoAlsoPurchased(Tables.events(s, dir))),
    // --- duplicate clusters: connected components over LSH candidates ---
    "q_dup_clusters" -> ((s, dir) =>
      graft.dedup.Clusters.dupClusters(Tables.documents(s, dir))),
    "q_incr_clusters" -> ((s, dir) => // edge-delta CC refresh == batch CC
      graft.dedup.Clusters.incrClusters(Tables.documents(s, dir))),
    // --- data-quality profile (single-pass, unpivoted) ---
    "q_profile" -> ((s, dir) =>
      Profiler.profileEvents(Tables.events(s, dir))),
    // --- relational: anti join ---
    "q_idle_customers" -> ((s, dir) =>
      Relational.idleCustomers(Tables.customer(s, dir), Tables.orders(s, dir))),
    // record linkage: blocked fuzzy join, bounded edit distance
    "q_entity_match" -> ((s, dir) =>
      Linkage.bestFuzzyMatch(Tables.part(s, dir))),
    // --- training-set assembly: packing + curriculum buckets ---
    "q_pack_shards" -> ((s, dir) =>
      Packing.packShards(Tables.documents(s, dir))),
    "q_pack_bpe" -> ((s, dir) => // pack on BPE tokens (context-length budget)
      Packing.packShards(Tables.documents(s, dir), tokenBudget = 256L,
        bpeMerges = Some(graft.text.Bpe.sennrichMerges))),
    "q_quality_buckets" -> ((s, dir) =>
      Packing.qualityBuckets(Tables.documents(s, dir))),
    // --- hopping windows + anomaly scoring ---
    "q_hopping" -> ((s, dir) =>
      Windows.hoppingCounts(Tables.events(s, dir))),
    "q_anomalies" -> ((s, dir) =>
      Windows.dailyAnomalies(Tables.events(s, dir))),
    // --- behavior analytics (funnel / cohort / rollup / timeline) ---
    "q_funnel" -> ((s, dir) =>
      Behavior.funnel(Tables.events(s, dir))),
    "q_cohort_retention" -> ((s, dir) =>
      Behavior.cohortRetention(Tables.events(s, dir))),
    "q_rollup" -> ((s, dir) =>
      Behavior.typeDayRollup(Tables.events(s, dir))),
    "q_user_timeline" -> ((s, dir) =>
      Behavior.userTimeline(Tables.events(s, dir))),
    // --- multimodal binary columns (training-data pipeline) ---
    "q_media_meta" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractMeta(
        graft.multimodal.Multimodal.synthesizeMedia(Tables.documents(s, dir))).toDF()),
    "q_media_frames" -> ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.synthesizeMedia(Tables.documents(s, dir))).toDF()),
    "q_media_features" -> ((s, dir) => // scalarized histogram: oracle-checked
      graft.multimodal.Multimodal.featureCounts(
        graft.multimodal.Multimodal.synthesizeMedia(Tables.documents(s, dir))).toDF()),
  )

  /** DuckDB-equivalent SQL per query (same parquet tables, same column
    * names). Session-window oracle uses the lag-island trick; break on
    * diff >= gap mirrors Spark's half-open session intervals (an event
    * exactly `gap` later starts a new session). */
  def oracleSql: Map[String, String] = {
    val allowedIn = EventAggregator.defaultAllowed.map(s => s"'$s'").mkString("(", ",", ")")
    val catSql = Categorizer.categorizeSql("event_type")
    Map(
      "q_event_agg" ->
        s"""SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           |       (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           |       event_type,
           |       count(*) AS event_count,
           |       count(DISTINCT user_id) AS user_count
           |FROM events
           |WHERE event_type IN $allowedIn
           |GROUP BY 1, 2, 3""".stripMargin,
      "q_sessions" ->
        s"""WITH v AS (
           |  SELECT user_id, epoch_ms(ts) AS tms FROM events WHERE event_type = 'view'
           |), marked AS (
           |  SELECT user_id, tms,
           |         CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
           |                   >= 1800000 THEN 1 ELSE 0 END AS brk
           |  FROM v
           |), islands AS (
           |  SELECT user_id, tms,
           |         sum(brk) OVER (PARTITION BY user_id ORDER BY tms
           |                        ROWS UNBOUNDED PRECEDING) AS island
           |  FROM marked
           |)
           |SELECT user_id,
           |       min(tms) AS start_ms,
           |       max(tms) + 1800000 AS end_ms,
           |       max(tms) + 1800000 - min(tms) AS duration_ms,
           |       count(*) AS page_count,
           |       'Browse' AS category
           |FROM islands GROUP BY user_id, island""".stripMargin,
      "q_perf" ->
        s"""SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
           |       (epoch_ms(ts) // 300000) * 300000 + 300000 AS window_end_ms,
           |       $catSql AS category,
           |       ${graft.operators.PerformanceTracker.exactAvgSql()} AS avg_value,
           |       round(quantile_cont(value, 0.95), 4) AS p95_value
           |FROM events
           |WHERE value IS NOT NULL
           |GROUP BY 1, 2, 3""".stripMargin,
      // the self-gated approx artifacts (r14): exact columns computed
      // from the exact pipelines, bounds_ok pinned at the guarantee's
      // promise — the hash match IS the per-group bounds verdict
      "q_event_agg_approx" ->
        s"""SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           |       (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           |       event_type,
           |       count(*) AS event_count,
           |       CAST(1 AS INT) AS bounds_ok
           |FROM events
           |WHERE event_type IN $allowedIn
           |GROUP BY 1, 2, 3""".stripMargin,
      "q_perf_approx" ->
        s"""SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
           |       (epoch_ms(ts) // 300000) * 300000 + 300000 AS window_end_ms,
           |       $catSql AS category,
           |       ${graft.operators.PerformanceTracker.exactAvgSql()} AS avg_value,
           |       CAST(1 AS INT) AS bounds_ok
           |FROM events
           |WHERE value IS NOT NULL
           |GROUP BY 1, 2, 3""".stripMargin,
      "q_device_cat" ->
        s"SELECT event_id, $catSql AS category FROM events",
      "q_json_props" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
          |       count(*) AS n,
          |       round(CAST(sum(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS value_sum
          |FROM events GROUP BY 1""".stripMargin,
      "q_ts_coerce" ->
        """SELECT event_id,
          |       epoch_ms(ts) AS ts_ms,
          |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_sec,
          |       epoch_ms(date_trunc('hour', ts)) AS hour_ms
          |FROM events""".stripMargin,
      "q_filter_proj" ->
        """SELECT event_id, user_id, value FROM events
          |WHERE event_type = 'purchase' AND value IS NOT NULL AND value > 50.0""".stripMargin,
      "q_validate" -> Validator.validateSql,
      "q_type_sniff" -> Scalars.typeSniffSql,
      "q_pivot_counts" ->
        s"""WITH ea AS (
           |  SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms, event_type,
           |         count(*) AS event_count, count(DISTINCT user_id) AS user_count
           |  FROM events WHERE event_type IN $allowedIn GROUP BY 1, 2)
           |SELECT window_start_ms,
           |${EventAggregator.defaultAllowed.map(t =>
               s"""  CAST(coalesce(sum(event_count) FILTER (event_type = '$t'), 0) AS BIGINT) AS "${t}_count",
                  |  CAST(coalesce(sum(user_count) FILTER (event_type = '$t'), 0) AS BIGINT) AS "${t}_users"""".stripMargin)
             .mkString(",\n")}
           |FROM ea GROUP BY 1""".stripMargin,
      "q_latest_windows" ->
        s"""SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms,
           |       (epoch_ms(ts) // 60000) * 60000 + 60000 AS window_end_ms,
           |       event_type, count(*) AS event_count,
           |       count(DISTINCT user_id) AS user_count
           |FROM events WHERE event_type IN $allowedIn
           |GROUP BY 1, 2, 3
           |ORDER BY window_start_ms DESC, event_type LIMIT 20""".stripMargin,
      "q_overview" -> {
        val types = EventAggregator.defaultAllowed
        val cats = Categorizer.defaultRules.map(_._2)
        s"""WITH ea AS (
           |  SELECT (epoch_ms(ts) // 60000) * 60000 AS window_start_ms, event_type,
           |         count(*) AS event_count
           |  FROM events WHERE event_type IN $allowedIn GROUP BY 1, 2),
           |pm AS (
           |  SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
           |         $catSql AS category,
           |         ${graft.operators.PerformanceTracker.exactAvgSql()} AS avg_value
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |er AS (
           |  SELECT max(window_start_ms) AS event_window_ms,
           |${types.map(t =>
               s"""    CAST(coalesce(sum(event_count) FILTER (event_type = '$t'), 0) AS BIGINT) AS "${t}_count"""")
             .mkString(",\n")}
           |  FROM ea WHERE window_start_ms = (SELECT max(window_start_ms) FROM ea)),
           |pr AS (
           |  SELECT max(window_start_ms) AS perf_window_ms,
           |${cats.map(c =>
               s"""    round(coalesce(sum(avg_value) FILTER (category = '$c'), 0), 4) AS "${c}_avg"""")
             .mkString(",\n")}
           |  FROM pm WHERE window_start_ms = (SELECT max(window_start_ms) FROM pm))
           |SELECT * FROM er, pr""".stripMargin
      },
      "q_token_stats" -> graft.text.TextAnalysis.tokenStatsSql,
      "q_quality" -> graft.text.TextAnalysis.qualityScoreSql,
      "q_lang_id" -> graft.text.TextAnalysis.langIdSql,
      "q_fingerprint" -> graft.text.TextAnalysis.fingerprintSql,
      "q_winnow" -> graft.text.TextAnalysis.winnowSql,
      "q_dedup_exact" -> graft.dedup.Dedup.exactDedupSql,
      "q_incr_dedup" -> graft.dedup.Dedup.incrementalDedupSql(),
      "q_dedup_best" -> graft.dedup.Clusters.survivorsBestSql(),
      "q_ngram_jaccard" -> graft.dedup.Dedup.ngramJaccardSql(),
      "q_minhash_lsh" -> graft.dedup.Dedup.minhashCandidatesSql(),
      "q_lsh_quality" -> graft.dedup.Dedup.lshQualitySql(),
      "q_simhash_quality" -> graft.dedup.Dedup.simhashQualitySql(),
      "q_cross_shard_dups" ->
        graft.streaming.CurateIngest.crossShardNearDupsSql(),
      "q_deferred_clusters" ->
        graft.streaming.CurateIngest.deferredClustersSql(),
      "q_leak_split" -> graft.operators.Sampling.leakSafeSplitSql(),
      "q_containment" -> graft.dedup.Dedup.containmentSql(),
      "q_shard_drift" ->
        graft.streaming.CurateIngest.shardMixDriftSql(),
      "q_quality_drift" ->
        graft.streaming.CurateIngest.qualityScoreDriftSql(),
      "q_rep_signals" -> graft.text.Repetition.repetitionSignalsSql(),
      "q_simhash" -> graft.dedup.Dedup.simhashSql,
      "q_line_dedup" -> graft.dedup.Dedup.lineDedupSql(),
      "q_span_scrub" -> graft.dedup.SpanScrub.spanScrubSql(),
      // parity pin: the fp-keyed variant must reproduce the exact-key
      // result bit-for-bit — a gram-hash collision would mismatch here
      "q_span_scrub_fp" -> graft.dedup.SpanScrub.spanScrubSql(),
      // incrementality pin: the shard-looped store form must reproduce
      // the flat batch scrub (doc_id-ordered shards make "in store" ⇔
      // "has a global earlier occurrence"); bounded like q_curate_incr
      "q_scrub_incr" -> graft.dedup.SpanScrub.spanScrubSql(source =
        "(SELECT doc_id, text FROM main.documents WHERE doc_id < 600)"),
      "q_curate_scrub" -> graft.text.Curate.curateScrubbedSql(),
      "q_curate_full" -> graft.text.Curate.curateFullSql(),
      // parity pin: the whole funnel on the fp gram wire must equal
      // the exact-substring funnel bit-for-bit (q_span_scrub_fp lifted)
      "q_curate_full_fp" -> graft.text.Curate.curateFullSql(),
      // the incremental full funnel vs its flat strict twin — the
      // scrub/exact/near/contamination cancellations composed
      "q_curate_full_incr" -> graft.text.Curate.curateFullStrictIncrSql(),
      "q_curate_full_incr_gopher" ->
        graft.text.Curate.curateFullStrictIncrSql(gopherGate = true),
      // anonymize stage pins: piiMask composed ahead of the scrub CTE
      // over the planted corpus, batch and incremental
      "q_curate_full_anon" -> graft.text.Curate.curateFullAnonPlantedSql(),
      "q_curate_full_incr_anon" ->
        graft.text.Curate.curateFullStrictIncrSql(maxId = 300,
          anonymize = true,
          source = s"(${graft.text.CorpusStats.plantPiiSqlBody()})"),
      "q_semantic_dedup" -> graft.ann.KMeans.semanticDedupSql(),
      "q_knn_cosine" -> graft.ann.Similarity.knnBruteSql(),
      "q_hard_negatives" -> graft.ann.Similarity.hardNegativesSql(),
      "q_embed_dedup" -> graft.ann.Similarity.blockedDedupSql(),
      "q_doc_freq" -> graft.text.CorpusStats.docFreqSql,
      "q_tfidf_top" -> graft.text.CorpusStats.tfidfTopSql(),
      "q_repetition" -> graft.text.CorpusStats.repetitionSql,
      "q_corpus_mix" -> graft.text.CorpusStats.corpusMixSql,
      "q_lang_confusion" -> graft.text.CorpusStats.langConfusionSql,
      "q_bm25" -> graft.text.CorpusStats.bm25Sql(),
      "q_hybrid_search" -> graft.text.Hybrid.rrfSearchSql(),
      "q_hybrid_incr" -> graft.text.Hybrid.hybridIncrSql(),
      "q_incr_bm25" -> graft.text.CorpusStats.bm25Sql(),
      "q_joinsize_bounds" -> JoinEstimate.starJoinBoundsSql,
      "q_chunk_search" -> graft.text.CorpusStats.bm25UnitsSql(
        graft.text.Chunking.chunkDocsSql(), "chunk_text",
        Seq("doc_id", "chunk_idx"),
        Seq("spark", "join", "window", "hash")),
      "q_scrub" -> graft.text.CorpusStats.scrubSql,
      "q_pii_scrub" -> graft.text.CorpusStats.piiScrubPlantedSql,
      "q_sample_strat" -> Sampling.stratifiedByHashSql(),
      "q_weighted_sample" -> Sampling.weightedSampleSql(),
      "q_temp_mixture" -> Sampling.temperatureMixtureSql(),
      "q_token_mixture" -> Sampling.tokenMixtureSql(),
      "q_shuffle_order" -> Sampling.shuffleOrderSql(),
      "q_users_view_only" -> SetOps.viewersWhoNeverPurchasedSql,
      "q_users_view_buy" -> SetOps.viewersWhoAlsoPurchasedSql,
      "q_dup_clusters" -> graft.dedup.Clusters.dupClustersSql(),
      "q_incr_clusters" -> graft.dedup.Clusters.incrClustersSql(),
      "q_profile" -> Profiler.profileEventsSql,
      "q_idle_customers" -> Relational.idleCustomersSql(),
      "q_entity_match" -> Linkage.bestFuzzyMatchSql(),
      "q_pack_shards" -> Packing.packShardsSql(),
      "q_pack_bpe" -> Packing.packShardsBpeSql(tokenBudget = 256L),
      "q_quality_buckets" -> Packing.qualityBucketsSql(),
      "q_hopping" -> Windows.hoppingCountsSql(),
      "q_anomalies" -> Windows.dailyAnomaliesSql,
      "q_funnel" -> Behavior.funnelSql(),
      "q_cohort_retention" -> Behavior.cohortRetentionSql,
      "q_rollup" -> Behavior.typeDayRollupSql,
      "q_user_timeline" -> Behavior.userTimelineSql,
      // LSH hyperplanes are data-independent md5 constants → exact oracle
      "q_lsh_knn" -> graft.ann.Similarity.lshKnnSql(),
      "q_lshmp_knn" -> graft.ann.Similarity.lshKnnMultiProbeSql(),
      // IVF centroids are md5-hash-sampled + cells argmax'd on the
      // bit-identical double cosine → the full pipeline replays in SQL
      "q_ivf_knn" -> graft.ann.IvfKnn.ivfKnnSql(),
      "q_ivf_curve" -> graft.ann.IvfKnn.recallCurveSql(),
      "q_ann_recall" -> graft.ann.Similarity.annRecallSql(),
      "q_quantize" -> graft.ann.Quantize.quantizeDigestSql,
      "q_quant_knn" -> graft.ann.Quantize.quantKnnSql(),
      "q_pq_knn" -> graft.ann.Pq.pqKnnSql(),
      "q_pq_adc" -> graft.ann.Pq.pqKnnAdcSql(),
      "q_ivfpq_knn" -> graft.ann.Pq.ivfPqKnnSql(),
      "q_ivfpq_res" -> graft.ann.Pq.ivfPqResKnnSql(),
      "q_ivfpq_refine" -> graft.ann.Pq.ivfPqResRefineRecallSql(),
      "q_pq_curve" -> graft.ann.Pq.pqRecallCurveSql(),
      "q_opq_perm" -> graft.ann.Opq.allocationSql(),
      "q_opq_recall" -> graft.ann.Opq.opqRecallSql(),
      "q_incr_index" -> graft.ann.Pq.incrIndexKnnSql(),
      "q_media_meta" -> graft.multimodal.Multimodal.mediaMetaSql,
      "q_audio_meta" -> graft.multimodal.Audio.audioMetaSql,
      "q_audio_energy" -> graft.multimodal.Audio.frameEnergySql(),
      "q_audio_fp" -> graft.multimodal.Audio.audioFpSql,
      "q_audio_pairs" -> graft.multimodal.Audio.plantedAudioPairsSql(),
      "q_video_meta" -> graft.multimodal.Video.videoMetaSql,
      "q_video_frames" -> graft.multimodal.Video.sampleFramesSql(),
      "q_video_features" -> graft.multimodal.Video.videoFeaturesSql,
      "q_video_fp" -> graft.multimodal.Video.videoFpSql,
      "q_video_pairs" -> graft.multimodal.Video.plantedVideoPairsSql(),
      "q_media_phash" -> graft.multimodal.Multimodal.phashSql,
      "q_phash_pairs" -> graft.multimodal.Multimodal.plantedPhashPairsSql(),
      "q_media_frames" -> graft.multimodal.Multimodal.framesSql(),
      "q_media_features" -> graft.multimodal.Multimodal.featureCountsSql(),
      "q_revenue_nation" -> Relational.revenueByNationSql,
      "q_promo_share" -> Relational.promoRevenueShareSql,
      "q_top_customers" -> Relational.topCustomersSql(),
      "q_late_orders" -> Relational.lateOrdersSql,
      "q_range_join" -> RangeJoin.withinTimeCountsSql(),
      "q_salted_distinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS user_distinct
          |FROM events GROUP BY event_type""".stripMargin,
      "q_dynamic_sessions" -> SessionTracker.dynamicSessionsSql(),
      "q_cms_freq" ->
        "SELECT event_type, count(*) AS est FROM events GROUP BY 1",
      "q_gapfill" -> Windows.gapFillSql,
      "q_integrity" -> Relational.integrityAuditSql,
      "q_activity_matrix" -> SetOps.userActivityMatrixSql,
      "q_zorder" -> Layout.zHistogramSql(),
      "q_gen_agg" ->
        s"""WITH ev AS (
           |${graft.sources.EventGen.tableSql(100000L)}
           |)
           |SELECT event_type, count(*) AS n,
           |       count(DISTINCT user_id) AS users,
           |       round(CAST(sum(CAST(round((value) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS sum_value
           |FROM ev GROUP BY 1""".stripMargin,
      "q_kmeans" -> graft.ann.KMeans.assignSql(),
      "q_unigram_ppl" -> graft.text.CorpusStats.unigramSurprisalSql,
      "q_bigram_ppl" -> graft.text.CorpusStats.bigramSurprisalSql,
      "q_importance" -> graft.text.CorpusStats.importanceWeightsSql(),
      "q_nb_quality" -> graft.text.QualityModel.nbQualitySql(),
      "q_fertility" -> graft.text.Bpe.fertilitySql(),
      "q_ts_similar" -> graft.operators.TimeSeries.similarActivitySql(),
      "q_rand_proj" -> graft.ann.Projection.randomProjectSql(),
      "q_drift" -> graft.operators.Drift.eventTypeDriftSql,
      "q_psi_drift" -> graft.operators.Drift.psiDriftSql,
      "q_embed_drift" -> graft.operators.Drift.embedDriftSql(),
      "q_label_prop" -> graft.operators.LabelProp.labelPropagationSql(),
      "q_window_psi" -> graft.operators.Drift.windowPsiSql(),
      "q_ks_drift" -> graft.operators.Drift.ksDriftSql,
      "q_ks_binned" -> graft.operators.Drift.ksDriftBinnedSql(),
      "q_shared_spans" -> graft.text.TextAnalysis.sharedSpansSql(),
      "q_window_drift" -> graft.operators.Drift.windowMixDriftSql(),
      "q_drift_alerts" -> graft.operators.Drift.mixDriftAlertsSql(),
      "q_curate" -> graft.text.Curate.curateSql(),
      "q_curate_audit" -> graft.text.Curate.curateAuditSql(),
      "q_curate_gopher" -> graft.text.Curate.curateGopherAuditSql(),
      "q_curate_full_audit" -> graft.text.Curate.curateFullAuditSql(),
      "q_gopher_quality" -> graft.text.GopherQuality.gopherQualitySql(
        stopWords = Seq("the", "a", "to", "of", "and", "that", "have",
          "with")),
      "q_curate_incr" -> graft.text.Curate.incrCurateSql(),
      "q_curate_strict" -> graft.text.Curate.incrCurateStrictSql(),
      "q_chunk" -> graft.text.Chunking.chunkDocsSql(),
      "q_training_data" -> graft.text.TrainingData.prepareSql(),
      "q_mixture" -> graft.operators.Sampling.mixtureSampleSql(),
      "q_bpe_pairs" -> graft.text.Bpe.topPairsSql(),
      "q_bpe_encode" -> graft.text.Bpe.encodeSql(),
      "q_bpe_train" -> graft.text.Bpe.trainSql(nMerges = 8),
      "q_approx_bounds" -> ApproxBounds.boundsSql(),
      "q_dedup_keep" -> graft.dedup.Clusters.survivorsSql(),
      "q_latest_order" ->
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          |  FROM orders) WHERE rn = 1""".stripMargin,
      "q_regional_rev" -> Relational.regionalRevenueSql(),
      "q_histogram" -> Relational.priceHistogramSql(),
      "q_grouping_sets" -> Relational.orderGroupingSetsSql,
      "q_enriched" ->
        """SELECT e.event_id, e.user_id, e.event_type,
          |       c.c_mktsegment, c.c_nationkey
          |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id""".stripMargin,
      "q_bloom_semi" -> BloomJoin.urgentRevenueSql,
      "q_moving_avg" -> Windows.movingRevenueSql(),
      "q_transitions" -> Windows.transitionsSql,
      "q_pagerank" -> graft.operators.PageRank.supplierRankSql(),
      "q_ppr" -> graft.operators.PageRank.personalizedRankSql(),
      "q_contamination" -> graft.dedup.Dedup.contaminationSql(),
      "q_topk_events" ->
        """SELECT event_type, event_id, value FROM (
          |  SELECT event_type, event_id, value,
          |         row_number() OVER (PARTITION BY event_type
          |                            ORDER BY value DESC, event_id) AS rn
          |  FROM events WHERE value IS NOT NULL)
          |WHERE rn <= 5""".stripMargin,
      "q_asof_join" ->
        """WITH snap AS (
          |  SELECT o_custkey AS user_id, o_orderdate,
          |         max(o_orderkey) AS last_orderkey,
          |         max_by(o_totalprice, o_orderkey) AS last_totalprice
          |  FROM orders GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, s.last_orderkey, s.last_totalprice
          |FROM events e ASOF LEFT JOIN snap s
          |  ON e.user_id = s.user_id AND e.ts >= s.o_orderdate""".stripMargin,
      // HLL rollup: replay the register construction — md5-derived
      // 64-bit hash, bucket = top 11 bits, rank = leading zeros of the
      // remaining 53 bits + 1 (left-shift spelled as mod-multiply:
      // DuckDB raises on UBIGINT shift overflow), then the standard
      // harmonic estimate with linear-counting small-range correction.
      // The register sum is an ORDERED list fold so FP addition order
      // matches the engine's ascending-index loop exactly.
      "q_hll_rollup" ->
        """WITH pts AS (
          |  SELECT event_type,
          |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))::UBIGINT AS h
          |  FROM events),
          |reg AS (
          |  SELECT event_type, CAST(h >> 53 AS INTEGER) AS idx,
          |         max(CASE WHEN (h % 9007199254740992::UBIGINT) = 0 THEN 54
          |                  ELSE 64 - length(bin((h % 9007199254740992::UBIGINT)
          |                                        * 2048::UBIGINT)) + 1 END) AS rank
          |  FROM pts GROUP BY 1, 2),
          |grid AS (
          |  SELECT t.event_type, g.idx
          |  FROM (SELECT DISTINCT event_type FROM events) t
          |  CROSS JOIN (SELECT unnest(generate_series(0, 2047)) AS idx) g),
          |regs AS (
          |  SELECT g.event_type, g.idx, coalesce(r.rank, 0) AS rank
          |  FROM grid g LEFT JOIN reg r ON r.event_type = g.event_type AND r.idx = g.idx),
          |est AS (
          |  SELECT event_type,
          |         list_aggregate(list(1.0 / CAST(1::UBIGINT << rank AS DOUBLE)
          |                             ORDER BY idx), 'sum') AS s,
          |         sum(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS zeros
          |  FROM regs GROUP BY 1)
          |SELECT event_type,
          |  CAST(round(CASE WHEN (0.7213 / (1.0 + 1.079 / 2048.0)) * 2048.0 * 2048.0 / s
          |                      <= 2.5 * 2048.0 AND zeros > 0
          |             THEN 2048.0 * ln(2048.0 / zeros)
          |             ELSE (0.7213 / (1.0 + 1.079 / 2048.0)) * 2048.0 * 2048.0 / s END)
          |       AS BIGINT) AS approx_users
          |FROM est""".stripMargin,
      // KMV rollup: the merged per-type sketch is the 1024 smallest
      // DISTINCT (hash, value) pairs of that type (bottom-k of a union
      // of bottom-ks == global bottom-k); quantile = nearest-rank on
      // the value-sorted sample, rank = min(n, max(1, ceil(p·n))).
      "q_theta_sets" -> SetSketch.thetaSetsSql,
      "q_quantile_rollup" ->
        """WITH pts AS (
          |  SELECT DISTINCT event_type,
          |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
          |         value
          |  FROM events WHERE value IS NOT NULL),
          |samp AS (
          |  SELECT event_type, value,
          |         row_number() OVER (PARTITION BY event_type ORDER BY h, value) AS rh
          |  FROM pts),
          |ranked AS (
          |  SELECT event_type, value,
          |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rv,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM samp WHERE rh <= 1024)
          |SELECT event_type,
          |  round(max(CASE WHEN rv = least(n, greatest(1, CAST(ceil(0.50 * n) AS BIGINT)))
          |            THEN value END), 4) AS p50,
          |  round(max(CASE WHEN rv = least(n, greatest(1, CAST(ceil(0.95 * n) AS BIGINT)))
          |            THEN value END), 4) AS p95,
          |  round(max(CASE WHEN rv = least(n, greatest(1, CAST(ceil(0.99 * n) AS BIGINT)))
          |            THEN value END), 4) AS p99
          |FROM ranked GROUP BY event_type""".stripMargin,
      // q_event_agg_approx / q_perf_approx omitted: Spark-internal
      // HLL++/GK sketches are engine-specific by design (rows-only check)
    )
  }
}
