package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextAnalysis

/** Streaming leg of the curation pipeline: corpus ingestion one shard
  * at a time — the shape a 100 TB corpus is actually curated in
  * (FineWeb processes one CommonCrawl dump against the accumulated
  * index of all previous dumps; nobody re-curates the full corpus per
  * arrival). Reference behavior composed from the per-window
  * incremental discipline of `services/processing/src/jobs` applied
  * to the curation recipe.
  *
  * Semantics per arriving shard:
  *
  *   1. gate: quality + language scoring, map-side (stateless).
  *   2. exact dedup, intra-shard: keep the lowest doc_id per
  *      md5(text).
  *   3. exact dedup, cross-shard: anti-join the shard's fingerprints
  *      against the accumulated fingerprint STORE (all GATED docs of
  *      earlier shards) — first arrival wins, later copies drop.
  *   4. near dedup, intra-shard: MinHash→LSH→CC, keep the
  *      highest-quality member per cluster
  *      ([[graft.dedup.Clusters.dropsBest]]).
  *   5. the shard's gated fingerprints append to the store; survivors
  *      append to the curated output. Both writes land in their own
  *      `batch_id=` partition with overwrite semantics, so a
  *      crash-replayed batch rewrites exactly its own state — the
  *      [[GraphRank]] / storage-sink idempotence contract.
  *
  * Why this is EXACT, not an approximation of the batch answer: md5
  * equality is transitive, so "first wins against the store" over
  * id-ordered shards is the same set as one global
  * keep-min-doc_id-per-fingerprint; MinHash signatures, band buckets
  * and est-jaccard are functions of the two docs alone, so per-shard
  * candidate generation equals the global candidate set restricted to
  * same-shard pairs. [[incrCurate]] (the loop) therefore hash-matches
  * the FLAT [[graft.text.Curate.incrCurateSql]] oracle — order
  * dependence cancels exactly (q_curate_incr).
  *
  * What incremental ingestion deliberately does NOT do: near-dup
  * detection ACROSS shards. Emitted survivors are immutable (they may
  * already be training a model); a late near-copy of an early survivor
  * is a policy decision, not an algebraic one — see
  * [[crossShardNearDups]] for the detection query over the persisted
  * fingerprint/signature state.
  *
  * Scale shape: per shard the work is O(shard) scoring + one
  * fingerprint-keyed anti-join against the store (store is
  * fingerprint-sized, read key-pruned) + LSH/CC over the shard only.
  * Nothing ever re-touches earlier shards' text.
  */
object CurateIngest {

  /** Gate + fingerprint one shard: (doc_id, text, n_chars,
    * quality_pm, lang_pred, fingerprint) for docs passing the
    * quality/language gate. Pure map-side. */
  def gateShard(shard: DataFrame, minQualityPm: Long = 600,
                langs: Seq[String] = Seq("en", "de")): DataFrame =
    TextAnalysis.scoreDocs(shard)
      .filter(TextAnalysis.passesGate(minQualityPm, langs))
      .withColumn("fingerprint", md5(col("text")))

  /** [[gateShard]] plus the GOPHER repetition gate — the Dolma/FineWeb
    * heuristic stack on the ingest path: a shard doc dominated by
    * repeated n-grams / duplicate lines
    * ([[graft.text.Repetition.repetitionSignals]], Rae et al. 2021
    * thresholds) is rejected alongside the quality/language gates,
    * BEFORE any dedup store work is spent on it. The signals add one
    * exploded-gram pass over the SHARD only — the store is never
    * touched; the batch funnel twin is
    * [[graft.text.Curate.curateGopherAudit]] (verdict `repetitious`).
    *
    * Input contract: `shard` should be PINNED (a checkpointed or stored
    * frame). It is read by two branches — the gate and the repetition
    * signals — so an unpinned pipeline runs twice, and the signals are
    * computed for gate-rejected docs too. That is the deliberate shape:
    * the repetition signals are a narrow per-doc fold (zero shuffle
    * since r13) and gopher_pass is per-doc, so intersecting with the
    * gate gives the same set either way, while the r16 shape paid a
    * localCheckpoint barrier per shard just to score survivors only
    * (the loops are measured job-latency-bound, r17). Every production
    * caller ([[Funnel.step]] with [[Funnel.full]]) hands it the
    * checkpointed scrubbed shard. */
  def gateShardGopher(shard: DataFrame, minQualityPm: Long = 600,
                      langs: Seq[String] = Seq("en", "de")): DataFrame =
    gateShard(shard, minQualityPm, langs)
      .join(graft.text.Repetition.repetitionSignals(
          shard.select(col("doc_id"), col("text")))
        .filter(col("gopher_pass") === 1).select(col("doc_id")),
        Seq("doc_id"), "left_semi")

  /** [[gateShard]] over PRECOMPUTED signals
    * ([[graft.text.TextAnalysis.docSignals]] — quality_pm and
    * lang_pred already ride the rows): same filter, same fingerprint,
    * no text scans. */
  def gateFromSignals(signals: DataFrame, minQualityPm: Long = 600,
                      langs: Seq[String] = Seq("en", "de")): DataFrame =
    signals
      .filter(TextAnalysis.passesGate(minQualityPm, langs))
      .withColumn("fingerprint", md5(col("text")))

  /** The whole id-ordered ingestion as one deterministic loop — the
    * q_curate_incr engine side ([[ShardLoop]]; shards are doc_id ranges
    * of width `shardSize` below `maxId`, bounded so the loop length is a
    * constant, like q_incr_dedup's fixed split). Hash-matches
    * [[graft.text.Curate.incrCurateSql]]. */
  def incrCurate(docs: DataFrame, shardSize: Long = 150,
                 maxId: Long = 600, minQualityPm: Long = 600,
                 langs: Seq[String] = Seq("en", "de")): DataFrame =
    loop(docs, shardSize, maxId, Funnel.exact(gateShard(_, minQualityPm, langs)))
      .select(col("doc_id"), col("shard_id"), col("lang_pred"),
        col("quality_pm"), col("n_chars"))

  /** The strict ingestion as one deterministic loop — q_curate_strict's
    * engine side. The same order-cancellation that makes [[incrCurate]]
    * flat-expressible extends to the strict leg: the signature store at
    * shard s is exactly the sigs of the global post-exact set
    * restricted to shards < s (md5 transitivity), and banding collision
    * + est-jaccard are pair-local, so "drops against the store" equals
    * "has an earlier-shard partner in the global candidate set" — the
    * flat [[graft.text.Curate]] twin needs no recursion. */
  def incrCurateStrict(docs: DataFrame, shardSize: Long = 150,
                       maxId: Long = 600, minQualityPm: Long = 600,
                       langs: Seq[String] = Seq("en", "de"),
                       minEstJaccard: Double = 0.5): DataFrame =
    loop(docs, shardSize, maxId,
        Funnel.strict(gateShard(_, minQualityPm, langs), minEstJaccard))
      .select(col("doc_id"), col("shard_id"), col("lang_pred"),
        col("quality_pm"), col("n_chars"))

  private def loop(docs: DataFrame, shardSize: Long, maxId: Long,
                   funnel: Funnel): DataFrame =
    ShardLoop.run(docs, shardSize, maxId, funnel.stores) { (shard, i, stores) =>
      val out = Funnel.step(shard, funnel, stores)
      out.copy(kept = () => out.kept().withColumn("shard_id", lit(i.toLong)))
    }

  /** The FULL 6-stage funnel ([[graft.text.Curate.curateFull]]'s
    * recipe, [[Funnel.full]]) as one id-ordered incremental loop — every
    * cross-shard stage running against its own accumulated store; the
    * benchmark-contamination gate runs against the STATIC benchmark gram
    * set (a real benchmark is external and never scrubbed, so the bench
    * side is a fixed input, shard-local to apply).
    *
    * q_curate_full_incr hash-matches this loop against the flat
    * [[graft.text.Curate.curateFullStrictIncrSql]] twin: the scrub
    * store equality is q_scrub_incr's (id-ordered shards make "in
    * store" ⇔ "global earlier occurrence"), the exact/near stages are
    * [[incrCurateStrict]]'s (md5 transitivity, pair-local banding),
    * and the contamination stage is per-doc arithmetic against a
    * constant set — so the whole composition's order dependence
    * cancels stage by stage. */
  def incrCurateFullStrict(docs: DataFrame, shardSize: Long = 150,
                           maxId: Long = 600, minQualityPm: Long = 600,
                           langs: Seq[String] = Seq("en", "de"),
                           minEstJaccard: Double = 0.5, n: Int = 8,
                           benchMaxId: Long = 20,
                           maxContamPm: Long = 800,
                           gopherGate: Boolean = false,
                           anonymize: Boolean = false): DataFrame = {
    // the bench gram set (raw text, the curateFull contract) is pinned
    // on the first shard, after the loop's shard-count guard
    lazy val funnel = Funnel.full(
      graft.dedup.Dedup.benchGrams(
          docs.filter(col("doc_id") < benchMaxId && col("doc_id") < maxId), n)
        .localCheckpoint(),
      minQualityPm, langs, minEstJaccard, n, benchMaxId, maxContamPm,
      gopherGate, anonymize)
    ShardLoop.run(docs, shardSize, maxId,
        Seq(Store.Gram, Store.Fp, Store.Sig)) { (shard, _, stores) =>
      Funnel.step(shard, funnel, stores)
    }.select(col("doc_id"), col("lang_pred"), col("quality_pm"),
      col("n_chars"))
  }

  // ------------------------------------------------ disk-backed stream

  /** One micro-batch: the funnel against the pre-batch stores under
    * `root` ([[Store.dir]] each), then every store append and the
    * survivors land in their own `batch_id` partition. Every store read
    * is pinned strictly before the batch, so a crash-replayed batch
    * rewrites each partition with identical content and the writes can
    * never see their own output. */
  def writeShard(batch: DataFrame, batchId: Long, root: String,
                 funnel: Funnel = Funnel.exact(),
                 layout: StoreLayout = StoreLayout.Flat): Unit = {
    val spark = batch.sparkSession
    val out = Funnel.step(batch, funnel, funnel.stores
      .map(s => s -> layout.state(spark, s, root, batchId)).toMap)
    out.appends.foreach { case (s, df) =>
      Stores.writeBatch(df, batchId, s.path(root)) }
    Stores.writeBatch(out.kept(), batchId, Store.Kept.path(root))
  }

  /** The wired pipeline: a document stream curated shard-at-a-time
    * through `funnel`, its stores under `root` in `layout`, compacting
    * every `compactEvery` batches ([[StoreLayout.tick]]; the store tree
    * stays bounded at n+1 partitions). `sigRetentionBatches` is the
    * signature store's re-admission policy ([[StoreLayout.compact]]). */
  def start(docStream: DataFrame, root: String, checkpoint: String,
            funnel: Funnel = Funnel.exact(),
            layout: StoreLayout = StoreLayout.Flat,
            compactEvery: Option[Long] = None,
            sigRetentionBatches: Option[Long] = None): StreamingQuery =
    docStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeShard(batch, batchId, root, funnel, layout)
        layout.tick(batch.sparkSession, root, funnel.stores :+ Store.Kept,
          batchId, compactEvery, sigRetentionBatches)
        ()
      }
      .start()

  /** Cross-shard near-dup pairs computed ENTIRELY from persisted
    * banded signatures — the store-probing detection read. Signatures,
    * band keys and est-Jaccard are all functions of the stored rows
    * ([[sigBands]]'s 4 keyed rows + 16 hashes per doc), so detection
    * joins shard A's stored rows against shard B's on (band, bkey)
    * and agreement-counts the riding signatures: it TOKENIZES NOTHING
    * (plan-gated in CurateStreamSpec) and never touches text. At
    * 100 TB this is the difference between a fingerprint-sized store
    * probe and re-shingling every survivor — strict ingestion already
    * paid the signature cost once per seen doc.
    *
    * Exactness: a cross pair collides in band k of the union's banded
    * table iff A's row and B's row for band k carry equal bkeys, and
    * the agreement fraction is symmetric in the pair — so this equals
    * [[graft.dedup.Dedup.minhashCandidates]] over the union restricted
    * to cross-shard pairs (both membership orientations), which is
    * exactly [[crossShardNearDups]]'s contract (hash-matched through
    * q_cross_shard_dups / q_deferred_clusters). */
  def crossShardNearDupsFromSigs(sigsA: DataFrame, sigsB: DataFrame,
                                 minEstJaccard: Double = 0.5): DataFrame = {
    import graft.dedup.Dedup.numHashes
    val matches = (0 until numHashes)
      .map(i => when(col(s"x.h$i") === col(s"y.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    sigsA.as("x").join(sigsB.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"),
        round(matches.cast("double") / numHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** The cross-shard near-dup DETECTION query the ingestion loop
    * deliberately defers (emitted survivors are immutable): banded
    * MinHash pairs between two curated shards' survivors — the
    * monitoring read that tells an operator "shard 12 re-imported
    * shard 3's docs" without re-curating anything. The text-input
    * convenience form: signatures are (re)derived here once per side,
    * then detection itself is the store-probing
    * [[crossShardNearDupsFromSigs]] join — at scale both sides come
    * straight from the strict leg's signature store instead. */
  def crossShardNearDups(docsA: DataFrame, docsB: DataFrame,
                         minEstJaccard: Double = 0.5): DataFrame =
    crossShardNearDupsFromSigs(sigBands(docsA), sigBands(docsB),
      minEstJaccard)

  /** The deferred-merge loop CLOSED: would-have-merged clusters across
    * two curated shards, materialized by folding the deferred
    * cross-shard pairs ([[crossShardNearDups]]) into the per-shard
    * cluster labelings through the incremental CC refresh
    * ([[graft.dedup.Clusters.refreshClusters]]) — no re-curation, no
    * batch CC over the accumulated pair history. Exact: per-shard
    * candidates ∪ cross-shard candidates IS the global candidate set
    * (signatures and banding are pair-local), and the contraction
    * identity makes the refresh equal batch CC over that union — so
    * the oracle is flat [[graft.dedup.Clusters.dupClustersSql]] over
    * the bounded corpus.
    *
    * Scale shape: at scale the per-shard labelings and cross pairs
    * come from the persisted stores (per-shard curation output and
    * the [[sigBands]] signature store); the refresh's CC runs on the
    * root-contracted DEFERRED pairs only. */
  def deferredClusters(docs: DataFrame, splitId: Long = 250,
                       maxId: Long = 500,
                       minEstJaccard: Double = 0.5): DataFrame = {
    val bounded = docs.filter(col("doc_id") < maxId)
      .select(col("doc_id"), col("text")).localCheckpoint()
    // tokenize each shard ONCE into its banded signature rows — the
    // store's write unit — then both the intra-shard candidates and
    // the cross-shard detection are signature-store probes (a
    // self-probe IS minhashCandidates: both orientations of the band
    // join collapse under the canonical distinct)
    val sa = sigBands(bounded.filter(col("doc_id") < splitId))
      .localCheckpoint()
    val sb = sigBands(bounded.filter(col("doc_id") >= splitId))
      .localCheckpoint()
    val intraPairs = crossShardNearDupsFromSigs(sa, sa, minEstJaccard)
      .unionByName(crossShardNearDupsFromSigs(sb, sb, minEstJaccard))
      .select(col("a_id"), col("b_id"))
    graft.dedup.Clusters.refreshClusters(
      graft.dedup.Clusters.connectedComponents(intraPairs),
      crossShardNearDupsFromSigs(sa, sb, minEstJaccard)
        .select(col("a_id"), col("b_id")))
  }

  /** DuckDB twin of [[deferredClusters]]: the refresh equals flat
    * batch CC over the bounded corpus, so the oracle is the
    * [[graft.dedup.Clusters.dupClustersSql]] chain under a shadowing
    * bounded-documents CTE — the equivalence claim IS the query. */
  def deferredClustersSql(maxId: Long = 500,
                          minEstJaccard: Double = 0.5): String =
    s"""WITH documents AS (
       |  SELECT * FROM main.documents WHERE doc_id < $maxId)
       |SELECT * FROM (
       |${graft.dedup.Clusters.dupClustersSql(4, minEstJaccard)}
       |)""".stripMargin

  // ----------------------------------- strict cross-shard near-dup leg

  /** Banded MinHash signature rows for the given docs (doc_id, h0..h15,
    * band, bkey) — the unit the strict leg's signature store
    * accumulates: 4 rows per SEEN document, fingerprint-sized, never
    * the text. */
  def sigBands(docs: DataFrame): DataFrame = {
    import graft.dedup.Dedup.{numBands, numHashes, rowsPerBand}
    val sig = graft.dedup.Dedup.minhashSignatures(docs)
    val bandKey = (b: Int) => md5(concat_ws(",",
      (0 until rowsPerBand).map(r =>
        col(s"h${b * rowsPerBand + r}").cast("string")): _*))
    sig.select(
      col("doc_id") +:
        posexplode(array((0 until numBands).map(bandKey): _*))
          .as(Seq("band", "bkey")) +:
        (0 until numHashes).map(i => col(s"h$i")): _*)
  }


  /** Ingestion-side drift monitoring: PSI of the post-gate LANGUAGE
    * MIX between consecutive shards — "shard 3 suddenly skews German"
    * is the data-quality regression an ingestion pipeline must catch
    * before the shard trains anything. Quality-gated but NOT
    * language-gated (the mix is what's being measured). Reuses
    * [[graft.operators.Drift.psiOfCounts]] with shard_id as the
    * window axis — the count table is #shards·#langs rows, and
    * everything after the one groupBy is post-aggregate arithmetic. */
  def shardMixDrift(docs: DataFrame, shardSize: Long = 150,
                    maxId: Long = 600,
                    minQualityPm: Long = 600): DataFrame = {
    val counts = TextAnalysis.scoreDocs(docs.filter(col("doc_id") < maxId))
      .filter(col("quality_pm") >= minQualityPm)
      .groupBy(expr(s"doc_id div $shardSize").as("window_start_ms"),
        col("lang_pred").as("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    graft.operators.Drift.psiOfCounts(counts, "shard_id", "n_langs")
  }

  /** DuckDB twin: the windowMixDrift dense-grid/ppm/lag chain with
    * shard_id as the window axis, rolled up to one PSI per shard. */
  def shardMixDriftSql(shardSize: Long = 150, maxId: Long = 600,
                       minQualityPm: Long = 600): String =
    s"""WITH bounded AS (
       |  SELECT doc_id, text, n_chars FROM main.documents
       |  WHERE doc_id < $maxId),
       |scored AS (
       |  SELECT doc_id, lang_pred FROM (
       |    SELECT doc_id,
       |           ${TextAnalysis.qualityPmSql} AS quality_pm,
       |           ${TextAnalysis.langPredSql} AS lang_pred
       |    FROM bounded)
       |  WHERE quality_pm >= $minQualityPm),
       |wcnt AS (
       |  SELECT doc_id // $shardSize AS shard_id, lang_pred,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM scored GROUP BY 1, 2),
       |dense AS (
       |  SELECT g.shard_id, g.lang_pred, coalesce(c.cnt, 0) AS cnt
       |  FROM (SELECT w.shard_id, t.lang_pred
       |        FROM (SELECT DISTINCT shard_id FROM wcnt) w,
       |             (SELECT DISTINCT lang_pred FROM wcnt) t) g
       |  LEFT JOIN wcnt c
       |    ON c.shard_id = g.shard_id AND c.lang_pred = g.lang_pred),
       |ppmt AS (
       |  SELECT shard_id, lang_pred,
       |         CAST(cnt * 1000000 //
       |              nullif(CAST(sum(cnt) OVER (PARTITION BY shard_id) AS BIGINT), 0)
       |              AS BIGINT) AS ppm
       |  FROM dense),
       |lagd AS (
       |  SELECT shard_id, lang_pred, ppm,
       |         lag(ppm) OVER (PARTITION BY lang_pred ORDER BY shard_id)
       |           AS prev_ppm
       |  FROM ppmt)
       |SELECT shard_id,
       |       ${graft.operators.FixedPoint.sum6Round4Sql(
              """((ppm - prev_ppm) / 1e6) *
                |         ln(CAST(greatest(ppm, 1) AS DOUBLE) /
                |            CAST(greatest(prev_ppm, 1) AS DOUBLE))""".stripMargin)} AS psi,
       |       CAST(count(*) AS INT) AS n_langs
       |FROM lagd WHERE prev_ppm IS NOT NULL
       |GROUP BY 1""".stripMargin

  /** Classifier-calibration drift: PSI of the NB quality-score
    * DISTRIBUTION across ingestion shards — the model-ops read that
    * catches the [[QualityRefresh]]-maintained filter drifting with
    * the corpus (a score histogram that shifts shard-over-shard means
    * the model and the data are moving apart, even while the
    * ACCEPT/REJECT rate looks stable). Scores come from
    * [[graft.text.QualityModel.nbQuality]]; the corpus-wide score
    * order is cut into `nBins` ntile bins (deterministic total order:
    * score, then doc_id), per-(shard, bin) counts feed the same dense
    * ppm grid + lag machinery as [[shardMixDrift]]
    * ([[graft.operators.Drift.psiOfCounts]]), and each shard
    * reports one PSI against its predecessor.
    *
    * Scale shape: everything after scoring is post-aggregate
    * arithmetic over #shards·#bins rows. The global ntile is the
    * ORACLE-EXACT binning over the bounded corpus; the production
    * substitution at 100 TB is sketch-derived decile boundaries
    * ([[graft.functions]] quantile sketch) applied map-side — the
    * grid/PSI read underneath is unchanged. */
  def qualityScoreDrift(docs: DataFrame, shardSize: Long = 150,
                        nBins: Int = 10): DataFrame = {
    val wBin = Window.orderBy(col("nb_score_micro"), col("doc_id"))
    val counts = graft.text.QualityModel.nbQuality(docs)
      .select(col("doc_id"), ntile(nBins).over(wBin).as("bin"))
      .groupBy(expr(s"doc_id div $shardSize").as("window_start_ms"),
        col("bin").cast("string").as("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    graft.operators.Drift.psiOfCounts(counts, "shard_id", "n_bins")
  }

  /** [[qualityScoreDrift]]'s PRODUCTION binning: decile boundaries
    * from a mergeable percentile sketch (`percentile_approx` — a
    * distributed aggregate, no global sort) broadcast into a
    * map-side bin assignment, then the identical grid/PSI read. This
    * is the 100 TB substitution the exact variant's scaladoc
    * promises; CurateStreamSpec gates its agreement with the exact
    * ntile binning on the injected-shift corpus (same alert, same
    * quiet shards) instead of an oracle twin — the boundaries are
    * approximate by construction. */
  def qualityScoreDriftSketch(docs: DataFrame, shardSize: Long = 150,
                              nBins: Int = 10,
                              accuracy: Int = 10000): DataFrame = {
    val scored = graft.text.QualityModel.nbQuality(docs)
      .select(col("doc_id"), col("nb_score_micro")).localCheckpoint()
    val probs = (1 until nBins).map(_.toDouble / nBins)
    // percentile_approx over ZERO rows is null — an empty corpus must
    // yield the empty drift table (as the exact variant does), not NPE
    val boundsRow = scored.agg(percentile_approx(col("nb_score_micro"),
      array(probs.map(lit): _*), lit(accuracy))).head()
    val bounds: Seq[Long] =
      if (boundsRow.isNullAt(0)) Seq.empty else boundsRow.getSeq[Long](0)
    val bin = bounds.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col("nb_score_micro") > b, 1).otherwise(0)
    }
    val counts = scored
      .groupBy(expr(s"doc_id div $shardSize").as("window_start_ms"),
        bin.cast("string").as("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    graft.operators.Drift.psiOfCounts(counts, "shard_id", "n_bins")
  }

  /** DuckDB twin: [[graft.text.QualityModel.nbQualitySql]] as the
    * scoring CTE, the same deterministic ntile, then the
    * [[shardMixDriftSql]] dense-grid/ppm/lag chain with the bin as
    * the mix axis. */
  def qualityScoreDriftSql(shardSize: Long = 150, nBins: Int = 10,
                           minQualityPm: Long = 600): String =
    s"""WITH scored AS (
       |  SELECT * FROM (
       |${graft.text.QualityModel.nbQualitySql(minQualityPm)}
       |  )),
       |binned AS (
       |  SELECT doc_id,
       |         ntile($nBins) OVER (ORDER BY nb_score_micro, doc_id) AS bin
       |  FROM scored),
       |wcnt AS (
       |  SELECT doc_id // $shardSize AS shard_id, CAST(bin AS VARCHAR) AS bin,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM binned GROUP BY 1, 2),
       |dense AS (
       |  SELECT g.shard_id, g.bin, coalesce(c.cnt, 0) AS cnt
       |  FROM (SELECT w.shard_id, t.bin
       |        FROM (SELECT DISTINCT shard_id FROM wcnt) w,
       |             (SELECT DISTINCT bin FROM wcnt) t) g
       |  LEFT JOIN wcnt c
       |    ON c.shard_id = g.shard_id AND c.bin = g.bin),
       |ppmt AS (
       |  SELECT shard_id, bin,
       |         CAST(cnt * 1000000 //
       |              nullif(CAST(sum(cnt) OVER (PARTITION BY shard_id) AS BIGINT), 0)
       |              AS BIGINT) AS ppm
       |  FROM dense),
       |lagd AS (
       |  SELECT shard_id, bin, ppm,
       |         lag(ppm) OVER (PARTITION BY bin ORDER BY shard_id)
       |           AS prev_ppm
       |  FROM ppmt)
       |SELECT shard_id,
       |       ${graft.operators.FixedPoint.sum6Round4Sql(
              """((ppm - prev_ppm) / 1e6) *
                |         ln(CAST(greatest(ppm, 1) AS DOUBLE) /
                |            CAST(greatest(prev_ppm, 1) AS DOUBLE))""".stripMargin)} AS psi,
       |       CAST(count(*) AS INT) AS n_bins
       |FROM lagd WHERE prev_ppm IS NOT NULL
       |GROUP BY 1""".stripMargin


  /** DuckDB twin of [[crossShardNearDups]] over the id-range split the
    * q_cross_shard_dups query uses: candidates over the bounded union,
    * kept only when the pair straddles the split. With id-range shards
    * and the a_id < b_id canonical order only one orientation can
    * occur, so the symmetric OR is written out to match the engine's
    * both-orientation semantics without changing this query's rows. */
  def crossShardNearDupsSql(splitId: Long = 250, maxId: Long = 500,
                            minEstJaccard: Double = 0.5): String =
    s"""WITH documents AS (
       |  SELECT * FROM main.documents WHERE doc_id < $maxId),
       |cand AS (
       |  SELECT * FROM (
       |${graft.dedup.Dedup.minhashCandidatesSql(4, minEstJaccard)}
       |  ))
       |SELECT a_id, b_id, est_jaccard FROM cand
       |WHERE (a_id < $splitId AND b_id >= $splitId)
       |   OR (a_id >= $splitId AND b_id < $splitId)""".stripMargin
}
