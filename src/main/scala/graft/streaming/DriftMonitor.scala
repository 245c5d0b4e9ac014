package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The combined topology's MONITORING leg — the alerts the ingestion
  * stream exists to serve, computed ON the stream instead of as
  * after-the-fact batch reads: per-batch language-mix counts
  * ([[CurateIngest.shardMixDrift]]'s axis) and score-decile counts
  * ([[CurateIngest.qualityScoreDriftSketch]]'s axis, sketch binning —
  * no global sort anywhere) land as monoid rows in a `batch_id`-
  * partitioned store, and the PSI reads run over the store alone.
  *
  * Reference discipline: PSI over scores measures DATA drift only if
  * the score function and the bin edges are FIXED — a retraining
  * model would shift every histogram and bury the signal (exactly
  * the one-model semantics of the batch twin,
  * [[CurateIngest.qualityScoreDrift]], which scores the whole corpus
  * with one trained model). So the FIRST batch that has a deployed
  * model freezes the REFERENCE artifact — that model's weight table +
  * prior and the `percentile_approx` decile boundaries of that
  * batch's scores — into a write-once sentinel partition; every later
  * batch scores and bins against the frozen reference, map-side.
  *
  * RE-BASELINING (generations): after real corpus evolution the first
  * frozen scorer eventually alerts on every batch and the signal
  * saturates. [[refreeze]] is the explicit operator action: it writes
  * a NEW sentinel GENERATION (partition `batch_id = -(2 + gen)`,
  * generation 0 being the original `-2`), keeping every older
  * generation for continuity. Each batch records the generation it
  * was binned under (an `axis = "gen"` row), and [[driftRead]]
  * computes score-PSI only BETWEEN batches binned under the SAME
  * generation — the first batch after a re-freeze has no same-
  * generation predecessor and is silent, exactly the semantics of
  * starting a fresh fixed-scorer baseline. Old stores without gen
  * rows read as generation 0.
  *
  * Replay discipline: batch rows land in their own `batch_id`
  * partition with dynamic overwrite ([[CurateIngest]]'s contract);
  * each sentinel generation is written at most once and never
  * rewritten (a torn sentinel — crash mid-write — reads as absent and
  * the reader falls back to the newest COMPLETE generation), and a
  * REPLAYED batch re-bins under the generation recorded by its own
  * first-write `gen` row rather than the newest one (so a crash-replay
  * window that straddles a [[refreeze]] still converges), so every
  * path through a crash window converges to the same store.
  *
  * Scale shape: scoring is a broadcast weight join over the batch's
  * SHARED token frame (no re-tokenize — the combined topology's one
  * tokenization feeds this leg too); everything after is a per-batch
  * groupBy over #langs + #bins keys, and the store holds
  * #batches · (#langs + #bins + 1) count rows plus one vocab-sized
  * sentinel per generation — the PSI read is post-aggregate
  * arithmetic over kilobytes, and its only driver-side actions are
  * generation-count-sized. */
object DriftMonitor {

  private val schema = StructType(Seq(
    StructField("axis", StringType), StructField("key", StringType),
    StructField("cnt", LongType), StructField("batch_id", LongType)))

  val LangAxis = "lang"
  val ScoreAxis = "score"
  private val GenAxis = "gen"
  private val BoundsAxis = "bounds"
  private val ModelAxis = "model"
  private val PriorAxis = "prior"
  private val RefId = -2L

  private def sentinelId(gen: Long): Long = RefId - gen
  private def genOf(batchId: Long): Long = RefId - batchId

  private case class Frozen(gen: Long, weights: DataFrame, prior: Long,
                            bounds: Seq[Long])

  /** The newest COMPLETE frozen generation, if any batch (or
    * [[refreeze]]) has written one — or, when `want` is set, exactly
    * that generation (the replay-stickiness path). `cnt` carries the
    * VALUE on the sentinel axes (boundary / weight / prior) —
    * documented reuse of the one-schema store. A torn generation
    * (crash mid-write) reads as absent and the scan falls back to the
    * next-older complete one. `store` is the caller's ONE pinned read
    * of the drift store ([[writeDriftDelta]] derives the sticky gen
    * row and the sentinels from the same frame — ADVICE r13: no
    * second store scan on the hot streaming path). */
  private def frozenRef(store: DataFrame,
                        want: Option[Long] = None): Option[Frozen] = {
    val sent = store.filter(col("batch_id") <= RefId)
    // generation-count-sized driver action: one distinct over the
    // sentinel partition column
    val gens = sent.select(col("batch_id")).distinct().collect()
      .map(r => genOf(r.getLong(0))).sorted.reverse
      .filter(g => want.forall(_ == g))
    gens.iterator.map { g =>
      val part = sent.filter(col("batch_id") === sentinelId(g))
      val bounds = part.filter(col("axis") === BoundsAxis)
        .select(col("key").cast("int").as("i"), col("cnt"))
        .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
      val prior = part.filter(col("axis") === PriorAxis)
        .select(col("cnt")).collect().headOption.map(_.getLong(0))
      (bounds.nonEmpty, prior) match {
        case (true, Some(p)) =>
          Some(Frozen(g, part.filter(col("axis") === ModelAxis)
            .select(col("key").as("token"), col("cnt").as("w_u")), p, bounds))
        case _ => None
      }
    }.collectFirst { case Some(f) => f }
  }

  private def binned(scored: DataFrame, bounds: Seq[Long]): DataFrame = {
    val bin = bounds.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col("nb_score_micro") > b, 1).otherwise(0)
    }
    scored.groupBy(bin.cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("axis", lit(ScoreAxis))
  }

  /** Write one frozen-scorer sentinel generation: weights + prior +
    * decile bounds, all in one dynamic-overwrite partition write. */
  private def writeSentinel(spark: SparkSession, driftPath: String,
                            gen: Long, weights: DataFrame, prior: Long,
                            bounds: Seq[Long]): Unit = {
    import spark.implicits._
    Stores.writeBatch(weights.select(lit(ModelAxis).as("axis"),
        col("token").as("key"), col("w_u").as("cnt"))
      .unionByName(Seq((PriorAxis, "p", prior)).toDF("axis", "key", "cnt"))
      .unionByName(bounds.zipWithIndex
        .map { case (b, i) => (BoundsAxis, i.toString, b) }
        .toDF("axis", "key", "cnt")), sentinelId(gen), driftPath)
  }

  /** The explicit RE-BASELINE operator action: freeze a new scorer
    * generation from the CURRENT accumulated model state
    * ([[QualityRefresh]] counts/dstats stores) with decile boundaries
    * taken over `refDocs` (the operator's chosen reference sample —
    * typically recent post-drift batches). Older generations stay on
    * disk: rows already binned under them keep their PSI chains, and
    * [[driftRead]] never compares across the boundary. Returns the new
    * generation, or None when no model state exists yet. */
  def refreeze(spark: SparkSession, driftPath: String, refDocs: DataFrame,
               countsPath: String, dstatsPath: String, nBins: Int = 10,
               accuracy: Int = 10000): Option[Long] = {
    val (w, prior) = QualityRefresh.modelStateBefore(spark, countsPath,
      dstatsPath, Long.MaxValue)
    if (w.isEmpty) None
    else {
      val wPinned = w.localCheckpoint()
      val scored = graft.text.QualityModel.scoreWith(refDocs, wPinned, prior)
        .select(col("doc_id"), col("nb_score_micro")).localCheckpoint()
      val probs = (1 until nBins).map(_.toDouble / nBins)
      val row = scored.agg(percentile_approx(col("nb_score_micro"),
        array(probs.map(lit): _*), lit(accuracy))).head()
      val bs: Seq[Long] =
        if (row.isNullAt(0)) Seq.empty else row.getSeq[Long](0)
      if (bs.isEmpty) None
      else {
        // next generation = newest sentinel partition present + 1
        // (torn or not: overwriting a torn hole is a full rewrite)
        val present = Stores.readStore(spark, driftPath, schema)
          .filter(col("batch_id") <= RefId)
          .select(col("batch_id")).distinct().collect()
          .map(r => genOf(r.getLong(0)))
        val newGen = if (present.isEmpty) 0L else present.max + 1L
        writeSentinel(spark, driftPath, newGen, wPinned, prior, bs)
        Some(newGen)
      }
    }
  }

  /** One micro-batch's monitoring rows. `tokens` / `signals` are the
    * combined topology's shared token frame and per-doc gate signals
    * ([[graft.text.TextAnalysis.docSignals]]) — nothing here re-scans
    * text. */
  def writeDriftDelta(batch: DataFrame, tokens: DataFrame,
                      signals: DataFrame, batchId: Long,
                      driftPath: String, countsPath: String,
                      dstatsPath: String, minQualityPm: Long = 600,
                      nBins: Int = 10, accuracy: Int = 10000): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // axis 1 — language mix of the QUALITY-gated batch (language NOT
    // gated: the mix is what's being measured — shardMixDrift's rule)
    val lang = signals.filter(col("quality_pm") >= minQualityPm)
      .groupBy(col("lang_pred").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("axis", lit(LangAxis))
    // axis 2 — score deciles against the frozen generation this batch
    // BELONGS to, plus the gen row recording it. Replay stickiness
    // (ADVICE r12): a batch replayed across an operator re-freeze must
    // re-bin under the generation that binned it originally, or the
    // replayed rows differ from the first write and the crash-window
    // convergence claim breaks for that interleaving. The batch's own
    // store partition still holds its first-write rows at replay time
    // (dynamic overwrite replaces them only when this method's final
    // write lands), so ONE pinned store read (ADVICE r13: frozenRef
    // reuses this frame instead of scanning the store again) yields:
    //   - a gen row → pin that generation;
    //   - own rows but NO gen row → the first write predates every
    //     frozen generation (lang rows only), so the replay must NOT
    //     score either (ADVICE r13: scoring it under a generation
    //     frozen later would diverge from the first write);
    //   - no own rows → fresh batch, newest complete generation.
    // Until any reference exists the leg tries to freeze one (first
    // batch with a deployed model), staying silent before that.
    val store = Stores.readStore(spark, driftPath, schema).localCheckpoint()
    // bounded driver action: the batch's own partition holds at most
    // #langs + #bins + 1 rows by construction
    val ownAxes = store.filter(col("batch_id") === batchId)
      .select(col("axis"), col("cnt")).collect()
    val stickyGen: Option[Long] = ownAxes
      .find(_.getString(0) == GenAxis).map(_.getLong(1))
    val stickyNoScore = ownAxes.nonEmpty && stickyGen.isEmpty
    val ref = frozenRef(store, stickyGen)
      // a sticky generation whose sentinel reads torn (cannot happen
      // post-write-once, but stores predate invariants): newest wins
      .orElse(if (stickyGen.isDefined) frozenRef(store) else None)
    val score: Option[(DataFrame, Long)] = if (stickyNoScore) None
    else ref match {
      case Some(f) =>
        Some((binned(graft.text.QualityModel.scoreWithTokens(
          batch, tokens, f.weights, f.prior)
          .select(col("doc_id"), col("nb_score_micro")), f.bounds), f.gen))
      case None =>
        val (w, prior) = QualityRefresh.modelStateBefore(spark,
          countsPath, dstatsPath, batchId)
        if (w.isEmpty) None
        else {
          val wPinned = w.localCheckpoint()
          val scored = graft.text.QualityModel.scoreWithTokens(
            batch, tokens, wPinned, prior)
            .select(col("doc_id"), col("nb_score_micro"))
            .localCheckpoint()
          val probs = (1 until nBins).map(_.toDouble / nBins)
          val row = scored.agg(percentile_approx(col("nb_score_micro"),
            array(probs.map(lit): _*), lit(accuracy))).head()
          val bs: Seq[Long] =
            if (row.isNullAt(0)) Seq.empty else row.getSeq[Long](0)
          if (bs.isEmpty) None
          else {
            // freeze scorer + binning as generation 0, write-once; a
            // replayed reference batch finds the sentinel and takes
            // the frozen path to the identical rows
            writeSentinel(spark, driftPath, 0L, wPinned, prior, bs)
            Some((binned(scored, bs), 0L))
          }
        }
    }
    Stores.writeBatch(score.fold(lang) { case (s, g) =>
        lang.unionByName(s)
          .unionByName(Seq((GenAxis, g.toString, g)).toDF("axis", "key", "cnt"))
      }.select(col("axis"), col("key"), col("cnt")), batchId, driftPath)
  }

  /** PSI of each batch against its predecessor on one axis, straight
    * from the store: (batch_id, psi, n_keys) —
    * [[graft.operators.Drift.psiOfCounts]] with batch_id as the window,
    * the body [[CurateIngest.shardMixDrift]] also runs. On the score axis the chain runs WITHIN each
    * scorer generation (a batch is only compared to a predecessor
    * binned under the same frozen scorer — cross-generation deltas
    * measure the re-freeze, not the data). */
  def driftRead(spark: SparkSession, driftPath: String,
                axis: String): DataFrame = {
    val store = Stores.readStore(spark, driftPath, schema).localCheckpoint()
    val counts = store
      .filter(col("axis") === axis && col("batch_id") >= 0)
      .select(col("batch_id").as("window_start_ms"),
        col("key").as("event_type"), col("cnt"))
    def chain(c: DataFrame): DataFrame =
      graft.operators.Drift.psiOfCounts(c, "batch_id", "n_keys")
    if (axis != ScoreAxis) chain(counts.localCheckpoint())
    else {
      // batches lacking a gen row (pre-generation stores) are gen 0
      val gens = store.filter(col("axis") === GenAxis && col("batch_id") >= 0)
        .select(col("batch_id").as("window_start_ms"),
          col("cnt").as("__gen"))
      val withGen = counts.join(gens, Seq("window_start_ms"), "left")
        .withColumn("__gen", coalesce(col("__gen"), lit(0L)))
        .localCheckpoint()
      // generation-count-sized driver action; one chain per generation
      val genVals = withGen.select(col("__gen")).distinct()
        .collect().map(_.getLong(0)).sorted
      genVals.map(g => chain(withGen.filter(col("__gen") === g)
          .drop("__gen")))
        .reduceOption(_ unionByName _)
        .getOrElse(chain(counts.limit(0)))
    }
  }

  /** Batches whose PSI crosses the alert threshold (0.25 is the
    * conventional "significant shift" PSI line). */
  def driftAlerts(spark: SparkSession, driftPath: String, axis: String,
                  threshold: Double = 0.25): DataFrame =
    driftRead(spark, driftPath, axis)
      .filter(col("psi") >= threshold)
      .select(lit(axis).as("axis"), col("batch_id"), col("psi"),
        col("n_keys"))
}
