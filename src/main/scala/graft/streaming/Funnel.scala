package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Clusters

/** Stage 5 of the full funnel: the STATIC external benchmark gram set
  * ([[graft.dedup.Dedup.benchGrams]]; compute it once from the raw
  * benchmark docs and pin it — a real benchmark never arrives on the
  * stream). A survivor whose distinct n-gram overlap with it reaches
  * `maxContamPm` per-mille drops ([[graft.dedup.Dedup.contaminatedIds]]);
  * bench stand-ins (id < `benchMaxId`) pass through on their merits. */
private[streaming] final case class Contamination(bench: DataFrame, n: Int,
                                                  benchMaxId: Long,
                                                  maxContamPm: Long)

/** What one shard leaves behind: the survivor tail, deferred as a
  * thunk, and the rows each store appends, in write order. Nothing the
  * next shard's stores need reads the tail, so a loop can run it on a
  * background thread ([[ShardLoop]]); the disk-backed writer forces it
  * in place. */
final case class ShardOut(kept: () => DataFrame,
                          appends: ListMap[Store, DataFrame])

/** The curation funnel an ingest entry runs — one of three variants
  * ([[Funnel.exact]], [[Funnel.strict]], [[Funnel.full]]) that the entry
  * points used to hand-write, each a choice of these stages:
  *
  *   0. anonymize? — PII masked on the ARRIVING text, before any
  *      store-bound artifact derives from it (Dolma ordering);
  *   1. scrub? — span scrub against the gram store
  *      ([[graft.dedup.SpanScrub.scrubShard]]): repeated bytes cut
  *      against everything seen so far, before the gate can be inflated
  *      or masked by boilerplate (FineWeb ordering);
  *   2. gate — quality/language (± Gopher) scoring, passed in
  *      ([[CurateIngest.gateShard]], [[CurateIngest.gateShardGopher]],
  *      or a frame the caller derived from shared signals);
  *   3. exact — first arrival wins against the fingerprint store;
  *   4. near? — strict cross-shard near-dedup against the signature
  *      store (tombstones, no retraction) + within-shard keep-best;
  *   5. contamination? — the shard-local benchmark-overlap gate.
  *
  * Without near-dedup, stage 4 is the within-shard keep-best alone
  * (the FineWeb per-dump mode, [[CurateIngest.incrCurate]]). */
final class Funnel private (
    private[streaming] val gate: DataFrame => DataFrame,
    private[streaming] val minEstJaccard: Option[Double] = None,
    private[streaming] val contamination: Option[Contamination] = None,
    private[streaming] val anonymize: Boolean = false) {
  /** The scrub stage rides with the contamination gate: both are the
    * full funnel's, and the gate reads the scrubbed text. */
  private[streaming] def scrub: Boolean = contamination.nonEmpty
  /** The stores this funnel probes and appends to, in write order. */
  def stores: Seq[Store] =
    (if (scrub) Seq(Store.Gram) else Nil) ++ Seq(Store.Fp) ++
      minEstJaccard.map(_ => Store.Sig)
}

object Funnel {

  /** Gate + exact dedup + within-shard keep-best. */
  def exact(gate: DataFrame => DataFrame = CurateIngest.gateShard(_)): Funnel =
    new Funnel(gate)

  /** [[exact]] plus enforced cross-shard near-dedup (the FineWeb
    * operational mode): a newcomer near-matching ANY previously seen doc,
    * survivor or tombstone, drops; first arrival wins. */
  def strict(gate: DataFrame => DataFrame = CurateIngest.gateShard(_),
             minEstJaccard: Double = 0.5): Funnel =
    new Funnel(gate, Some(minEstJaccard))

  /** All six stages ([[graft.text.Curate.curateFull]]'s recipe), with
    * the Gopher repetition rules beside the gate when `gopherGate`. */
  def full(bench: DataFrame, minQualityPm: Long = 600,
           langs: Seq[String] = Seq("en", "de"),
           minEstJaccard: Double = 0.5, n: Int = 8,
           benchMaxId: Long = 20, maxContamPm: Long = 800,
           gopherGate: Boolean = false,
           anonymize: Boolean = false): Funnel =
    new Funnel(
      if (gopherGate) CurateIngest.gateShardGopher(_, minQualityPm, langs)
      else CurateIngest.gateShard(_, minQualityPm, langs),
      Some(minEstJaccard),
      Some(Contamination(bench, n, benchMaxId, maxContamPm)), anonymize)

  /** PII-masked arriving text ([[graft.text.CorpusStats.piiMask]]);
    * `n_chars` describes the text the stores will actually hold.
    * Codegen'd projection, zero shuffle. */
  private[streaming] def anonymized(shard: DataFrame,
                                    anonymize: Boolean): DataFrame =
    if (!anonymize) shard
    else shard.select(col("doc_id"),
        graft.text.CorpusStats.piiMask(col("text")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** Span scrub against the gram store: the single-probe form for a flat
    * store, the bucket-aligned shuffled-hash form (un-broadcast delta)
    * for a bucketed one — see [[graft.dedup.SpanScrub.scrubShardSplit]]
    * for why the gram store's probe differs from the doc-level ones. */
  private[streaming] def scrub(shard: DataFrame, grams: StoreSides,
                               k: Int = 40): (DataFrame, DataFrame) =
    grams.delta match {
      case None => graft.dedup.SpanScrub.scrubShard(shard, grams.compact, k)
      case Some(d) =>
        graft.dedup.SpanScrub.scrubShardSplit(shard, grams.compact, d, k)
    }

  /** Stages 2-3 over a gated shard as one un-materialized plan:
    * intra-shard keep-min-doc_id per fingerprint, then the anti-join
    * against the store — the only place shard and store meet, and it
    * must stay a hash join on the 16-byte key (the scale probe's
    * surface). A bucketed store joins bucket-aligned (no store-side
    * exchange — only the shard shuffles into the bucket layout) and
    * broadcasts its small delta; anti-joins are set-semantics, so
    * neither side needs a distinct. */
  private[graft] def fresh(gated: DataFrame, fp: StoreSides): DataFrame = {
    val wFp = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    val firsts = gated
      .withColumn("__rn", row_number().over(wFp))
      .filter(col("__rn") === 1).drop("__rn")
    fp.delta match {
      case None =>
        firsts.join(fp.compact.select(col("fingerprint")).distinct(),
          Seq("fingerprint"), "left_anti")
      case Some(d) =>
        firsts.join(fp.compact.select(col("fingerprint")), Seq("fingerprint"),
            "left_anti")
          .join(broadcast(d.select(col("fingerprint"))), Seq("fingerprint"),
            "left_anti")
    }
  }

  /** The strict leg's store probe: ids of shard docs whose banded rows
    * collide with a stored row at est-Jaccard ≥ `minEstJaccard`. The
    * store join is banded (4 keyed rows per seen doc, collide-only
    * pairs) and verification reads the 16-hash signatures riding those
    * rows — the shard's text never meets the store. Against a bucketed
    * store the table side co-locates on `(band, bkey)` with zero
    * store-side exchange and the delta broadcasts; a join distributes
    * over the union, so the id set is the single-store one. */
  private[graft] def collisions(bands: DataFrame, sigs: StoreSides,
                                minEstJaccard: Double): DataFrame = {
    import graft.dedup.Dedup.numHashes
    val matches = (0 until numHashes)
      .map(i => when(col(s"n.h$i") === col(s"o.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    def collide(store: DataFrame): DataFrame =
      bands.as("n")
        .join(store.as("o"),
          col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
        .filter(round(matches.cast("double") / numHashes, 4) >= minEstJaccard)
        .select(col("n.doc_id"))
    sigs.delta.fold(collide(sigs.compact))(d =>
      collide(sigs.compact).unionByName(collide(broadcast(d)))).distinct()
  }

  /** One shard through the funnel against its stores' pre-shard state
    * (`stores` must hold every store in [[Funnel.stores]]).
    *
    * Pins, each measured: the scrubbed text (the gate, the survivor
    * tail and the contamination join all read it), the gated shard (the
    * 7 scoring regexes are the dominant cost, and both the fps append
    * and the tail read it), the post-exact shard and the post-near
    * shard (keep-best consumes its input three times). The banded rows
    * are NOT pinned: a narrow map over the pinned post-exact shard whose
    * two consumers re-run it cheaper than a materialization barrier (the
    * loops are job-latency-bound, r16).
    *
    * Store appends are PRE-near-dedup for signatures (tombstones: a
    * chain A≈B≈C over three shards keeps only A) and PRE-contamination
    * for everything: a contaminated doc still owns its spans,
    * fingerprint and tombstone. */
  def step(shard: DataFrame, funnel: Funnel,
           stores: Map[Store, StoreSides]): ShardOut = {
    val arriving = anonymized(shard, funnel.anonymize)
    val (input, novel) =
      if (!funnel.scrub) (arriving, ListMap.empty[Store, DataFrame])
      else {
        val (scrubbed, novel) = scrub(arriving, stores(Store.Gram))
        (graft.dedup.SpanScrub.scrubbedDocs(scrubbed).localCheckpoint(),
          ListMap[Store, DataFrame](Store.Gram -> novel))
      }
    val gated = funnel.gate(input).localCheckpoint()
    val throughExact =
      novel + (Store.Fp -> gated.select(col("fingerprint")).distinct())
    def keepBest(df: DataFrame): DataFrame =
      df.join(Clusters.dropsBest(df), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang_pred"), col("quality_pm"),
          col("n_chars"))
    val (kept, appends) = funnel.minEstJaccard match {
      case None =>
        (() => keepBest(fresh(gated, stores(Store.Fp)).localCheckpoint()),
          throughExact)
      case Some(j) =>
        val exact = fresh(gated, stores(Store.Fp)).localCheckpoint()
        val bands = CurateIngest.sigBands(exact)
        (() => keepBest(exact.join(collisions(bands, stores(Store.Sig), j),
            Seq("doc_id"), "left_anti").localCheckpoint()),
          throughExact + (Store.Sig -> bands))
    }
    ShardOut(funnel.contamination.fold(kept) { c => () =>
      val k = kept()
      k.join(graft.dedup.Dedup.contaminatedIds(
          k.join(input.select(col("doc_id"), col("text")), "doc_id"),
          c.bench, c.n, c.benchMaxId, c.maxContamPm), Seq("doc_id"),
        "left_anti")
    }, appends)
  }
}
