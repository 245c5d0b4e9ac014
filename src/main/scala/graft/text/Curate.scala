package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline as ONE composable operator —
  * the FineWeb/C4 recipe the individual operators exist for, chained:
  *
  *   1. score: quality (integer per-mille composite) + language ID
  *   2. gate:  quality ≥ floor AND predicted language ∈ allowed set
  *   3. exact dedup: keep the lowest doc_id per md5(text)
  *   4. near dedup: MinHash→LSH→connected components, keep the
  *      HIGHEST-QUALITY member of each duplicate cluster
  *      ([[graft.dedup.Clusters.survivorsBest]])
  *
  * Output: the surviving corpus with its curation metadata
  * (doc_id, lang_pred, quality_pm, n_chars).
  *
  * Scale shape is the sum of its parts, each already plan-audited:
  * scoring is pure map-side expressions; the gate prunes BEFORE any
  * dedup shuffle (the expensive stages see only survivors); exact
  * dedup is one hash shuffle; LSH/CC runs on the gated corpus. The
  * oracle composes the SAME per-stage SQL fragments the stage queries
  * are checked with, via a `documents` CTE that shadows the base
  * table for every downstream fragment (DuckDB resolves unqualified
  * names to the CTE; the base table stays reachable as
  * `main.documents`).
  */
object Curate {

  /** The surviving corpus WITH its text: (doc_id, text, lang_pred,
    * quality_pm, n_chars). This is the artifact downstream stages
    * (chunking) consume directly — re-joining the base table to
    * recover text would pay a second corpus-scale doc_id shuffle for
    * columns this pipeline already holds. [[curate]] is the text-free
    * projection (Catalyst prunes the column, so the q_curate plan is
    * unchanged). */
  def curateDocs(docs: DataFrame, minQualityPm: Long = 600,
                 langs: Seq[String] = Seq("en", "de")): DataFrame = {
    val scored = graft.Tables.spread(docs)
      .withColumn("quality_pm", TextAnalysis.qualityExpr)
      .withColumn("lang_pred", TextAnalysis.langPred)
    val gated = scored
      .filter(col("quality_pm") >= minQualityPm &&
        col("lang_pred").isin(langs: _*))
    // exact dedup as keep-min-doc_id per md5 via a min-struct HASH
    // AGGREGATE instead of the previous row_number window partitioned
    // by md5(text): same single exchange, but no sort of the text
    // rows, and map-side partial aggregation collapses exact
    // duplicates BEFORE the exchange (the window shuffled every copy;
    // guide §2.3 aggregate-before-you-shuffle). doc_id leads the
    // struct, so min() picks exactly the window's rn=1 row. A
    // winners-aggregate + doc_id-semi-join form (shuffle keys, not
    // payloads — guide §8) A/B'd faster in isolation but needs a
    // SECOND corpus-text pin at the gate boundary, which regressed
    // every composed funnel in the full bench (dated in
    // OPTIMIZATION_r17.md); this form keeps the single stage-boundary
    // checkpoint — the near-dedup stage consumes the exact survivors
    // several times (shingles, quality join, final anti-join), the
    // standard curation-pipeline shape. A/B at sf0.1 (r17 md5ab
    // harness, warmed; OPTIMIZATION_r17.md): window 1.85 s, semi-join
    // 1.68, this 1.56 — outputs bit-equal by exceptAll both ways.
    val cols = scored.columns
    val exact = gated
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(struct((col("doc_id") +:
        cols.filter(_ != "doc_id").map(col)).toIndexedSeq: _*)).as("r"))
      .select(cols.map(c => col("r." + c)).toIndexedSeq: _*)
      .localCheckpoint()
    // one anti-join against the tiny drop list, carrying every output
    // column — survivorsBest + a re-join of `exact` would pay a second
    // corpus-scale join for columns this plan already holds
    exact.join(graft.dedup.Clusters.dropsBest(exact), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang_pred"),
        col("quality_pm"), col("n_chars"))
  }

  def curate(docs: DataFrame, minQualityPm: Long = 600,
             langs: Seq[String] = Seq("en", "de")): DataFrame =
    curateDocs(docs, minQualityPm, langs)
      .select(col("doc_id"), col("lang_pred"), col("quality_pm"),
        col("n_chars"))

  /** The curation CTE chain WITHOUT the leading WITH / final select,
    * ending in a `kept` CTE (doc_id, text, lang_pred, quality_pm,
    * n_chars) — so composites ([[TrainingData.prepareSql]]) can chain
    * their own stages onto the survivors, mirroring [[curateDocs]]. */
  def curateCtes(minQualityPm: Long = 600,
                 langs: Seq[String] = Seq("en", "de"),
                 source: String = "main.documents",
                 pairWhere: String = ""): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, text, n_chars,
       |           ${TextAnalysis.qualityPmSql} AS quality_pm,
       |           ${TextAnalysis.langPredSql} AS lang_pred
       |    FROM $source)
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred FROM gated
       |  QUALIFY row_number() OVER (PARTITION BY md5(text)
       |                             ORDER BY doc_id) = 1),
       |${graft.dedup.Clusters.survivorsBestCtes(pairWhere = pairWhere)},
       |kept AS MATERIALIZED (
       |  SELECT d.doc_id, d.text, d.lang_pred, d.quality_pm, d.n_chars
       |  FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id))""".stripMargin
  }

  def curateSql(minQualityPm: Long = 600,
                langs: Seq[String] = Seq("en", "de")): String =
    s"""WITH ${curateCtes(minQualityPm, langs)}
       |SELECT doc_id, lang_pred, quality_pm, n_chars FROM kept""".stripMargin

  /** DuckDB twin of [[graft.streaming.CurateIngest.incrCurate]] — the
    * shard-at-a-time ingestion semantics written as ONE flat query,
    * which is the point: because md5 equality is transitive, the
    * store-accumulated first-wins exact dedup over id-ordered shards
    * equals a single global keep-min-doc_id per fingerprint, and
    * because MinHash signatures / band buckets / est-jaccard are all
    * doc-pair-local, per-shard near-dup equals the global candidate
    * set filtered to same-shard pairs. No recursion, no per-shard
    * replay — the order-dependence cancels out exactly. */
  def incrCurateSql(shardSize: Long = 150, maxId: Long = 600,
                    minQualityPm: Long = 600,
                    langs: Seq[String] = Seq("en", "de")): String =
    s"""WITH bounded AS (
       |  SELECT doc_id, text, n_chars FROM main.documents
       |  WHERE doc_id < $maxId),
       |${curateCtes(minQualityPm, langs, source = "bounded",
                     pairWhere = s"a_id // $shardSize = b_id // $shardSize")}
       |SELECT doc_id, doc_id // $shardSize AS shard_id,
       |       lang_pred, quality_pm, n_chars
       |FROM kept""".stripMargin

  /** DuckDB twin of [[graft.streaming.CurateIngest.incrCurateStrict]]
    * — the ENFORCED cross-shard variant, still one flat query: the
    * tombstone store at shard s is the global post-exact set
    * restricted to earlier shards, so "dropped against the store"
    * becomes "has an earlier-shard partner in the global banding
    * candidate set" (both orientations spelled out; with id-ordered
    * shards only one can fire). Within-shard near-dup then runs over
    * the strict survivors — candidates are pair-local, so the global
    * candidate set filtered to same-shard, both-sides-undropped pairs
    * is exactly the per-shard clustering input. */
  def incrCurateStrictSql(shardSize: Long = 150, maxId: Long = 600,
                          minQualityPm: Long = 600,
                          langs: Seq[String] = Seq("en", "de"),
                          minEstJaccard: Double = 0.5): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    val notDropped = (id: String) =>
      s"$id NOT IN (SELECT doc_id FROM crossdrop)"
    s"""WITH bounded AS (
       |  SELECT doc_id, text, n_chars FROM main.documents
       |  WHERE doc_id < $maxId),
       |gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, text, n_chars,
       |           ${TextAnalysis.qualityPmSql} AS quality_pm,
       |           ${TextAnalysis.langPredSql} AS lang_pred
       |    FROM bounded)
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred FROM gated
       |  QUALIFY row_number() OVER (PARTITION BY md5(text)
       |                             ORDER BY doc_id) = 1),
       |xc AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |${graft.dedup.Dedup.minhashCandidatesSql(4, minEstJaccard)}
       |  )),
       |crossdrop AS MATERIALIZED (
       |  SELECT DISTINCT b_id AS doc_id FROM xc
       |  WHERE a_id // $shardSize < b_id // $shardSize
       |  UNION
       |  SELECT DISTINCT a_id FROM xc
       |  WHERE b_id // $shardSize < a_id // $shardSize),
       |${graft.dedup.Clusters.survivorsBestCtes(pairWhere =
           s"a_id // $shardSize = b_id // $shardSize AND " +
             s"${notDropped("a_id")} AND ${notDropped("b_id")}")}
       |SELECT d.doc_id, d.doc_id // $shardSize AS shard_id,
       |       d.lang_pred, d.quality_pm, d.n_chars
       |FROM documents d
       |WHERE ${notDropped("d.doc_id")}
       |  AND NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)"""
      .stripMargin
  }

  /** DuckDB twin of
    * [[graft.streaming.CurateIngest.incrCurateFullStrict]] — the FULL
    * 6-stage funnel under shard-at-a-time arrival, still one flat
    * query. Composition of three already-proven cancellations:
    * the scrub store over id-ordered shards equals the flat global
    * first-occurrence scrub (q_scrub_incr's argument), the strict
    * exact/near stages are [[incrCurateStrictSql]]'s chain verbatim
    * (md5 transitivity; banding pair-locality; tombstone first-wins
    * spelled as "has an earlier-shard partner"), and the
    * contamination stage is per-doc arithmetic against the static
    * raw-text benchmark gram set. */
  def curateFullStrictIncrSql(shardSize: Long = 150, maxId: Long = 600,
                              minQualityPm: Long = 600,
                              langs: Seq[String] = Seq("en", "de"),
                              minEstJaccard: Double = 0.5, n: Int = 8,
                              benchMaxId: Long = 20,
                              maxContamPm: Long = 800,
                              gopherGate: Boolean = false,
                              anonymize: Boolean = false,
                              source: String = "main.documents"): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    val notDropped = (id: String) =>
      s"$id NOT IN (SELECT doc_id FROM crossdrop)"
    // anonymize on: the mask is doc-local, so masking each arriving
    // shard (the engine's loop) equals masking the flat bounded corpus
    // before stage 0 — the bench grams stay raw either way
    val textExpr = if (!anonymize) "text"
      else s"${CorpusStats.piiMaskSqlExpr("text")} AS text"
    val bounded =
      s"(SELECT doc_id, $textExpr FROM $source WHERE doc_id < $maxId)"
    // gopher on: the repetition rules compose as a gate clause over the
    // SCRUBBED text (the engine's gateShardGopher — signal computation
    // is doc-local, so "over gate survivors" equals "over all scrubbed
    // docs, intersected")
    val repCte = if (!gopherGate) "" else
      s"""rep AS MATERIALIZED (
         |  SELECT doc_id, gopher_pass FROM (
         |${Repetition.repetitionSignalsSql(source = "scrubbed")}
         |  )),
         |""".stripMargin
    val gopherClause = if (!gopherGate) "" else
      s"""
         |    AND doc_id IN (SELECT doc_id FROM rep WHERE gopher_pass = 1)"""
        .stripMargin
    s"""WITH scrub AS MATERIALIZED (
       |${graft.dedup.SpanScrub.spanScrubSql(source = bounded)}
       |),
       |scrubbed AS MATERIALIZED (
       |  SELECT doc_id, text_clean AS text,
       |         CAST(length(text_clean) AS BIGINT) AS n_chars
       |  FROM scrub),
       |${repCte}gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, text, n_chars,
       |           ${TextAnalysis.qualityPmSql} AS quality_pm,
       |           ${TextAnalysis.langPredSql} AS lang_pred
       |    FROM scrubbed)
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)$gopherClause),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred FROM gated
       |  QUALIFY row_number() OVER (PARTITION BY md5(text)
       |                             ORDER BY doc_id) = 1),
       |xc AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |${graft.dedup.Dedup.minhashCandidatesSql(4, minEstJaccard)}
       |  )),
       |crossdrop AS MATERIALIZED (
       |  SELECT DISTINCT b_id AS doc_id FROM xc
       |  WHERE a_id // $shardSize < b_id // $shardSize
       |  UNION
       |  SELECT DISTINCT a_id FROM xc
       |  WHERE b_id // $shardSize < a_id // $shardSize),
       |${graft.dedup.Clusters.survivorsBestCtes(pairWhere =
           s"a_id // $shardSize = b_id // $shardSize AND " +
             s"${notDropped("a_id")} AND ${notDropped("b_id")}")},
       |skept AS MATERIALIZED (
       |  SELECT d.doc_id, d.text, d.lang_pred, d.quality_pm, d.n_chars
       |  FROM documents d
       |  WHERE ${notDropped("d.doc_id")}
       |    AND NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)),
       |bsh AS MATERIALIZED (
       |  SELECT DISTINCT substr(text, i, $n) AS sh
       |  FROM (SELECT text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM $source
       |        WHERE doc_id < $benchMaxId AND doc_id < $maxId)),
       |csh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM skept)),
       |contaminated AS MATERIALIZED (
       |  SELECT s.doc_id FROM csh s LEFT JOIN bsh b ON s.sh = b.sh
       |  WHERE s.doc_id >= $benchMaxId
       |  GROUP BY 1
       |  HAVING count(b.sh) * 1000 >= count(*) * $maxContamPm)
       |SELECT doc_id, lang_pred, quality_pm, n_chars FROM skept k
       |WHERE NOT EXISTS (SELECT 1 FROM contaminated c
       |                  WHERE c.doc_id = k.doc_id)""".stripMargin
  }

  /** Curation with span-level surgical dedup as stage 0: the corpus is
    * scrub-cleaned FIRST (repeated-byte removal), then
    * scored/gated/deduped on the CLEANED text — the FineWeb ordering,
    * where boilerplate removal precedes quality scoring so that
    * boilerplate neither inflates nor masks a page's quality signal.
    * n_chars is recomputed from the cleaned text. Same plan
    * downstream; the scrub stage's one gram shuffle happens before the
    * gate (it must: the gate reads cleaned text).
    *
    * The DEFAULT scrub wire is [[graft.dedup.SpanScrub.spanScrubFp]]
    * (flipped in r12): the second-decade soak measured the
    * exact-substring wire superlinear at 500k docs (external-sort
    * spill regime of the gram exchange — SCALING.md) while the 8-byte
    * rolling-hash wire moves ~1.7× fewer shuffle bytes and is
    * parity-pinned bit-for-bit against the exact-key oracle
    * (q_curate_scrub / q_curate_full hash-match the EXACT-substring
    * DuckDB twins with this wire underneath — a fp collision would
    * surface as a hash mismatch). [[curateScrubbedExact]] keeps the
    * exact wire reachable. */
  def curateScrubbed(docs: DataFrame, minQualityPm: Long = 600,
                     langs: Seq[String] = Seq("en", "de")): DataFrame =
    curate(graft.dedup.SpanScrub.spanScrubFp(docs)
      .select(col("doc_id"), col("text_clean").as("text"),
        length(col("text_clean")).cast("long").as("n_chars")),
      minQualityPm, langs)

  /** [[curateScrubbed]] on the exact-substring scrub wire — the
    * oracle-twin wire, kept reachable for A/B and parity work. */
  def curateScrubbedExact(docs: DataFrame, minQualityPm: Long = 600,
                          langs: Seq[String] = Seq("en", "de")): DataFrame =
    curate(graft.dedup.SpanScrub.spanScrub(docs)
      .select(col("doc_id"), col("text_clean").as("text"),
        length(col("text_clean")).cast("long").as("n_chars")),
      minQualityPm, langs)

  def curateScrubbedSql(minQualityPm: Long = 600,
                        langs: Seq[String] = Seq("en", "de")): String =
    s"""WITH scrub AS MATERIALIZED (
       |${graft.dedup.SpanScrub.spanScrubSql(source = "main.documents")}
       |),
       |scrubbed AS MATERIALIZED (
       |  SELECT doc_id, text_clean AS text,
       |         CAST(length(text_clean) AS BIGINT) AS n_chars
       |  FROM scrub),
       |${curateCtes(minQualityPm, langs, source = "scrubbed")}
       |SELECT doc_id, lang_pred, quality_pm, n_chars FROM kept""".stripMargin

  /** The FULL composed recipe: [[curateScrubbed]] + the benchmark-
    * contamination gate as the final stage — FineWeb/C4 stage 5
    * (eval-leakage removal), the one curation stage the pipeline had
    * as a standalone operator ([[graft.dedup.Dedup.contamination]])
    * but not in the composed recipe. A survivor is dropped when the
    * FRACTION of its distinct character n-grams that also appear in
    * the held-out benchmark set reaches `maxContamPm` per-mille (the
    * PaLM/GPT-3-style overlap-ratio criterion; an absolute shared-gram
    * count is useless on self-similar corpora — measured here: every
    * sf0.01 doc shares ≥21 raw 8-grams with the 20-doc benchmark
    * stand-in, so ANY-overlap would drop 118 of 125 survivors). The
    * ratio is integer per-mille arithmetic (the quality_pm pattern) so
    * both engines compare exactly. Benchmark grams come from the RAW
    * text (a real benchmark is external and never scrubbed);
    * stand-in docs themselves pass through on their curation merits.
    *
    * Scale shape: the benchmark gram set is tiny and broadcast (the
    * q_contamination plan), the corpus side shingles only the CURATED
    * SURVIVORS (every earlier gate already pruned), shared/total gram
    * counts come from ONE aggregation over a broadcast-left-join mark
    * (not two shuffles), and the final anti-join touches the
    * contaminated-id list — survivor-count-sized at most.
    *
    * Stage 0 rides the FP WIRE by default (r12 flip —
    * [[curateScrubbed]]'s rationale): the funnel's single most
    * expensive exchange carries 8-byte rolling-hash Longs, and
    * q_curate_full hash-matching the EXACT-substring oracle is the
    * standing collision check. [[curateFullExact]] is the exact-key
    * wire. */
  def curateFull(docs: DataFrame, minQualityPm: Long = 600,
                 langs: Seq[String] = Seq("en", "de"),
                 n: Int = 8, benchMaxId: Long = 20,
                 maxContamPm: Long = 800,
                 anonymize: Boolean = false): DataFrame =
    fullFromScrubbed(
      graft.dedup.SpanScrub.spanScrubFp(anonDocs(docs, anonymize)), docs,
      minQualityPm, langs, n, benchMaxId, maxContamPm)

  /** The Dolma-ordered anonymization stage (Soldaini et al. 2024,
    * §Anonymization): mask the PII classes in the RAW text, BEFORE any
    * scrub gram, fingerprint, signature, posting, or curated output is
    * derived — so no persisted store ever holds a raw email/IP/phone.
    * Pure codegen'd projection ([[CorpusStats.piiMask]]), zero
    * shuffle; the external-benchmark gram set deliberately stays raw
    * (a real benchmark is external and never anonymized). */
  private def anonDocs(docs: DataFrame, anonymize: Boolean): DataFrame =
    if (!anonymize) docs
    else docs.select(col("doc_id"),
      CorpusStats.piiMask(col("text")).as("text"))

  /** [[curateFull]] on the exact-substring scrub wire — the oracle
    * twin's wire, kept reachable for the parity pin (CurateSpec
    * compares it bit-for-bit against the fp wire) and for A/B soaks. */
  def curateFullExact(docs: DataFrame, minQualityPm: Long = 600,
                      langs: Seq[String] = Seq("en", "de"),
                      n: Int = 8, benchMaxId: Long = 20,
                      maxContamPm: Long = 800,
                      anonymize: Boolean = false): DataFrame =
    fullFromScrubbed(
      graft.dedup.SpanScrub.spanScrub(anonDocs(docs, anonymize)), docs,
      minQualityPm, langs, n, benchMaxId, maxContamPm)

  /** The fp-wire funnel under its r11 name — since the r12 default
    * flip this IS [[curateFull]]; the alias keeps q_curate_full_fp
    * (the original parity pin against the EXACT-substring oracle
    * [[curateFullSql]]) stable across rounds. */
  def curateFullFp(docs: DataFrame, minQualityPm: Long = 600,
                   langs: Seq[String] = Seq("en", "de"),
                   n: Int = 8, benchMaxId: Long = 20,
                   maxContamPm: Long = 800): DataFrame =
    curateFull(docs, minQualityPm, langs, n, benchMaxId, maxContamPm)

  /** Stages 1-5 of the full recipe, downstream of either scrub
    * variant's (doc_id, …, text_clean) output. */
  private def fullFromScrubbed(scrub: DataFrame, docs: DataFrame,
                               minQualityPm: Long, langs: Seq[String],
                               n: Int, benchMaxId: Long,
                               maxContamPm: Long): DataFrame = {
    val scrubbed = scrub
      .select(col("doc_id"), col("text_clean").as("text"),
        length(col("text_clean")).cast("long").as("n_chars"))
    val kept = curateDocs(scrubbed, minQualityPm, langs)
    val bench = graft.dedup.Dedup.shingles(
        docs.filter(col("doc_id") < benchMaxId), n)
      .select(col("sh")).distinct()
    val contaminated = graft.dedup.Dedup.shingles(kept, n)
      .filter(col("doc_id") >= benchMaxId)
      .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tot"), count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") * lit(1000L) >= col("n_tot") * lit(maxContamPm))
      .select("doc_id")
    kept.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_pred"), col("quality_pm"),
        col("n_chars"))
  }

  /** DuckDB twin of [[curateFull]]: the [[curateScrubbedSql]] chain +
    * the q_contamination shingle CTEs over `kept` / `main.documents`,
    * ratio via count(hit)/count(*) per doc, anti-joined in the
    * established NOT EXISTS shape. */
  def curateFullSql(minQualityPm: Long = 600,
                    langs: Seq[String] = Seq("en", "de"),
                    n: Int = 8, benchMaxId: Long = 20,
                    maxContamPm: Long = 800,
                    source: String = "main.documents",
                    anonymize: Boolean = false,
                    preCtes: String = ""): String = {
    // the anonymize stage masks BEFORE the scrub (so grams/fps/text
    // derive from masked text); the bench CTE stays on the raw source
    // (external benchmark, never anonymized) — mirroring curateFull
    val scrubSrc =
      if (!anonymize) source
      else s"(SELECT doc_id, ${CorpusStats.piiMaskSqlExpr("text")} AS text" +
        s" FROM $source)"
    s"""WITH ${preCtes}scrub AS MATERIALIZED (
       |${graft.dedup.SpanScrub.spanScrubSql(source = scrubSrc)}
       |),
       |scrubbed AS MATERIALIZED (
       |  SELECT doc_id, text_clean AS text,
       |         CAST(length(text_clean) AS BIGINT) AS n_chars
       |  FROM scrub),
       |${curateCtes(minQualityPm, langs, source = "scrubbed")},
       |bsh AS (
       |  SELECT DISTINCT substr(text, i, $n) AS sh
       |  FROM (SELECT text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM $source WHERE doc_id < $benchMaxId)),
       |csh AS (
       |  SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM kept)),
       |contaminated AS (
       |  SELECT s.doc_id FROM csh s LEFT JOIN bsh b ON s.sh = b.sh
       |  WHERE s.doc_id >= $benchMaxId
       |  GROUP BY 1
       |  HAVING count(b.sh) * 1000 >= count(*) * $maxContamPm)
       |SELECT doc_id, lang_pred, quality_pm, n_chars FROM kept k
       |WHERE NOT EXISTS (SELECT 1 FROM contaminated c
       |                  WHERE c.doc_id = k.doc_id)""".stripMargin
  }

  /** DuckDB twin of the ANONYMIZED funnel pin (q_curate_full_anon):
    * [[CorpusStats.plantPiiSqlBody]]'s planted corpus (the synthetic
    * tables carry no natural PII) through [[curateFullSql]] with the
    * anonymize stage composed — [[CorpusStats.piiMaskSqlExpr]] masks
    * the text ahead of the scrub CTE, so every downstream stage
    * (grams, gate, dedup, contamination) sees masked text, exactly as
    * [[curateFull]]`(anonymize = true)` computes it. */
  def curateFullAnonPlantedSql(minQualityPm: Long = 600,
                               langs: Seq[String] = Seq("en", "de"),
                               n: Int = 8, benchMaxId: Long = 20,
                               maxContamPm: Long = 800): String =
    curateFullSql(minQualityPm, langs, n, benchMaxId, maxContamPm,
      source = "planted", anonymize = true,
      preCtes = s"""planted AS MATERIALIZED (
                   |  ${CorpusStats.plantPiiSqlBody()}),
                   |""".stripMargin)

  /** The curation funnel AUDIT: one verdict per INPUT document — which
    * stage dropped it, or `kept` — the per-record provenance the
    * survivor-only output of [[curate]] cannot answer ("why did my
    * document disappear?"), and the funnel FineWeb/C4 publish as their
    * headline dataset statistics (one GROUP BY verdict away).
    *
    * Verdicts, in stage order (a document failing several stages gets
    * the FIRST, matching the pipeline's short-circuit):
    * `low_quality` (quality_pm < floor), `bad_lang` (predicted
    * language not allowed), `exact_dup` (not the lowest-doc_id of its
    * md5(text) group among gated docs), `near_dup` (dropped by
    * LSH-cluster quality survivorship), `kept`.
    *
    * Scale shape: scoring stays map-side; ONE window pass computes the
    * exact-dup rank — partitioned by (gated, md5(text)) so the rank is
    * computed in the same pass for all rows but only CONSULTED where
    * the CASE reaches it (gated rows), replacing the self-join of
    * corpus vs gated-survivors; the near-dup drop list is
    * collision-sized and left-joins in (AQE broadcasts it). The
    * verdict table is one row per input doc — the same cardinality
    * every downstream funnel aggregate needs anyway. */
  def curateAudit(docs: DataFrame, minQualityPm: Long = 600,
                  langs: Seq[String] = Seq("en", "de")): DataFrame = {
    val scored = graft.Tables.spread(docs)
      .withColumn("quality_pm", TextAnalysis.qualityExpr)
      .withColumn("lang_pred", TextAnalysis.langPred)
      .withColumn("__gated", col("quality_pm") >= minQualityPm &&
        col("lang_pred").isin(langs: _*))
    val wMd5 = Window.partitionBy(col("__gated"), md5(col("text")))
      .orderBy(col("doc_id"))
    // stage boundary as in curateDocs: the ranked corpus is consumed
    // by BOTH the near-dup stage (shingles) and the final verdict join
    val ranked = scored.withColumn("__rn", row_number().over(wMd5))
      .localCheckpoint()
    val exact = ranked.filter(col("__gated") && col("__rn") === 1)
      .select(col("doc_id"), col("text"), col("n_chars"), col("quality_pm"))
    val drops = graft.dedup.Clusters.dropsBest(exact)
      .withColumn("__near_drop", lit(true))
    ranked.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality_pm") < minQualityPm, "low_quality")
          .when(!col("lang_pred").isin(langs: _*), "bad_lang")
          .when(col("__rn") > 1, "exact_dup")
          .when(col("__near_drop") === true, "near_dup")
          .otherwise("kept").as("verdict"),
        col("quality_pm"), col("lang_pred"))
  }

  /** [[curateAudit]] with the GOPHER REPETITION RULES as a gate stage
    * beside the heuristic filters — the Dolma/FineWeb stack, where the
    * Rae et al. 2021 repetition thresholds
    * ([[Repetition.repetitionSignals]]: top-n-gram, duplicate-5-gram,
    * duplicate-line/paragraph character fractions) run WITH the
    * quality heuristics, before any dedup spends shuffle on
    * boilerplate. One verdict per input document; `repetitious` slots
    * after the language gate in stage order, and the exact/near-dedup
    * stages rank only fully-gated docs (a repetitious doc neither
    * survives nor shadows a clean exact-duplicate). Survivors are the
    * `verdict = 'kept'` projection.
    *
    * Scale shape: the signals add [[Repetition.repetitionSignals]]'s
    * narrow per-doc sort/fold (zero shuffle since r13); the verdict
    * join is
    * doc_id-keyed at input cardinality; everything downstream is
    * [[curateAudit]]'s audited plan. */
  def curateGopherAudit(docs: DataFrame, minQualityPm: Long = 600,
                        langs: Seq[String] = Seq("en", "de")): DataFrame = {
    val rep = Repetition.repetitionSignals(docs)
      .select(col("doc_id"), col("gopher_pass"))
    val scored = graft.Tables.spread(docs)
      .withColumn("quality_pm", TextAnalysis.qualityExpr)
      .withColumn("lang_pred", TextAnalysis.langPred)
      .join(rep, Seq("doc_id"))
      .withColumn("__gated", col("quality_pm") >= minQualityPm &&
        col("lang_pred").isin(langs: _*) && col("gopher_pass") === 1)
    val wMd5 = Window.partitionBy(col("__gated"), md5(col("text")))
      .orderBy(col("doc_id"))
    val ranked = scored.withColumn("__rn", row_number().over(wMd5))
      .localCheckpoint()
    val exact = ranked.filter(col("__gated") && col("__rn") === 1)
      .select(col("doc_id"), col("text"), col("n_chars"), col("quality_pm"))
    val drops = graft.dedup.Clusters.dropsBest(exact)
      .withColumn("__near_drop", lit(true))
    ranked.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality_pm") < minQualityPm, "low_quality")
          .when(!col("lang_pred").isin(langs: _*), "bad_lang")
          .when(col("gopher_pass") === 0, "repetitious")
          .when(col("__rn") > 1, "exact_dup")
          .when(col("__near_drop") === true, "near_dup")
          .otherwise("kept").as("verdict"),
        col("quality_pm"), col("lang_pred"))
  }

  /** DuckDB twin of [[curateGopherAudit]]:
    * [[Repetition.repetitionSignalsSql]] composed as the `rep` CTE of
    * the funnel chain, the gopher verdict in stage order. */
  def curateGopherAuditSql(minQualityPm: Long = 600,
                           langs: Seq[String] = Seq("en", "de")): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH rep AS (
       |  SELECT doc_id, gopher_pass FROM (
       |${Repetition.repetitionSignalsSql()}
       |  )),
       |scored AS (
       |  SELECT d.doc_id, d.text, d.n_chars,
       |         ${TextAnalysis.qualityPmSql} AS quality_pm,
       |         ${TextAnalysis.langPredSql} AS lang_pred,
       |         r.gopher_pass
       |  FROM main.documents d JOIN rep r USING (doc_id)),
       |exact AS (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred,
       |         row_number() OVER (PARTITION BY md5(text)
       |                            ORDER BY doc_id) AS rn
       |  FROM scored
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)
       |    AND gopher_pass = 1),
       |documents AS (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred
       |  FROM exact WHERE rn = 1),
       |${graft.dedup.Clusters.survivorsBestCtes()}
       |SELECT s.doc_id,
       |       CASE WHEN s.quality_pm < $minQualityPm THEN 'low_quality'
       |            WHEN s.lang_pred NOT IN ($langList) THEN 'bad_lang'
       |            WHEN s.gopher_pass = 0 THEN 'repetitious'
       |            WHEN e.rn > 1 THEN 'exact_dup'
       |            WHEN x.doc_id IS NOT NULL THEN 'near_dup'
       |            ELSE 'kept' END AS verdict,
       |       s.quality_pm, s.lang_pred
       |FROM scored s
       |LEFT JOIN exact e USING (doc_id)
       |LEFT JOIN drops x ON x.doc_id = s.doc_id""".stripMargin
  }

  /** [[curateAudit]] lifted to the FULL funnel: one verdict per input
    * document across ALL the composed stages — scrub (which drops no
    * documents, only bytes: a fully-boilerplate doc is scrubbed empty
    * and then fails the quality floor), quality, language, exact dedup,
    * near dedup, and the benchmark-contamination gate. This is the
    * per-record provenance for [[curateFull]]'s survivors — the
    * headline "why did each document die" statistics a FineWeb-style
    * release publishes, now including the final decontamination stage
    * (`contaminated`).
    *
    * Verdicts in stage order: `low_quality`, `bad_lang`, `exact_dup`,
    * `near_dup`, `contaminated`, `kept`. Scoring/gating runs on the
    * SCRUBBED text (the funnel's ordering); `verdict = 'kept'` equals
    * [[curateFull]]'s survivor set by construction (spec-pinned).
    *
    * Scale shape: [[curateAudit]]'s audited plan over the scrubbed
    * corpus (one ranked window pass, collision-sized drop list), plus
    * the contamination stage's broadcast-bench mark join over the
    * would-be survivors only — the same pieces as [[curateFull]], one
    * extra doc_id-keyed left join for the verdict. */
  def curateFullAudit(docs: DataFrame, minQualityPm: Long = 600,
                      langs: Seq[String] = Seq("en", "de"),
                      n: Int = 8, benchMaxId: Long = 20,
                      maxContamPm: Long = 800): DataFrame = {
    val scrubbed = graft.dedup.SpanScrub.spanScrubFp(docs)
      .select(col("doc_id"), col("text_clean").as("text"),
        length(col("text_clean")).cast("long").as("n_chars"))
    val scored = graft.Tables.spread(scrubbed)
      .withColumn("quality_pm", TextAnalysis.qualityExpr)
      .withColumn("lang_pred", TextAnalysis.langPred)
      .withColumn("__gated", col("quality_pm") >= minQualityPm &&
        col("lang_pred").isin(langs: _*))
    val wMd5 = Window.partitionBy(col("__gated"), md5(col("text")))
      .orderBy(col("doc_id"))
    val ranked = scored.withColumn("__rn", row_number().over(wMd5))
      .localCheckpoint()
    val exact = ranked.filter(col("__gated") && col("__rn") === 1)
      .select(col("doc_id"), col("text"), col("n_chars"), col("quality_pm"))
    val drops = graft.dedup.Clusters.dropsBest(exact)
      .withColumn("__near_drop", lit(true))
    // contamination over the would-be survivors only, bench from RAW
    // text (curateFull's contract)
    val kept0 = exact.join(drops.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    val bench = graft.dedup.Dedup.shingles(
        docs.filter(col("doc_id") < benchMaxId), n)
      .select(col("sh")).distinct()
    val contaminated = graft.dedup.Dedup.shingles(kept0, n)
      .filter(col("doc_id") >= benchMaxId)
      .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tot"), count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") * lit(1000L) >= col("n_tot") * lit(maxContamPm))
      .select(col("doc_id")).withColumn("__contam", lit(true))
    ranked.join(drops, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality_pm") < minQualityPm, "low_quality")
          .when(!col("lang_pred").isin(langs: _*), "bad_lang")
          .when(col("__rn") > 1, "exact_dup")
          .when(col("__near_drop") === true, "near_dup")
          .when(col("__contam") === true, "contaminated")
          .otherwise("kept").as("verdict"),
        col("quality_pm"), col("lang_pred"))
  }

  /** DuckDB twin of [[curateFullAudit]]: the curateFullSql CTE chain's
    * scrub/score/rank/drops/contamination stages with the verdict CASE
    * in stage order (scoring over the scrubbed text, bench over raw). */
  def curateFullAuditSql(minQualityPm: Long = 600,
                         langs: Seq[String] = Seq("en", "de"),
                         n: Int = 8, benchMaxId: Long = 20,
                         maxContamPm: Long = 800): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH scrub AS MATERIALIZED (
       |${graft.dedup.SpanScrub.spanScrubSql(source = "main.documents")}
       |),
       |scrubbed AS MATERIALIZED (
       |  SELECT doc_id, text_clean AS text,
       |         CAST(length(text_clean) AS BIGINT) AS n_chars
       |  FROM scrub),
       |scored AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars,
       |         ${TextAnalysis.qualityPmSql} AS quality_pm,
       |         ${TextAnalysis.langPredSql} AS lang_pred
       |  FROM scrubbed),
       |exact AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred,
       |         row_number() OVER (PARTITION BY md5(text)
       |                            ORDER BY doc_id) AS rn
       |  FROM scored
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred
       |  FROM exact WHERE rn = 1),
       |${graft.dedup.Clusters.survivorsBestCtes()},
       |kept0 AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)),
       |bsh AS (
       |  SELECT DISTINCT substr(text, i, $n) AS sh
       |  FROM (SELECT text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM main.documents WHERE doc_id < $benchMaxId)),
       |csh AS (
       |  SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM kept0)),
       |contaminated AS (
       |  SELECT s.doc_id FROM csh s LEFT JOIN bsh b ON s.sh = b.sh
       |  WHERE s.doc_id >= $benchMaxId
       |  GROUP BY 1
       |  HAVING count(b.sh) * 1000 >= count(*) * $maxContamPm)
       |SELECT s.doc_id,
       |       CASE WHEN s.quality_pm < $minQualityPm THEN 'low_quality'
       |            WHEN s.lang_pred NOT IN ($langList) THEN 'bad_lang'
       |            WHEN e.rn > 1 THEN 'exact_dup'
       |            WHEN x.doc_id IS NOT NULL THEN 'near_dup'
       |            WHEN c.doc_id IS NOT NULL THEN 'contaminated'
       |            ELSE 'kept' END AS verdict,
       |       s.quality_pm, s.lang_pred
       |FROM scored s
       |LEFT JOIN exact e USING (doc_id)
       |LEFT JOIN drops x ON x.doc_id = s.doc_id
       |LEFT JOIN contaminated c ON c.doc_id = s.doc_id""".stripMargin
  }

  /** DuckDB twin of [[curateAudit]] — the same staged CTEs the
    * survivor oracles compose, plus the verdict CASE in stage order. */
  def curateAuditSql(minQualityPm: Long = 600,
                     langs: Seq[String] = Seq("en", "de")): String = {
    val langList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH scored AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars,
       |         ${TextAnalysis.qualityPmSql} AS quality_pm,
       |         ${TextAnalysis.langPredSql} AS lang_pred
       |  FROM main.documents),
       |exact AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred,
       |         row_number() OVER (PARTITION BY md5(text)
       |                            ORDER BY doc_id) AS rn
       |  FROM scored
       |  WHERE quality_pm >= $minQualityPm AND lang_pred IN ($langList)),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, text, n_chars, quality_pm, lang_pred
       |  FROM exact WHERE rn = 1),
       |${graft.dedup.Clusters.survivorsBestCtes()}
       |SELECT s.doc_id,
       |       CASE WHEN s.quality_pm < $minQualityPm THEN 'low_quality'
       |            WHEN s.lang_pred NOT IN ($langList) THEN 'bad_lang'
       |            WHEN e.rn > 1 THEN 'exact_dup'
       |            WHEN x.doc_id IS NOT NULL THEN 'near_dup'
       |            ELSE 'kept' END AS verdict,
       |       s.quality_pm, s.lang_pred
       |FROM scored s
       |LEFT JOIN exact e USING (doc_id)
       |LEFT JOIN drops x ON x.doc_id = s.doc_id""".stripMargin
  }
}
