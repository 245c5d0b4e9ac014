package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language ID, and document fingerprinting. All pure
  * Catalyst expressions (regexp_count / regexp_replace / md5) — codegen'd,
  * no UDFs, embarrassingly parallel per-row at any scale.
  *
  * Each operator has an exactly-equivalent ANSI-SQL form (the *Sql
  * helpers) used by the DuckDB oracle, so Spark and oracle stay in sync
  * by construction.
  */
object TextAnalysis {

  /** Per-row regex/hash work runs inside the scan task; spread first so
    * a single-file input doesn't serialize it on one core (no-op when
    * the scan already has enough splits — see [[graft.Tables.spread]]). */
  private def spread(docs: DataFrame): DataFrame = graft.Tables.spread(docs)

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normalize(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))
  val normalizeSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Content fingerprint = md5 of the normalized text. The rolling-hash
    * variant for shift-tolerant matching is the shingle pipeline in
    * [[graft.dedup.Dedup]]. */
  def fingerprint(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), md5(normalize(col("text"))).as("fingerprint"))

  /** Token / character / punctuation / stopword counts. `bpeMerges`:
    * when set, n_tokens upgrades from the whitespace count to the
    * BPE token count under that trained merge list (the same map-side
    * [[Bpe.bpeTokenCount]] expression [[Chunking.chunkDocs]]'s flag
    * plugs in — still zero shuffles). */
  def tokenStats(docs: DataFrame,
                 bpeMerges: Option[Seq[(String, String)]] = None): DataFrame =
    spread(docs).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      bpeMerges.fold(regexp_count(col("text"), lit("\\S+"))) { ms =>
        Bpe.bpeTokenCount(
          expr("regexp_extract_all(text, '\\\\S+', 0)"), ms).cast("int")
      }.as("n_tokens"),
      regexp_count(col("text"), lit("[.,!?;:]")).as("n_punct"),
      regexp_count(col("text"), lit("\\b(the|a)\\b")).as("n_stopwords"))

  /** Composite quality score, integer per-mille in [0,1000]:
    * 40% length adequacy + 30% punctuation sanity + 30% stopword ratio.
    * Pure integer arithmetic (no doubles, no rounding) so the score is
    * bit-identical across engines — FP round() at half-boundaries is
    * engine-dependent and hash-compares can't tolerate it. */
  /** The quality formula over ALREADY-COUNTED signals — the one
    * arithmetic shared by the text-scan form ([[qualityExpr]]) and the
    * token-frame form ([[docSignals]]), so the two paths are equal by
    * construction. */
  def qualityFromCounts(nTokens: Column, nPunct: Column, nStop: Column,
                        nChars: Column): Column = {
    // integer division via floor(a/b): exact for these magnitudes (< 2^53)
    def intDiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val lengthPart = least(nTokens, lit(100L)) * 4L
    val punctPart = (lit(100L) - intDiv(nPunct * 100L, greatest(nChars, lit(1L)))) * 3L
    val stopPart = least(intDiv(nStop * 1000L, greatest(nTokens, lit(1L))), lit(100L)) * 3L
    (lengthPart + punctPart + stopPart).cast("long")
  }

  /** The quality score as a reusable expression over a `text` column. */
  def qualityExpr: Column =
    qualityFromCounts(
      regexp_count(col("text"), lit("\\S+")).cast("long"),
      regexp_count(col("text"), lit("[.,!?;:]")).cast("long"),
      regexp_count(col("text"), lit("\\b(the|a)\\b")).cast("long"),
      length(col("text")).cast("long"))

  /** The curation scoring stage: every input column plus `quality_pm`
    * and `lang_pred`, map-side. Each funnel — batch, audit, ingest —
    * scores through this one body. */
  private[graft] def scoreDocs(docs: DataFrame): DataFrame =
    spread(docs)
      .withColumn("quality_pm", qualityExpr)
      .withColumn("lang_pred", langPred)

  /** The quality/language gate over scored rows: quality_pm ≥ the floor
    * AND lang_pred in the allowed set. */
  private[graft] def passesGate(minQualityPm: Long, langs: Seq[String]): Column =
    col("quality_pm") >= minQualityPm && col("lang_pred").isin(langs: _*)

  def qualityScore(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), qualityExpr.as("quality_pm"))

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic; priority order breaks score ties. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("el", "la", "que"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "des"))

  private def markerPattern(words: Seq[String]) = s"\\b(${words.mkString("|")})\\b"

  /** The language argmax over ALREADY-COUNTED marker scores (one per
    * [[langMarkers]] entry, same order) — shared by the text-scan form
    * ([[langPred]]) and the token-frame form ([[docSignals]]). */
  def langPredFromScores(scoreCols: Seq[Column]): Column = {
    require(scoreCols.length == langMarkers.length)
    val scores = langMarkers.map(_._1).zip(scoreCols)
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((l, s), i), acc) =>
        val rest = scores.drop(i + 1).map(_._2)
        if (rest.isEmpty) acc
        else when(rest.map(s >= _).reduce(_ && _), lit(l)).otherwise(acc)
    }
  }

  /** lang_pred column: first language whose marker score >= all later
    * scores (argmax with earlier-language tiebreak). */
  def langPred: Column =
    langPredFromScores(langMarkers.map { case (_, ws) =>
      regexp_count(col("text"), lit(markerPattern(ws)))
    })

  /** Heuristic language ID: argmax of marker-word hit counts, earlier
    * language wins ties. */
  def langId(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), langPred.as("lang_pred"))

  /** Per-document gate signals (`quality_pm`, `lang_pred`) derived
    * from ONE shared `(doc_id, token, tf)` frame
    * ([[SparseIndex.postingsOf]]'s shape) instead of fresh text scans
    * — the shared-tokenization entry the combined ingestion topology
    * uses so the gate, the classifier counts and the postings all ride
    * a single tokenize pass per micro-batch.
    *
    * Equal to [[qualityExpr]]/[[langPred]] by construction: the punct /
    * stopword / marker patterns match no whitespace, so every match in
    * the full text lies strictly inside one `\S+` run — counting
    * matches inside each extracted token and weighting by its term
    * frequency partitions the text-scan count exactly — and the final
    * arithmetic is the SAME factored [[qualityFromCounts]] /
    * [[langPredFromScores]]. Token-less docs (empty text) left-join to
    * zero counts, exactly what the text scans report.
    *
    * Scale shape: the token regexes run once per DISTINCT (doc, token)
    * row — a Zipf corpus repeats its head tokens, so this scans fewer
    * bytes than the 7 full-text regex passes it replaces; the per-doc
    * rollup shares the token frame's existing shuffle key space. */
  def docSignals(docs: DataFrame, tokens: DataFrame): DataFrame = {
    val markerAggs = langMarkers.map { case (l, ws) =>
      sum(col("tf") * regexp_count(col("token"), lit(markerPattern(ws))))
        .as(s"__m_$l")
    }
    val aggs = Seq(
      sum(col("tf")).as("__n_tokens"),
      sum(col("tf") * regexp_count(col("token"), lit("[.,!?;:]")))
        .as("__n_punct"),
      sum(col("tf") * regexp_count(col("token"), lit("\\b(the|a)\\b")))
        .as("__n_stop")) ++ markerAggs
    val perDoc = tokens.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val tmp = langMarkers.map { case (l, _) => s"__m_$l" }
    spread(docs).join(perDoc, Seq("doc_id"), "left")
      .withColumn("quality_pm", qualityFromCounts(
        coalesce(col("__n_tokens"), lit(0L)),
        coalesce(col("__n_punct"), lit(0L)),
        coalesce(col("__n_stop"), lit(0L)),
        length(col("text")).cast("long")))
      .withColumn("lang_pred", langPredFromScores(
        tmp.map(c => coalesce(col(c), lit(0L)))))
      .drop("__n_tokens" :: "__n_punct" :: "__n_stop" :: tmp.toList: _*)
  }

  // ---- DuckDB-equivalent SQL fragments (regexp_count is not in DuckDB;
  // len(regexp_extract_all(...)) is the equivalent) ----
  def countSql(pattern: String): String =
    s"len(regexp_extract_all(text, '$pattern'))"

  def tokenStatsSql: String =
    s"""SELECT doc_id,
       |  length(text) AS n_chars_calc,
       |  ${countSql("\\S+")} AS n_tokens,
       |  ${countSql("[.,!?;:]")} AS n_punct,
       |  ${countSql("\\b(the|a)\\b")} AS n_stopwords
       |FROM documents""".stripMargin

  /** The quality score as a bare SQL expression over a `text` column —
    * shared by [[qualityScoreSql]] and the curation composite. */
  def qualityPmSql: String =
    s"""CAST(
       |    least(${countSql("\\S+")}, 100) * 4 +
       |    (100 - (${countSql("[.,!?;:]")} * 100) // greatest(length(text), 1)) * 3 +
       |    least((${countSql("\\b(the|a)\\b")} * 1000) // greatest(${countSql("\\S+")}, 1), 100) * 3
       |  AS BIGINT)""".stripMargin

  def qualityScoreSql: String =
    s"""SELECT doc_id, $qualityPmSql AS quality_pm
       |FROM documents""".stripMargin

  /** The language-ID argmax as a bare SQL CASE over a `text` column. */
  def langPredSql: String = {
    val scoreExprs = langMarkers.map { case (l, ws) =>
      l -> countSql(markerPattern(ws).replace("\\", "\\"))
    }
    val cases = scoreExprs.zipWithIndex.init.map { case ((l, s), i) =>
      val rest = scoreExprs.drop(i + 1).map(_._2)
      s"WHEN ${rest.map(r => s"$s >= $r").mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${scoreExprs.last._1}' END"
  }

  def langIdSql: String =
    s"""SELECT doc_id,
       |  $langPredSql AS lang_pred
       |FROM documents""".stripMargin

  def fingerprintSql: String =
    s"SELECT doc_id, md5($normalizeSql) AS fingerprint FROM documents"

  // ---- rolling-hash winnowing fingerprints ----
  // Karp-Rabin polynomial hash over character k-grams, then the minimum
  // hash per block of `w` positions (simplified winnowing à la MOSS):
  // shift-tolerant local fingerprints — a shared fingerprint pins down a
  // matching k-gram region regardless of where it moved in the document.
  // Pure integer arithmetic (base/mod small enough to never overflow
  // int64), so the DuckDB oracle replicates it bit-for-bit.
  val rollK = 5       // k-gram width
  val rollW = 16      // winnow block width (positions per block)
  val rollB = 257L    // polynomial base
  val rollP = 1000003L // modulus; max term < 257^5·255 ≈ 2^48 « 2^63

  /** Rolling k-gram hash at position `i` (1-based) over `text`. */
  private def rollHash(): Column =
    (0 until rollK).map { j =>
      val pow = java.math.BigInteger.valueOf(rollB)
        .modPow(java.math.BigInteger.valueOf((rollK - 1 - j).toLong),
          java.math.BigInteger.valueOf(rollP)).longValue()
      (ascii(expr(s"substring(text, i + $j, 1)")) * pow) % rollP
    }.reduce(_ + _) % rollP

  /** Distinct winnowed fingerprints per document.
    *
    * One native expression pass per document ([[graft.functions.WinnowFps]]:
    * incremental rolling hash + in-loop block minima), exploded to one
    * row per BLOCK. The previous declarative formulation exploded one
    * row per CHARACTER and re-evaluated the 5-term polynomial at every
    * position before a (doc, block) min-aggregate — same bits, ~len
    * intermediate rows and k multiplies per position more work
    * (measured 4× slower at sf0.1). The DuckDB oracle keeps the
    * per-position formulation as the reference semantics. */
  def winnow(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnow_fps(
          col("text"), rollK, rollW, rollB, rollP)).as("bf"))
      .select(col("doc_id"), col("bf.block").as("block"), col("bf.fp").as("fp"))

  /** The per-position declarative formulation (reference semantics,
    * kept for the parity spec — [[winnow]] must produce identical
    * rows). */
  def winnowReference(docs: DataFrame): DataFrame = {
    val positions = spread(docs)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${rollK - 1}, 1))")).as("i"))
    positions
      .select(col("doc_id"), floor((col("i") - 1) / rollW).as("block"),
        rollHash().as("h"))
      .groupBy(col("doc_id"), col("block"))
      .agg(min(col("h")).as("fp"))
      .select(col("doc_id"), col("block"), col("fp"))
  }

  def winnowSql: String = {
    val terms = (0 until rollK).map { j =>
      val pow = java.math.BigInteger.valueOf(rollB)
        .modPow(java.math.BigInteger.valueOf((rollK - 1 - j).toLong),
          java.math.BigInteger.valueOf(rollP)).longValue()
      s"(ascii(substr(text, i + $j, 1)) * $pow) % $rollP"
    }.mkString(" + ")
    s"""SELECT doc_id, (i - 1) // $rollW AS block, min(($terms) % $rollP) AS fp
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(1, greatest(length(text) - ${rollK - 1}, 1))) AS i
       |      FROM documents)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Cross-document shared-span audit (MOSS-style): doc pairs sharing
    * ≥ `minShared` distinct winnowed fingerprints — i.e. pairs with
    * matching text SPANS, the diagnostic layer between whole-doc dedup
    * (exact/MinHash) and chunk dedup (lineDedup): which documents
    * overlap, and by how many regions.
    *
    * Scale shape: fingerprints are already a ~1/rollW compression of
    * the corpus; pairs come from a fingerprint self-join — one shuffle
    * of each side on `fp`. Ubiquitous spans (boilerplate) would make
    * that join quadratic in their document frequency, so fps appearing
    * in > `maxDf` documents are dropped first (the MOSS move; at scale
    * boilerplate fps follow a power law, and the cap is what keeps the
    * join linear). The df filter is a count window over the fp
    * partitioning (no join-back), and the pruned fingerprint INDEX is
    * localCheckpoint'd before the self-join: without it the per-char
    * winnow explode runs once per join side (measured 3× in the
    * physical plan — exchange reuse doesn't survive the AQE/broadcast
    * restructure). Materializing the index is the MOSS architecture —
    * it's corpus/rollW rows, built once and queried many times. */
  def sharedSpans(docs: DataFrame, minShared: Long = 2,
                  maxDf: Long = 50): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    val pruned = winnow(docs).select(col("doc_id"), col("fp")).distinct()
      .withColumn("df", count(lit(1)).over(wFp))
      .filter(col("df") <= maxDf)
      .select(col("fp"), col("doc_id"))
      .localCheckpoint()
    val a = pruned.select(col("fp"), col("doc_id").as("a_id"))
    val b = pruned.select(col("fp"), col("doc_id").as("b_id"))
    a.join(b, "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def sharedSpansSql(minShared: Long = 2, maxDf: Long = 50): String =
    s"""WITH w AS (${winnowSql}),
       |fps AS (SELECT DISTINCT doc_id, fp FROM w),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $maxDf),
       |pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON r.fp = f.fp)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
       |FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $minShared""".stripMargin
}
