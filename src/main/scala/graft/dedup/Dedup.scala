package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline.
  *
  * Four families, all shuffle-conscious:
  *  - exact:     one hash-groupBy on a content fingerprint (md5) —
  *               single shuffle on the hash, no text comparison.
  *  - n-gram Jaccard: character-shingle set overlap against a small
  *               query set (broadcast — no shuffle of the corpus side).
  *  - MinHash+LSH: shingle→minhash signature→banded bucket join; the
  *               candidate join is on band keys, so cost scales with
  *               collisions, not corpus².
  *  - SimHash:   64-ish-bit sign-of-weighted-sum fingerprint; near-dup
  *               candidates share band substrings of the fingerprint.
  *
  * Hash functions are md5-derived (hex→bigint) rather than murmur3 so
  * the DuckDB oracle can reproduce signatures bit-for-bit — md5 is the
  * one hash both engines share. At 100 TB the same pipeline holds: the
  * shingle explode is map-side, signatures are one groupBy(doc), bucket
  * joins shuffle only (band_key, doc_id) pairs.
  */
object Dedup {

  /** 60-bit seeded hash both engines can compute identically:
    * bigint(first 15 hex digits of md5(seed:input)). */
  def seededHash(seed: Int, c: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), c)), 1, 15), 16, 10)
      .cast("long")
  def seededHashSql(seed: Int, expr: String): String =
    s"(('0x' || substr(md5($seed || ':' || $expr), 1, 15))::BIGINT)"

  // ---------------------------------------------------------------- exact
  /** Exact dedup: group by content fingerprint, keep the smallest doc_id.
    * dup_count > 1 marks a duplicate cluster. The md5+normalize runs in
    * the partial-aggregate, i.e. in the scan task — spread first so it
    * parallelizes (a single small file is otherwise one task). */
  def exactDedup(docs: DataFrame): DataFrame =
    spread(docs)
      .groupBy(md5(TextAnalysis.normalize(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  def exactDedupSql: String =
    s"""SELECT md5(${TextAnalysis.normalizeSql}) AS fingerprint,
       |       min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM documents GROUP BY 1""".stripMargin

  // --------------------------------------------------- incremental dedup
  /** Shard-arrival dedup gate: which docs of a NEW shard (doc_id >=
    * existingMaxId) survive against the corpus already ingested
    * (doc_id < existingMaxId) — the incremental workflow every
    * continuously-crawling pipeline runs, versus [[exactDedup]]'s
    * whole-corpus pass. A new doc survives iff its content fingerprint
    * (1) never appeared in the existing corpus AND (2) is the smallest
    * doc_id holding that fingerprint within the new shard itself.
    * Output marks each new doc kept/dropped with the reason-relevant
    * fingerprint, so the caller can both filter survivors and append
    * the survivors' fingerprints to the store.
    *
    * Scale shape: both sides reduce to (16-byte fingerprint, id) BEFORE
    * any join — content never shuffles; the existing side arrives
    * pre-aggregated (one row per fingerprint, i.e. the fingerprint
    * STORE, not the corpus); the left_anti + keep-min are one shuffle
    * each on the fingerprint key. At 100 TB the existing-corpus scan is
    * replaced by reading the persisted fingerprint table that this same
    * operator's survivors maintain. */
  def incrementalDedup(docs: DataFrame, existingMaxId: Long = 250): DataFrame = {
    val fp = spread(docs).select(col("doc_id"),
      md5(TextAnalysis.normalize(col("text"))).as("fingerprint"))
    val existing = fp.filter(col("doc_id") < existingMaxId)
      .select(col("fingerprint")).distinct()
    fp.filter(col("doc_id") >= existingMaxId)
      .join(existing, Seq("fingerprint"), "left_anti")
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("shard_dups"))
  }

  def incrementalDedupSql(existingMaxId: Long = 250): String =
    s"""WITH fp AS (
       |  SELECT doc_id, md5(${TextAnalysis.normalizeSql}) AS fingerprint
       |  FROM documents),
       |existing AS (
       |  SELECT DISTINCT fingerprint FROM fp WHERE doc_id < $existingMaxId)
       |SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS shard_dups
       |FROM fp
       |WHERE doc_id >= $existingMaxId
       |  AND fingerprint NOT IN (SELECT fingerprint FROM existing)
       |GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- line dedup
  /** C4/RefinedWeb-style repeated-span removal: any fixed-width word
    * span occurring in at least `minDocFrac` of all documents is corpus
    * boilerplate (headers, footers, license blurbs at web scale) and is
    * cut from every document; the survivors are re-joined in order.
    * (The reference corpus has no newlines, so the "line" unit is an
    * aligned `chunkWords`-word span — same algorithm, same shapes.)
    *
    * Scale shape: chunking is map-side (one split + transform per doc);
    * the frequency count is one groupBy(chunk) with partial aggregation;
    * the boilerplate set is tiny (spans above a corpus-wide frequency
    * floor) and broadcasts, so the removal join never shuffles the
    * corpus. Reconstruction sorts each doc's surviving spans by position
    * inside the aggregate — no window function, no second shuffle. */
  def lineDedup(docs: DataFrame, chunkWords: Int = 2,
                minDocFrac: Double = 0.04): DataFrame = {
    // corpus total as a 1-row aggregate folded into the plan (broadcast
    // onto the frequency filter) — NOT an eager docs.count(), which
    // would run an extra driver-blocking job before the operator's own
    // job. The count-only scan is column-pruned and lazy.
    val total = docs.agg(count(lit(1)).as("__n_docs"))
    // ceil-division chunk count: the trailing partial span is its own
    // (short) chunk, so a document with no boilerplate reconstructs to
    // exactly its original text — nothing is silently truncated
    val chunks = spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(w) > 0
           |THEN transform(sequence(0, (size(w) + ${chunkWords - 1}) div $chunkWords - 1),
           |       i -> array_join(slice(w, i * $chunkWords + 1, $chunkWords), ' '))
           |ELSE array() END""".stripMargin)).as(Seq("pos", "chunk")))
    // constant-key equi-join (not crossJoin): a BroadcastNestedLoopJoin
    // would break whole-stage codegen on the frequency-filter stage;
    // with a literal key both sides hash-join and stay codegen'd
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .withColumn("__k", lit(1))
      .join(broadcast(total.withColumn("__k", lit(1))), "__k")
      .filter(col("nd") >= greatest(lit(2L),
        ceil(lit(minDocFrac) * col("__n_docs"))))
      .select(col("chunk"), lit(1).as("__boiler"))
    chunks.join(broadcast(boiler), Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__boiler").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips nulls → only surviving spans are gathered;
        // struct sort restores document order without a window
        array_join(transform(
          sort_array(collect_list(when(col("__boiler").isNull,
            struct(col("pos"), col("chunk"))))),
          e => e.getField("chunk")), " ").as("clean_text"))
  }

  def lineDedupSql(chunkWords: Int = 2, minDocFrac: Double = 0.04): String =
    s"""WITH chunks AS (
       |  SELECT doc_id, i AS pos,
       |         array_to_string(w[i*$chunkWords+1 : i*$chunkWords+$chunkWords], ' ') AS chunk
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
       |          unnest(generate_series(0,
       |            (len(string_split(text, ' ')) + ${chunkWords - 1}) // $chunkWords - 1)) AS i
       |        FROM documents)),
       |boiler AS (
       |  SELECT chunk FROM chunks GROUP BY chunk
       |  HAVING count(DISTINCT doc_id) >=
       |    greatest(2, CAST(ceil($minDocFrac * (SELECT count(*) FROM documents)) AS BIGINT))),
       |marked AS (
       |  SELECT c.doc_id, c.pos, c.chunk, b.chunk IS NOT NULL AS is_boiler
       |  FROM chunks c LEFT JOIN boiler b ON b.chunk = c.chunk)
       |SELECT doc_id,
       |       count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' '
       |                           ORDER BY pos), '') AS clean_text
       |FROM marked GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------- shingles
  /** Spread doc rows across all cores BEFORE per-doc expansion — see
    * [[graft.Tables.spread]] (adaptive: no-op when the scan already has
    * enough splits, so nothing extra shuffles at 100 TB). */
  private def spread(docs: DataFrame): DataFrame = graft.Tables.spread(docs)

  /** Distinct character n-gram shingles per document. The dedup happens
    * MAP-SIDE (`array_distinct` on the per-doc shingle array before the
    * explode): zero shuffle, versus `.distinct()` which would shuffle
    * every shingle occurrence of the corpus. */
  def shingles(docs: DataFrame, n: Int = 4): DataFrame =
    spread(docs).select(col("doc_id"),
      explode(graft.functions.TextFunctions.char_shingles(col("text"), n))
        .as("sh"))

  def shinglesSql(n: Int = 4): String =
    s"""SELECT DISTINCT doc_id, substr(text, i, $n) AS sh
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |      FROM documents)""".stripMargin

  // ------------------------------------------------- n-gram Jaccard vs queries
  /** Exact n-gram Jaccard similarity of a small query set (doc_id <
    * queryMaxId, broadcast) against the whole corpus. Output: pairs with
    * similarity >= threshold. The full-corpus all-pairs variant is what
    * MinHash+LSH approximates — running exact Jaccard corpus×corpus at
    * scale is exactly the trap LSH exists to avoid. */
  def ngramJaccard(docs: DataFrame, n: Int = 4, queryMaxId: Long = 10,
                   threshold: Double = 0.5): DataFrame = {
    // no cache/materialization: shingle generation stays map-side (the
    // corpus×shingles table cannot fit at 100 TB) — but the per-doc
    // shingle COUNT rides along with every exploded row (it's computed
    // on the map-side distinct array before the explode), so union
    // sizes need no second aggregation pass and the corpus is exploded
    // exactly ONCE (r3 ran the explode 3×: sizes, join side, final
    // sizes re-join — the suite's slowest query at 1.76 s).
    // lambda-bind so the distinct-shingle array is computed ONCE per
    // doc: naming it in a projection and consuming it twice (size +
    // explode) lets CollapseProject inline the expensive expression
    // into BOTH consumers (4 copies in the optimized plan, measured
    // ~1.6× slower); binding it as a lambda variable via a 1-element
    // transform() makes the single evaluation structural. The shingle
    // set itself comes from the one-pass native expression
    // ([[graft.functions.CharShingles]]).
    val cs = graft.functions.TextFunctions.char_shingles(col("text"), n)
    val sh = spread(docs)
      .select(col("doc_id"), explode(
        transform(array(cs), arr =>
          transform(arr, x => struct(x.as("sh"), size(arr).as("n_sh"))))
          .getItem(0)).as("s"))
      .select(col("doc_id"), col("s.n_sh").as("n_sh"), col("s.sh").as("sh"))
    val qsh = sh.filter(col("doc_id") < queryMaxId)
      .select(col("doc_id").as("query_id"), col("n_sh").as("n_q"), col("sh"))
    // n_q and n_sh are functionally determined by the grouping keys, so
    // max() just carries them through the one aggregation shuffle
    val inter = broadcast(qsh).join(sh, "sh")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_inter"),
        max(col("n_q")).as("n_q"), max(col("n_sh")).as("n_sh"))
    inter
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_q") + col("n_sh") - col("n_inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("query_id"), col("doc_id"), col("jaccard"))
  }

  def ngramJaccardSql(n: Int = 4, queryMaxId: Long = 10,
                      threshold: Double = 0.5): String =
    s"""WITH sh AS (${shinglesSql(n)}),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT q.doc_id AS query_id, c.doc_id, count(*) AS n_inter
       |  FROM sh q JOIN sh c ON q.sh = c.sh AND q.doc_id < $queryMaxId
       |       AND q.doc_id <> c.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.query_id, i.doc_id,
       |       round(CAST(i.n_inter AS DOUBLE) /
       |             CAST(sq.n_sh + sc.n_sh - i.n_inter AS DOUBLE), 4) AS jaccard
       |FROM inter i
       |JOIN sizes sq ON sq.doc_id = i.query_id
       |JOIN sizes sc ON sc.doc_id = i.doc_id
       |WHERE round(CAST(i.n_inter AS DOUBLE) /
       |            CAST(sq.n_sh + sc.n_sh - i.n_inter AS DOUBLE), 4) >= $threshold""".stripMargin

  // ------------------------------------------------- benchmark contamination
  /** Benchmark contamination check: which corpus docs share any exact
    * character n-gram with a held-out benchmark set (here: doc_id <
    * benchMaxId stands in for the benchmark corpus). The eval-leakage
    * gate every training-data pipeline runs before a corpus ships —
    * exact n-gram overlap, the standard "13-gram collision" test, at
    * n=8 for this synthetic corpus's shorter texts.
    *
    * Scale shape: the benchmark n-gram set is tiny and broadcast, so
    * the corpus side never shuffles — the join happens in the scan
    * stage and only (contaminated doc, gram) survivors reach the one
    * aggregation shuffle. Shingling is map-side with per-doc
    * `array_distinct` (see [[shingles]]), so n_shared counts DISTINCT
    * shared grams. */
  def contamination(docs: DataFrame, n: Int = 8, benchMaxId: Long = 20): DataFrame = {
    val sh = shingles(docs, n)
    val bench = sh.filter(col("doc_id") < benchMaxId).select(col("sh")).distinct()
    sh.filter(col("doc_id") >= benchMaxId)
      .join(broadcast(bench), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** The benchmark gram set the curation funnels gate against: the
    * distinct char `n`-grams of the (raw) benchmark docs. */
  private[graft] def benchGrams(bench: DataFrame, n: Int): DataFrame =
    shingles(bench, n).select(col("sh")).distinct()

  /** The curation funnels' contamination gate: ids (≥ `benchMaxId`) of
    * `docs` whose distinct char `n`-grams overlap the [[benchGrams]] set
    * `bench` in at least `maxContamPm` per-mille — integer arithmetic,
    * so both engines compare exactly. The bench set is broadcast and
    * shared/total counts come from ONE aggregation over a left-join
    * mark, not two shuffles. */
  private[graft] def contaminatedIds(docs: DataFrame, bench: DataFrame,
                                     n: Int, benchMaxId: Long,
                                     maxContamPm: Long): DataFrame =
    shingles(docs, n)
      .filter(col("doc_id") >= benchMaxId)
      .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tot"), count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") * lit(1000L) >= col("n_tot") * lit(maxContamPm))
      .select("doc_id")

  def contaminationSql(n: Int = 8, benchMaxId: Long = 20): String =
    s"""WITH sh AS (${shinglesSql(n)}),
       |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < $benchMaxId)
       |SELECT s.doc_id, count(*) AS n_shared
       |FROM sh s JOIN bench b ON s.sh = b.sh
       |WHERE s.doc_id >= $benchMaxId
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- MinHash + LSH
  val numHashes = 16
  val numBands = 4
  val rowsPerBand: Int = numHashes / numBands

  /** Universal-hash family over two independent polynomial char hashes
    * (ha, hb) per shingle: h_i = ((ha·A_i) mod P + (hb·B_i) mod P +
    * C_i) mod P. The shingle hashes are Karp-Rabin style (ascii·base^j
    * mod P31) rather than md5 — pure integer arithmetic is ~4× cheaper
    * than digest+hex+conv and every engine computes it bit-identically
    * (md5 was the previous common denominator; this removed it from the
    * profile entirely). ha,hb < 2^31 and A,B < 2^30, so products stay
    * below 2^61 — no BIGINT overflow in either engine. */
  val hashP = 999999937L
  val polyP = 2147483647L // 2^31 − 1, prime
  def hashConsts(i: Int): (Long, Long, Long) = (
    ((i * 2654435761L + 1013904223L) % (hashP - 1)) + 1,
    ((i * 2246822519L + 3266489917L) % (hashP - 1)) + 1,
    (i * 97531L + 7L) % hashP)

  private def polyPow(base: Long, e: Int): Long =
    java.math.BigInteger.valueOf(base)
      .modPow(java.math.BigInteger.valueOf(e.toLong),
        java.math.BigInteger.valueOf(polyP)).longValue()

  /** Polynomial hash of the fixed-width shingle column: Σ ascii(ch_j) ·
    * base^(n−1−j) mod P31. Terms < 2^21·2^31 = 2^52; the 4-term sum
    * stays < 2^54. */
  def charPolyHash(sh: Column, n: Int, base: Long): Column =
    (0 until n).map { j =>
      (ascii(substring(sh, j + 1, 1)).cast("long") * polyPow(base, n - 1 - j)) % polyP
    }.reduce(_ + _) % polyP

  def charPolyHashSql(expr: String, n: Int, base: Long): String =
    "(" + (0 until n).map { j =>
      s"(ascii(substr($expr, ${j + 1}, 1))::BIGINT * ${polyPow(base, n - 1 - j)}) % $polyP"
    }.mkString(" + ") + s") % $polyP"

  /** Non-distinct shingles: min() over the multiset equals min() over
    * the set, so minhash skips the distinct's full shuffle. */
  def shinglesAll(docs: DataFrame, n: Int = 4): DataFrame =
    spread(docs)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, greatest(length(text) - ${n - 1}, 1))")).as("i"),
        col("text"))
      .select(col("doc_id"), expr(s"substring(text, i, $n)").as("sh"))

  /** MinHash signature per doc, via the one-pass native expression
    * ([[graft.functions.MinhashSigs]]): one output row per document
    * straight off the scan — no per-position explode, no signature
    * groupBy, so the first shuffle of the whole LSH path is the band
    * join. The signature array is lambda-bound (1-element transform)
    * before the 16 per-column reads so the O(len) expression evaluates
    * once per doc, not once per column (CollapseProject would inline
    * it 16× otherwise — same trap as [[ngramJaccard]]'s shingle set).
    * Values are bit-identical to [[minhashSignaturesDeclarative]] /
    * the DuckDB oracle (PropertySpec pins the parity, null and empty
    * text included).
    *
    * Null-text docs are DROPPED before the expression: both
    * formulations would otherwise emit an all-null signature row
    * (empirically verified — `greatest` skips the null length, so the
    * declarative explode emits one null-shingle row too), and every
    * null-signature doc shares a band key downstream (concat_ws skips
    * nulls), pairing all null docs as est_jaccard=0 candidates. Empty
    * text keeps its well-defined signature (ascii('')=0 in both
    * engines). */
  def minhashSignatures(docs: DataFrame, n: Int = 4): DataFrame = {
    val sigs = graft.functions.TextFunctions.minhash_sigs(
      col("text"), n, 257L, 263L, polyP, hashP,
      (0 until numHashes).map(hashConsts))
    spread(docs).filter(col("text").isNotNull)
      .select(col("doc_id"),
        transform(array(sigs), arr => struct(
          (0 until numHashes).map(i => element_at(arr, i + 1).as(s"h$i")): _*))
          .getItem(0).as("s"))
      .select(col("doc_id") +: (0 until numHashes).map(i => col(s"s.h$i")): _*)
  }

  /** The declarative formulation the native expression replaces —
    * kept as the parity reference (explode per position, two 4-term
    * polynomial hashes, numHashes min-aggregates). Same null-text drop
    * as [[minhashSignatures]]. */
  def minhashSignaturesDeclarative(docs: DataFrame, n: Int = 4): DataFrame = {
    val withHalves = shinglesAll(docs.filter(col("text").isNotNull), n)
      .withColumn("ha", charPolyHash(col("sh"), n, 257L))
      .withColumn("hb", charPolyHash(col("sh"), n, 263L))
    val aggs = (0 until numHashes).map { i =>
      val (a, b, c) = hashConsts(i)
      min(((col("ha") * a) % hashP + (col("hb") * b) % hashP + c) % hashP).as(s"h$i")
    }
    withHalves.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any band key, with the signature
    * agreement fraction (the MinHash Jaccard estimate).
    *
    * The signature columns RIDE the band rows, so the band self-join
    * computes the agreement directly — no re-join of the signature
    * table per pair side (previously two extra joins = two extra
    * shuffles of the sig table plus two stages; measured ~2× on the
    * candidate pass). The trade: the band shuffle carries numBands
    * copies of each 16-long signature instead of one — O(numBands·N)
    * fixed-width rows, the same asymptotics as the bare band table,
    * and strictly less traffic than the two replaced sig shuffles
    * once numBands ≤ 2·(pairs/N). distinct() runs AFTER the agreement
    * projection (est_jaccard is functionally determined by the pair,
    * so multi-band collisions collapse identically). */
  def minhashCandidates(docs: DataFrame, n: Int = 4,
                        minEstJaccard: Double = 0.0): DataFrame = {
    // No materialization barrier: band rows come from ONE posexplode
    // over the signature row (not a numBands-way union of projections,
    // which would re-run the signature expression per branch — the
    // shape that used to force a localCheckpoint here). The self-join
    // consumes the identical banded subtree on both sides, so the
    // band-key exchange is computed once and reused; worst case (AQE
    // declines the reuse) recomputes the one-pass native signatures,
    // which cost less than the checkpoint job they replaced.
    val sig = minhashSignatures(docs, n)
    val bandKey = (b: Int) =>
      md5(concat_ws(",", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*))
    val bands = sig.select(
      col("doc_id") +:
        posexplode(array((0 until numBands).map(bandKey): _*)).as(Seq("band", "bkey")) +:
        (0 until numHashes).map(i => col(s"h$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"x.h$i") === col(s"y.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        round(matches.cast("double") / numHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** `sig` feeds the $numBands band selects plus both signature joins
    * and `bands` self-joins; DuckDB inlines plain CTEs, re-running the
    * whole upstream chain — including any scrub/score CTEs a composite
    * prepends via a `documents` shadow — once per reference. The
    * MATERIALIZED fences below cut q_curate_full's oracle from 208 s to
    * 5 s at sf0.01 (r15). */
  def minhashCandidatesSql(n: Int = 4, minEstJaccard: Double = 0.0): String = {
    val minExprs = (0 until numHashes).map { i =>
      val (a, b, c) = hashConsts(i)
      s"min(((ha * $a) % $hashP + (hb * $b) % $hashP + $c) % $hashP) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val matchSum = (0 until numHashes)
      .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH shs AS (
       |  SELECT doc_id, substr(text, i, $n) AS sh
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(text) - ${n - 1}, 1))) AS i
       |        FROM documents)),
       |hh AS (
       |  SELECT doc_id,
       |    ${charPolyHashSql("sh", n, 257L)} AS ha,
       |    ${charPolyHashSql("sh", n, 263L)} AS hb
       |  FROM shs),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $minExprs
       |  FROM hh GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT p.a_id, p.b_id,
       |       round(CAST($matchSum AS DOUBLE) / $numHashes, 4) AS est_jaccard
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.a_id
       |JOIN sig sb ON sb.doc_id = p.b_id
       |WHERE round(CAST($matchSum AS DOUBLE) / $numHashes, 4) >= $minEstJaccard""".stripMargin
  }

  // ------------------------------------------- LSH quality measurement
  /** Measured banding recall of the MinHash-LSH candidate generator
    * against TRUE n-gram Jaccard — the dedup-family analog of the ANN
    * recall curves (q_ivf_curve/q_pq_curve): the parameter sheet says
    * 4 bands × 4 rows catches P = 1−(1−j⁴)⁴ of true-similarity-j
    * pairs; this query measures it on the actual corpus, per true-
    * Jaccard decile.
    *
    * Ground truth is exact but BOUNDED: pairs within the doc_id <
    * `maxId` region only (the recallCurve "exhaustive anchor" pattern
    * — a tuning tool measures on a region, the production operator
    * stays banded). Even there the truth table never materializes
    * all-pairs: pairs emerge from the shared-shingle join (zero
    * true-Jaccard pairs never meet), one keyed exchange.
    *
    * Output per decile of true Jaccard (j_pm div 100000): pair count,
    * banding-caught count, recall ppm — integer arithmetic end to end,
    * so the measured curve itself hash-matches the oracle. */
  /** Exact pair statistics for the bounded region: shared-shingle
    * counts and per-doc shingle-set sizes — pairs emerge from the
    * shingle join, zero-overlap pairs never materialize. Shared by
    * [[lshQuality]] (symmetric Jaccard) and [[containment]]
    * (asymmetric). */
  private def regionPairStats(docs: DataFrame, n: Int,
                              maxId: Long): DataFrame = {
    val region = spread(docs).filter(col("doc_id") < maxId)
    // shingle once: the plan consumes sh on both join sides plus the
    // size aggregate, and the alias boundary defeats ReuseExchange
    // (the media-pair lesson)
    val sh = shingles(region, n).localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
  }

  private def regionPairStatsSql(n: Int, maxId: Long): String =
    s"""documents AS (
       |  SELECT * FROM main.documents WHERE doc_id < $maxId),
       |sh AS (
       |${shinglesSql(n)}
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |truth AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT t.a_id, t.b_id, t.n_inter, sa.sz AS sza, sb.sz AS szb
       |  FROM truth t
       |  JOIN sizes sa ON sa.doc_id = t.a_id
       |  JOIN sizes sb ON sb.doc_id = t.b_id)""".stripMargin

  def lshQuality(docs: DataFrame, n: Int = 4, maxId: Long = 250): DataFrame = {
    val region = spread(docs).filter(col("doc_id") < maxId)
    val truth = regionPairStats(docs, n, maxId)
      .withColumn("j_pm", expr("n_inter * 1000000 div (sza + szb - n_inter)"))
    val cand = minhashCandidates(region, n, 0.0)
      .select(col("a_id"), col("b_id"), lit(1L).as("caught"))
    truth.join(cand, Seq("a_id", "b_id"), "left")
      .groupBy(expr("j_pm div 100000").as("j_decile"))
      .agg(count(lit(1)).as("n_pairs"), sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall_ppm",
        expr("n_caught * 1000000 div n_pairs"))
  }

  /** DuckDB twin of [[lshQuality]]: the shingle CTE restricted to the
    * region via a shadowing `documents` CTE (which also scopes the
    * nested [[minhashCandidatesSql]]), intersection via the same
    * shared-shingle join, integer div throughout. */
  def lshQualitySql(n: Int = 4, maxId: Long = 250): String =
    s"""WITH ${regionPairStatsSql(n, maxId)},
       |jm AS (
       |  SELECT a_id, b_id,
       |         n_inter * 1000000 // (sza + szb - n_inter) AS j_pm
       |  FROM stats),
       |cand AS (
       |  SELECT a_id, b_id, 1 AS caught FROM (
       |${minhashCandidatesSql(n, 0.0)}
       |  ))
       |SELECT j_pm // 100000 AS j_decile, count(*) AS n_pairs,
       |       CAST(sum(coalesce(c.caught, 0)) AS BIGINT) AS n_caught,
       |       CAST((sum(coalesce(c.caught, 0)) * 1000000) // count(*) AS BIGINT)
       |         AS recall_ppm
       |FROM jm LEFT JOIN cand c USING (a_id, b_id)
       |GROUP BY 1""".stripMargin

  /** Asymmetric near-duplicate detection: shingle CONTAINMENT
    * |A∩B|/|A| — the quote/subset signal symmetric Jaccard misses (a
    * short doc fully embedded in a long one has high containment but
    * low Jaccard, so LSH-on-Jaccard never surfaces it; SpanScrub
    * catches exact substrings, containment catches paraphrased or
    * reordered inclusion). Pairs where either direction's containment
    * clears `minContPm`, with the symmetric j_pm alongside to show
    * what Jaccard would have said. Bounded exhaustive region, same
    * justification as [[lshQuality]]. */
  def containment(docs: DataFrame, n: Int = 4, maxId: Long = 250,
                  minContPm: Long = 800000): DataFrame =
    regionPairStats(docs, n, maxId)
      .withColumn("cont_a_pm", expr("n_inter * 1000000 div sza"))
      .withColumn("cont_b_pm", expr("n_inter * 1000000 div szb"))
      .withColumn("j_pm", expr("n_inter * 1000000 div (sza + szb - n_inter)"))
      .filter(greatest(col("cont_a_pm"), col("cont_b_pm")) >= minContPm)
      .select(col("a_id"), col("b_id"), col("cont_a_pm"), col("cont_b_pm"),
        col("j_pm"))

  def containmentSql(n: Int = 4, maxId: Long = 250,
                     minContPm: Long = 800000): String =
    s"""WITH ${regionPairStatsSql(n, maxId)}
       |SELECT a_id, b_id,
       |       n_inter * 1000000 // sza AS cont_a_pm,
       |       n_inter * 1000000 // szb AS cont_b_pm,
       |       n_inter * 1000000 // (sza + szb - n_inter) AS j_pm
       |FROM stats
       |WHERE greatest(n_inter * 1000000 // sza,
       |               n_inter * 1000000 // szb) >= $minContPm""".stripMargin

  /** [[lshQuality]]'s SimHash sibling: measured recall of "hamming
    * distance ≤ `maxHamming` on the 60-bit SimHash" against true
    * n-gram Jaccard, per decile — the two production near-dup
    * detectors measured on the SAME truth table, so their curves are
    * directly comparable (MinHash banding is set-overlap-theoretic,
    * SimHash is frequency-weighted cosine-ish; which catches more of
    * decile 5 is an empirical question this answers per corpus). */
  def simhashQuality(docs: DataFrame, n: Int = 4, maxId: Long = 250,
                     maxHamming: Int = 6): DataFrame = {
    val region = spread(docs).filter(col("doc_id") < maxId)
    val truth = regionPairStats(docs, n, maxId)
      .withColumn("j_pm", expr("n_inter * 1000000 div (sza + szb - n_inter)"))
    val fp = simhash(region).localCheckpoint() // fingerprint once, two join sides
    truth
      .join(fp.select(col("doc_id").as("a_id"), col("simhash").as("fa")), "a_id")
      .join(fp.select(col("doc_id").as("b_id"), col("simhash").as("fb")), "b_id")
      .withColumn("caught",
        when(expr("bit_count(fa ^ fb)") <= maxHamming, 1L).otherwise(0L))
      .groupBy(expr("j_pm div 100000").as("j_decile"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).as("n_caught"))
      .withColumn("recall_ppm", expr("n_caught * 1000000 div n_pairs"))
  }

  def simhashQualitySql(n: Int = 4, maxId: Long = 250,
                        maxHamming: Int = 6): String =
    s"""WITH ${regionPairStatsSql(n, maxId)},
       |jm AS (
       |  SELECT a_id, b_id,
       |         n_inter * 1000000 // (sza + szb - n_inter) AS j_pm
       |  FROM stats),
       |fp AS (SELECT * FROM (
       |${simhashSql}
       |)),
       |c AS (
       |  SELECT j.j_pm,
       |         CASE WHEN bit_count(xor(fa.simhash, fb.simhash))
       |                   <= $maxHamming THEN 1 ELSE 0 END AS caught
       |  FROM jm j
       |  JOIN fp fa ON fa.doc_id = j.a_id
       |  JOIN fp fb ON fb.doc_id = j.b_id)
       |SELECT j_pm // 100000 AS j_decile, count(*) AS n_pairs,
       |       CAST(sum(caught) AS BIGINT) AS n_caught,
       |       CAST(sum(caught) * 1000000 // count(*) AS BIGINT)
       |         AS recall_ppm
       |FROM c GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- SimHash
  val simhashBits = 60 // 15 hex digits of md5 → stays exact in a signed long

  /** SimHash fingerprint: per token-occurrence hash, each bit votes
    * +1/-1; fingerprint bit = sign of the vote sum. Frequency-weighted
    * (duplicate tokens vote repeatedly). One explode + one groupBy. */
  def simhash(docs: DataFrame): DataFrame = {
    // collapsed (doc, tok, tf) rows (r15 tf-frame flip): each distinct
    // token votes once with weight tf — identical vote sums, the md5
    // hash computed per distinct token instead of per occurrence, and
    // the 60 bit-vote aggregates fold tf-fold fewer rows
    val toks = spread(docs).select(col("doc_id"),
        explode(graft.functions.TextFunctions.token_tfs(
          expr("regexp_extract_all(text, '\\\\S+', 0)"))).as("p"))
      .select(col("doc_id"), col("p.token").as("tok"), col("p.tf").as("tf"))
    val h = seededHash(0, col("tok"))
    val bitVotes = (0 until simhashBits).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"v$b")
    }
    val fp = (0 until simhashBits).map { b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy("doc_id")
      .agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  def simhashSql: String = {
    val h = seededHashSql(0, "tok")
    val votes = (0 until simhashBits)
      .map(b => s"sum(CASE WHEN (($h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val fp = (0 until simhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
       |  FROM documents),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, $fp AS simhash FROM votes""".stripMargin
  }
}
