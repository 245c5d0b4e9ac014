package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * RNG-free: the sort key is a seeded md5-derived hash of the row id, so
  * the sample is reproducible across runs, partitionings, and engines —
  * the property that makes a 100 TB curation job auditable. Per-stratum
  * capping goes through row_number over (stratum, hash), which Spark
  * executes as WindowGroupLimit: each partition keeps only its local
  * top-cap before the shuffle, so the exchange carries O(strata·cap)
  * rows, not the corpus.
  */
object Sampling {

  /** 60-bit seeded hash of the id, identical in Spark and DuckDB
    * (same construction as [[graft.dedup.Dedup.seededHash]]). */
  private def idHash(seed: Int) =
    conv(substring(md5(concat(lit(seed.toString), lit(":"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")

  /** Up to `cap` docs per stratum, hash-ranked. Equal-allocation
    * stratified sampling: small strata keep everything, big strata get a
    * uniform deterministic subset. */
  def stratifiedByHash(docs: DataFrame, stratum: String = "lang",
                       cap: Int = 50, seed: Int = 7): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(idHash(seed), col("doc_id"))
    docs.select(col(stratum), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  def stratifiedByHashSql(stratum: String = "lang", cap: Int = 50,
                          seed: Int = 7): String =
    s"""SELECT $stratum, doc_id, CAST(rk AS INT) AS rk FROM (
       |  SELECT $stratum, doc_id,
       |         row_number() OVER (PARTITION BY $stratum ORDER BY
       |           (('0x' || substr(md5($seed || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT),
       |           doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $cap""".stripMargin

  /** Weight-biased deterministic sampling: per stratum keep the `cap`
    * smallest integer priorities h div w, where h is the seeded 60-bit
    * hash and w = max(n_chars, 1). Doubling a document's weight halves
    * its expected priority, so selection probability grows with weight
    * — the integer surrogate of Efraimidis–Spirakis exponential keys
    * (u^(1/w)), chosen over the exact form because it needs no RNG and
    * no libm: both engines compute the identical integer division, so
    * the weighted sample stays bit-reproducible (the file's invariant),
    * where ln/pow would drift in the last ulp between runtimes.
    * Same WindowGroupLimit shape as [[stratifiedByHash]]: the exchange
    * carries O(strata·cap) rows at any corpus size. */
  def weightedSample(docs: DataFrame, stratum: String = "lang",
                     cap: Int = 25, seed: Int = 11): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(col("priority"), col("doc_id"))
    docs.select(col(stratum), col("doc_id"), col("n_chars"),
        idHash(seed).as("h"))
      .withColumn("priority", expr("h div greatest(n_chars, 1)"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= cap)
      .select(col(stratum), col("doc_id"), col("priority"), col("rk"))
  }

  def weightedSampleSql(stratum: String = "lang", cap: Int = 25,
                        seed: Int = 11): String =
    s"""SELECT $stratum, doc_id, priority, CAST(rk AS INT) AS rk FROM (
       |  SELECT $stratum, doc_id, priority,
       |         row_number() OVER (PARTITION BY $stratum
       |                            ORDER BY priority, doc_id) AS rk
       |  FROM (SELECT $stratum, doc_id,
       |          (('0x' || substr(md5($seed || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
       |            // greatest(n_chars, 1) AS priority
       |        FROM documents))
       |WHERE rk <= $cap""".stripMargin

  /** Deterministic global shuffle for training order: every doc gets a
    * (shard, position) from a salted hash — a new salt is a new epoch
    * permutation, reproducible across runs, partitionings, and engines
    * (RNG-free, like everything else in this file). The per-shard
    * position sort shuffles on the shard key once; at 100 TB pick
    * nShards so a shard's rows fit a task's sort buffer — the trainer
    * then streams shards in order, which is exactly how large corpora
    * are served to data loaders. */
  def shuffleOrder(docs: DataFrame, nShards: Int = 8,
                   salt: String = "epoch0"): DataFrame = {
    val h = conv(substring(md5(concat_ws(":", lit(salt),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard", (col("h") % nShards).cast("int"))
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("position"))
  }

  def shuffleOrderSql(nShards: Int = 8, salt: String = "epoch0"): String =
    s"""SELECT doc_id, CAST(h % $nShards AS INT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY h % $nShards
       |                               ORDER BY h, doc_id) AS BIGINT) AS position
       |FROM (SELECT doc_id,
       |        ('0x' || substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |      FROM documents)""".stripMargin

  /** Default target mixture for [[mixtureSample]]: ppm of the OUTPUT
    * corpus per language (fr deliberately absent → dropped). */
  val defaultMixture: Seq[(String, Long)] = Seq(
    "en" -> 600000L, "de" -> 150000L, "es" -> 150000L, "zh" -> 100000L)

  /** Resample the corpus to a target stratum mixture (the data-mixing
    * step of every LLM pretraining recipe — "60% web, 15% books, …"):
    * given target weights w_s (ppm of the output), the output is the
    * LARGEST corpus with exactly that mixture the inventory allows —
    * T = min_s(n_s·10⁶ div w_s), keep_s = T·w_s div 10⁶ — and each
    * stratum keeps its keep_s lowest-hash documents. All arithmetic
    * integer, the per-doc choice a seeded md5 rank: the sampled corpus
    * is bit-reproducible across runs, partitionings, and engines.
    * Strata without a declared weight are dropped.
    *
    * Scale shape: the inventory aggregate collapses the corpus to one
    * row per stratum (map-side partial); the feasibility min is a
    * window over that tiny table; the rank filter is one window sort
    * per stratum — the same O(corpus log) shuffle any deterministic
    * sample pays. */
  def mixtureSample(docs: DataFrame, stratum: String = "lang",
                    weightsPpm: Seq[(String, Long)] = defaultMixture,
                    seed: Int = 11): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = broadcast(weightsPpm.toDF(stratum, "w_ppm"))
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
      .join(wdf, stratum)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val keepN = counts
      .withColumn("t", min(expr("n * 1000000 div w_ppm")).over(wAll))
      .select(col(stratum),
        expr("t * w_ppm div 1000000").as("keep_n"))
    val wRank = Window.partitionBy(col(stratum))
      .orderBy(idHash(seed), col("doc_id"))
    docs.select(col(stratum), col("doc_id"))
      .join(broadcast(keepN), stratum)
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .filter(col("rk") <= col("keep_n"))
      .select(col(stratum), col("doc_id"), col("rk"), col("keep_n"))
  }

  /** Temperature-flattened mixture (α = ½): target share per stratum
    * ∝ isqrt(count) — the multilingual "temperature sampling" recipe
    * (dominant strata down-weighted, small ones kept whole-r), with
    * the exponent fixed at ½ because that is the α whose weight is
    * integer-exact: isqrt is floor(sqrt) plus a ±1 integer correction,
    * so both engines agree regardless of libm rounding, where a
    * general pow(n, α) would drift in the last ulp. Data-derived
    * weights, fully relational — the stratum table never hits the
    * driver; [[mixtureSample]]'s fill mechanism does the rest.
    * Scale shape: counts is one groupBy to #strata rows; the window
    * passes run over that tiny frame; docs join broadcast(keep_n). */
  def temperatureMixture(docs: DataFrame, stratum: String = "lang",
                         seed: Int = 11): DataFrame = {
    val keepN = isqrtQuotas(
      docs.groupBy(col(stratum)).agg(count(lit(1)).as("n")), stratum, "keep_n")
    val wRank = Window.partitionBy(col(stratum))
      .orderBy(idHash(seed), col("doc_id"))
    docs.select(col(stratum), col("doc_id"))
      .join(broadcast(keepN), stratum)
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .filter(col("rk") <= col("keep_n"))
      .select(col(stratum), col("doc_id"), col("rk"), col("keep_n"))
  }

  /** α = ½ stratum quotas over a (stratum, n) table: weight isqrt(n)
    * (floor(sqrt) plus the ±1 integer correction), share ppm of the
    * weight total, and the largest scale t at which every stratum's
    * share fits its n — quota (t·ppm) div 10⁶ under `quota`. */
  private def isqrtQuotas(counts: DataFrame, stratum: String,
                          quota: String): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts
      .withColumn("s0", expr("cast(floor(sqrt(cast(n as double))) as bigint)"))
      .withColumn("w", expr(
        "case when s0*s0 > n then s0-1 " +
          "when (s0+1)*(s0+1) <= n then s0+1 else s0 end"))
      .withColumn("sw", sum(col("w")).over(wAll))
      // clamp to 1: under extreme skew (sum of isqrt weights > 10⁶·w)
      // the div truncates to 0, and `x div 0` is NULL in Spark but an
      // error in DuckDB — the twins would diverge (silent stratum drop
      // vs oracle crash). Same clamp CorpusStats uses for idf floors.
      .withColumn("ppm", expr("greatest((1000000 * w) div sw, 1L)"))
      .withColumn("t", min(expr("(n * 1000000) div ppm")).over(wAll))
      .select(col(stratum), expr("(t * ppm) div 1000000").as(quota))
  }

  def temperatureMixtureSql(stratum: String = "lang",
                            seed: Int = 11): String =
    s"""WITH cnt AS (SELECT $stratum, count(*) AS n FROM documents GROUP BY 1),
       |iw AS (
       |  SELECT $stratum, n,
       |         CASE WHEN s0*s0 > n THEN s0-1
       |              WHEN (s0+1)*(s0+1) <= n THEN s0+1 ELSE s0 END AS w
       |  FROM (SELECT $stratum, n,
       |          CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
       |        FROM cnt)),
       |pp AS (SELECT $stratum, n,
       |         greatest((1000000 * w) // sum(w) OVER (), 1) AS ppm FROM iw),
       |keepn AS (
       |  SELECT $stratum, CAST((t * ppm) // 1000000 AS BIGINT) AS keep_n
       |  FROM (SELECT $stratum, ppm,
       |          min((n * 1000000) // ppm) OVER () AS t FROM pp)),
       |ranked AS (
       |  SELECT d.$stratum, d.doc_id,
       |         CAST(row_number() OVER (PARTITION BY d.$stratum ORDER BY
       |           ('0x' || substr(md5($seed || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
       |           d.doc_id) AS BIGINT) AS rk
       |  FROM documents d JOIN keepn k USING ($stratum))
       |SELECT r.$stratum, r.doc_id, r.rk, k.keep_n
       |FROM ranked r JOIN keepn k USING ($stratum)
       |WHERE r.rk <= k.keep_n""".stripMargin

  def mixtureSampleSql(stratum: String = "lang",
                       weightsPpm: Seq[(String, Long)] = defaultMixture,
                       seed: Int = 11): String = {
    val values = weightsPpm.map { case (s, w) => s"('$s', ${w})" }.mkString(", ")
    s"""WITH wts AS (SELECT * FROM (VALUES $values) t($stratum, w_ppm)),
       |cnt AS (SELECT $stratum, count(*) AS n FROM documents GROUP BY 1),
       |keepn AS (
       |  SELECT $stratum,
       |         CAST(t * w_ppm // 1000000 AS BIGINT) AS keep_n
       |  FROM (SELECT w.$stratum, w.w_ppm,
       |               min((c.n * 1000000) // w.w_ppm) OVER () AS t
       |        FROM wts w JOIN cnt c USING ($stratum))),
       |ranked AS (
       |  SELECT d.$stratum, d.doc_id,
       |         CAST(row_number() OVER (PARTITION BY d.$stratum ORDER BY
       |           ('0x' || substr(md5($seed || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
       |           d.doc_id) AS BIGINT) AS rk
       |  FROM documents d JOIN keepn k USING ($stratum))
       |SELECT r.$stratum, r.doc_id, r.rk, k.keep_n
       |FROM ranked r JOIN keepn k USING ($stratum)
       |WHERE r.rk <= k.keep_n""".stripMargin
  }

  // ------------------------------------------- token-budget mixture
  /** Temperature mixture with the budget in BPE TOKENS — what LLM
    * training actually allocates (a 10-doc stratum of books and a
    * 10-doc stratum of tweets are NOT the same amount of data).
    * Stratum weights ∝ isqrt(token total) (the integer-exact α=½ of
    * [[temperatureMixture]]); each stratum fills greedily in seeded
    * hash order until its token budget is spent — the cumulative-sum
    * prefix rule, so the selection is a deterministic function of
    * (corpus, merges, seed).
    *
    * Scale shape: per-doc token counts ride [[graft.text.Bpe.encode]]
    * (distinct-word merge fold — the corpus tokenizes once); weights
    * are one groupBy to #strata rows; the fill is one partitioned
    * cumsum window, no driver involvement. */
  def tokenMixture(docs: DataFrame, stratum: String = "lang",
                   seed: Int = 11,
                   merges: Seq[(String, String)] =
                     graft.text.Bpe.sennrichMerges): DataFrame = {
    val toks = graft.text.Bpe.encode(docs, merges)
      .select(col("doc_id"), col("n_bpe_tokens").cast("long").as("tok"))
    val dt = docs.select(col(stratum), col("doc_id")).join(toks, "doc_id")
    val budgets = isqrtQuotas(
      dt.groupBy(col(stratum)).agg(sum(col("tok")).as("n"))
        // a stratum of only zero-token docs has n=0 but a ppm floor of
        // 1, which would drive t — and thus EVERY stratum's budget — to
        // 0; exclude it before the min (nothing to sample there anyway)
        .filter(col("n") > 0), stratum, "budget_tok")
    val wCum = Window.partitionBy(col(stratum))
      .orderBy(idHash(seed), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dt.join(broadcast(budgets), stratum)
      .withColumn("cum", sum(col("tok")).over(wCum))
      .filter(col("cum") <= col("budget_tok"))
      .select(col(stratum), col("doc_id"), col("tok"), col("cum"),
        col("budget_tok"))
  }

  def tokenMixtureSql(stratum: String = "lang", seed: Int = 11,
                      merges: Seq[(String, String)] =
                        graft.text.Bpe.sennrichMerges): String =
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(n_bpe_tokens AS BIGINT) AS tok FROM (
       |${graft.text.Bpe.encodeSql(merges)}
       |  )),
       |dt AS (
       |  SELECT d.$stratum, d.doc_id, t.tok
       |  FROM documents d JOIN tok t USING (doc_id)),
       |cnt AS (
       |  SELECT $stratum, CAST(sum(tok) AS BIGINT) AS n FROM dt
       |  GROUP BY 1 HAVING sum(tok) > 0),
       |iw AS (
       |  SELECT $stratum, n,
       |         CASE WHEN s0*s0 > n THEN s0-1
       |              WHEN (s0+1)*(s0+1) <= n THEN s0+1 ELSE s0 END AS w
       |  FROM (SELECT $stratum, n,
       |          CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0
       |        FROM cnt)),
       |pp AS (SELECT $stratum, n,
       |         greatest((1000000 * w) // sum(w) OVER (), 1) AS ppm FROM iw),
       |keepn AS (
       |  SELECT $stratum, CAST((t * ppm) // 1000000 AS BIGINT) AS budget_tok
       |  FROM (SELECT $stratum, ppm,
       |          min((n * 1000000) // ppm) OVER () AS t FROM pp)),
       |ranked AS (
       |  SELECT d.$stratum, d.doc_id, d.tok,
       |         CAST(sum(d.tok) OVER (PARTITION BY d.$stratum ORDER BY
       |           ('0x' || substr(md5($seed || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
       |           d.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM dt d)
       |SELECT r.$stratum, r.doc_id, r.tok, r.cum, k.budget_tok
       |FROM ranked r JOIN keepn k USING ($stratum)
       |WHERE r.cum <= k.budget_tok""".stripMargin

  // --------------------------------------------- leakage-safe splits
  /** Train/test split that can never leak near-duplicates across the
    * boundary: the split is decided by the doc's duplicate-CLUSTER
    * root, not the doc — every member of a near-dup cluster hashes to
    * the same bucket, so a test document's paraphrase cannot sit in
    * train (the eval-contamination failure mode group-wise splits
    * exist to prevent). Singleton docs are their own root. Bucketing
    * is the established md5 seeded-hash ppm, so the assignment is
    * deterministic, replayable, and engine-exact.
    *
    * Scale shape: [[graft.dedup.Clusters.dupClusters]] is
    * collision-sized (near-dup members only) and LEFT-joins the
    * corpus id list; the hash is map-side. One broadcastable join
    * over what the dedup family already computes. */
  def leakSafeSplit(docs: DataFrame, trainPm: Long = 900000,
                    seed: Int = 11): DataFrame = {
    val clusters = graft.dedup.Clusters.dupClusters(docs)
    graft.Tables.spread(docs).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket_pm",
        graft.dedup.Dedup.seededHash(seed, col("root").cast("string"))
          % lit(1000000L))
      .withColumn("split",
        when(col("bucket_pm") < trainPm, lit("train")).otherwise(lit("test")))
      .select(col("doc_id"), col("root"), col("bucket_pm"), col("split"))
  }

  def leakSafeSplitSql(trainPm: Long = 900000, seed: Int = 11): String =
    s"""WITH clusters AS (
       |${graft.dedup.Clusters.dupClustersSql()}
       |),
       |rooted AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS root
       |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id),
       |b AS (
       |  SELECT doc_id, root,
       |         ${graft.dedup.Dedup.seededHashSql(seed,
                    "CAST(root AS VARCHAR)")} % 1000000 AS bucket_pm
       |  FROM rooted)
       |SELECT doc_id, root, bucket_pm,
       |       CASE WHEN bucket_pm < $trainPm THEN 'train' ELSE 'test' END
       |         AS split
       |FROM b""".stripMargin
}
