package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ann.Similarity

/** Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25) and a
  * dense (cosine-ANN) candidate list — the standard two-tower read
  * path of a RAG / curation stack, run query-by-example: a seed
  * document queries the corpus with its own rarest tokens (sparse
  * tower) and its own embedding (dense tower), and RRF
  * (Cormack et al., SIGIR'09: score = Σ_lists 1/(K + rank)) fuses the
  * two rankings without any score calibration between them.
  *
  * Scale shape: both towers end in per-query top-nCand lists — the
  * fusion join touches ≤ 2·|Q|·nCand rows total, never the corpus. The
  * sparse tower prunes the corpus token stream to the ≤ |Q|·mTerms
  * broadcast query vocabulary BEFORE its one shuffle (the (doc, token)
  * aggregate); the dense tower is the [[Similarity.knnBrute]] shape
  * (broadcast queries, map-side scores, partial top-k) whose 100 TB
  * variant swaps in the IVF/PQ candidate generators — RRF only needs
  * ranks, so any tower upgrade slots in unchanged. Query-term
  * selection ranks by integer document frequency (df asc ≡ idf desc),
  * keeping the tie order engine-exact.
  */
object Hybrid {

  /** RRF-fused top-k per example doc (doc_id < qMaxId, embeddings
    * aligned by vec_id = doc_id). `bm25_rk` / `cos_rk` are the
    * per-tower ranks (null when outside that tower's top-nCand); the
    * self-match is excluded from both towers. */
  def rrfSearch(docs: DataFrame, embs: DataFrame, qMaxId: Long = 10,
                mTerms: Int = 8, nCand: Int = 50, rrfK: Int = 60,
                k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ---- sparse tower: BM25 with the seed doc's rarest tokens
    val wArr = expr("regexp_extract_all(text, '\\\\S+', 0)")
    val toks = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(
        transform(array(wArr), arr =>
          transform(arr, t => struct(t.as("token"), size(arr).as("dl"))))
          .getItem(0)).as("p"))
      .select(col("doc_id"), col("p.token").as("token"), col("p.dl").as("dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(wArr)) / count(lit(1))).as("avgdl"))
    val dfAll = toks.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("df"), col("token"))
    val qtoks = toks.filter(col("doc_id") < qMaxId)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
      .join(dfAll, "token")
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= mTerms)
      .select(col("query_id"), col("token"), col("df"))
    val tf = toks
      .join(broadcast(qtoks.select("token").distinct()), "token")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val bm = tf.join(broadcast(qtoks), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats)) // 1-row stats: the sanctioned tiny side
      .select(col("query_id"), col("doc_id"),
        (idf * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("query_id", "doc_id").agg(round(sum(col("s")), 4).as("score"))
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val bmList = bm.withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= nCand)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rk"))
    // ---- dense tower: knnBrute shape over the aligned embeddings
    val corpus = embs.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(col("vec_id") < qMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
    val cosList = broadcast(queries)
      .join(corpus, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(Similarity.dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(wc)).filter(col("rk") <= nCand)
      .select(col("query_id"), col("doc_id"), col("rk").as("cos_rk"))
    fuse(bmList, cosList, rrfK, k)
  }

  /** [[rrfSearch]] over MAINTAINED index artifacts — the production
    * read path: the sparse tower reads postings/df/stats (the query
    * doc's tokens come from the postings themselves — nothing is
    * tokenized at search time), the dense tower is the IVF-PQ
    * candidate generator over the frozen codebook + codes (raw base
    * vectors touched only by the exact re-rank's ≤ nCand·refine rows
    * per query), and the RRF fusion is byte-identical to
    * [[rrfSearch]]'s — rank-only coupling is what makes the towers
    * swappable, exactly as this module's doc promised. */
  def rrfSearchIndexed(embs: DataFrame, sparse: SparseIndex.Index,
                       dense: graft.ann.IncrementalIndex.Index,
                       qMaxId: Long = 10, mTerms: Int = 8, nCand: Int = 50,
                       rrfK: Int = 60, k: Int = 10, nprobe: Int = 4,
                       refine: Int = 2, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    // ---- sparse tower: artifacts only. Query terms = the query docs'
    // rarest tokens straight from the postings (df asc ≡ idf desc).
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("df"), col("token"))
    val qtoks = sparse.df
      .join(broadcast(sparse.postings.filter(col("doc_id") < qMaxId)
        .select(col("doc_id").as("query_id"), col("token"))), "token")
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= mTerms)
      .select(col("query_id"), col("token"), col("df"))
    val tf = sparse.postings
      .join(broadcast(qtoks.select("token").distinct()), "token")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val bm = tf.join(broadcast(qtoks), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(sparse.stats)) // 1-row stats: sanctioned tiny side
      .select(col("query_id"), col("doc_id"),
        (idf * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
            (col("sum_dl").cast("double") / col("n_docs")))))
          .as("s"))
      .groupBy("query_id", "doc_id").agg(round(sum(col("s")), 4).as("score"))
    val wb = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val bmList = bm.withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= nCand)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rk"))
    // ---- dense tower: IVF probe → PQ shortlist → exact re-rank, all
    // against the frozen artifacts; rank depth = nCand
    val cosList = graft.ann.IncrementalIndex
      .search(embs, dense, qMaxId, nCand, nprobe, refine = refine)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("cos_rk"))
    fuse(bmList, cosList, rrfK, k)
  }

  /** The shared RRF tail: union + groupBy, no join node at all (a full
    * outer can't broadcast), ≤ 2 contributions per doc — the sum of two
    * doubles is order-independent, and the shape generalizes to any
    * number of towers. */
  private def fuse(bmList: DataFrame, cosList: DataFrame,
                   rrfK: Int, k: Int): DataFrame = {
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    bmList.select(col("query_id"), col("doc_id"), col("bm25_rk").as("rk"),
        lit(true).as("is_bm"))
      .unionByName(cosList.select(col("query_id"), col("doc_id"),
        col("cos_rk").as("rk"), lit(false).as("is_bm")))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(rrfK) + col("rk"))), 6).as("rrf_score"),
        max(when(col("is_bm"), col("rk"))).cast("int").as("bm25_rk"),
        max(when(!col("is_bm"), col("rk"))).cast("int").as("cos_rk"))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
  }

  /** The oracle-checked end-to-end shape (q_hybrid_incr): both towers
    * build on docs/vecs below `splitId`, the rest arrives as a shard
    * and merges/appends in, and the fused search sees the full corpus.
    * The sparse merge is exact (monoid), the dense appends against the
    * frozen base-trained artifacts — so the DuckDB twin is the batch
    * sparse tower + the incremental-index dense oracle. */
  def hybridIncr(docs: DataFrame, embs: DataFrame, splitId: Long = 250,
                 qMaxId: Long = 10, mTerms: Int = 8, nCand: Int = 50,
                 rrfK: Int = 60, k: Int = 10, nprobe: Int = 4,
                 refine: Int = 2): DataFrame = {
    // materialize the grown state (what a serving stack stores): the
    // search fans each artifact into several consumers — postings feed
    // qtoks AND tf — so an unmaterialized shard would re-tokenize per
    // consumer (the repo's measured consumed->1x trap). The two towers
    // read disjoint inputs (docs vs embs) and meet only in the fused
    // search, so their builds run as CONCURRENT job groups, and each
    // tower's artifact pins are themselves independent jobs (guide
    // §2.6; r17 — measured ~1.7 s of tower-build wall overlapped at
    // sf0.1, identical artifacts by construction).
    val fan = new graft.Engine.FanOut(docs.sparkSession.sparkContext)
    val (sp, dn) = fan.run {
      val fSp = fan.submit { () =>
        val sp0 = SparseIndex.append(
          SparseIndex.build(docs.filter(col("doc_id") < splitId)),
          docs.filter(col("doc_id") >= splitId))
        val Seq(p, d, st) = graft.Engine.inParallel(
          () => sp0.postings.localCheckpoint(),
          () => sp0.df.localCheckpoint(),
          () => sp0.stats.localCheckpoint())
        sp0.copy(postings = p, df = d, stats = st)
      }
      val fDn = fan.submit { () =>
        val dn0 = graft.ann.IncrementalIndex.append(
          graft.ann.IncrementalIndex.build(embs.filter(col("vec_id") < splitId)),
          embs.filter(col("vec_id") >= splitId))
        val Seq(c, ce) = graft.Engine.inParallel(
          () => dn0.codes.localCheckpoint(),
          () => dn0.cells.localCheckpoint())
        dn0.copy(codes = c, cells = ce)
      }
      (fan.await(fSp), fan.await(fDn))
    }
    rrfSearchIndexed(embs, sp, dn, qMaxId, mTerms, nCand, rrfK, k,
      nprobe, refine)
  }

  /** The sparse-tower CTE chain (`toks` … `bml`), shared by both
    * oracle twins. */
  private def sparseCtesSql(qMaxId: Long, mTerms: Int, nCand: Int,
                            k1: Double, b: Double): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token,
       |         len(regexp_extract_all(text, '\\S+')) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |         CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS DOUBLE)
       |           / count(*) AS avgdl
       |  FROM documents),
       |df_all AS (
       |  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
       |qtoks AS (
       |  SELECT query_id, token, df FROM (
       |    SELECT t.doc_id AS query_id, t.token, d.df,
       |           row_number() OVER (PARTITION BY t.doc_id
       |                              ORDER BY d.df, t.token) AS rn
       |    FROM (SELECT DISTINCT doc_id, token FROM toks
       |          WHERE doc_id < $qMaxId) t
       |    JOIN df_all d USING (token))
       |  WHERE rn <= $mTerms),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
       |  FROM toks WHERE token IN (SELECT token FROM qtoks)
       |  GROUP BY doc_id, token),
       |bm AS (
       |  SELECT q.query_id, tf.doc_id,
       |         round(sum(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
       |               * (tf.tf * ${k1 + 1})
       |               / (tf.tf + $k1 * (${1.0 - b} + $b * tf.dl / s.avgdl))), 4)
       |           AS score
       |  FROM tf JOIN qtoks q USING (token) CROSS JOIN stats s
       |  WHERE tf.doc_id <> q.query_id
       |  GROUP BY q.query_id, tf.doc_id),
       |bml AS (
       |  SELECT query_id, doc_id, rk AS bm25_rk FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY score DESC, doc_id) AS rk
       |    FROM bm) WHERE rk <= $nCand)""".stripMargin

  /** The RRF fusion tail (`fused` + final select), shared by both
    * oracle twins. */
  private def fusionSql(rrfK: Int, k: Int): String =
    s"""fused AS (
       |  SELECT query_id, doc_id,
       |         round(sum(1.0 / ($rrfK + rk)), 6) AS rrf_score,
       |         max(CASE WHEN is_bm THEN rk END) AS bm25_rk,
       |         max(CASE WHEN NOT is_bm THEN rk END) AS cos_rk
       |  FROM (SELECT query_id, doc_id, bm25_rk AS rk, true AS is_bm FROM bml
       |        UNION ALL
       |        SELECT query_id, doc_id, cos_rk AS rk, false AS is_bm FROM cosl)
       |  GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, rrf_score,
       |       CAST(bm25_rk AS INT) AS bm25_rk, CAST(cos_rk AS INT) AS cos_rk,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY rrf_score DESC, doc_id)
       |             AS rank
       |      FROM fused)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of [[rrfSearch]] (composes the bm25 and knnBrute CTE
    * shapes; score arithmetic mirrors the Spark expression tree
    * term-for-term — the established cross-engine FP contract). */
  def rrfSearchSql(qMaxId: Long = 10, mTerms: Int = 8, nCand: Int = 50,
                   rrfK: Int = 60, k: Int = 10, k1: Double = 1.2,
                   b: Double = 0.75): String =
    s"""WITH ${sparseCtesSql(qMaxId, mTerms, nCand, k1, b)},
       |cos AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |         round(list_dot_product(q.embedding, c.embedding) /
       |               (sqrt(list_dot_product(q.embedding, q.embedding)) *
       |                sqrt(list_dot_product(c.embedding, c.embedding))), 4)
       |           AS cos_sim
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $qMaxId),
       |cosl AS (
       |  SELECT query_id, doc_id, rk AS cos_rk FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos_sim DESC, doc_id) AS rk
       |    FROM cos) WHERE rk <= $nCand),
       |${fusionSql(rrfK, k)}""".stripMargin

  /** DuckDB twin of [[hybridIncr]]: the batch sparse tower (the monoid
    * merge makes incremental ≡ batch exactly — q_incr_bm25's pinned
    * claim) + the incremental-index dense oracle (codebook/centroids
    * trained on vec_id < splitId, everything encoded and searched) +
    * the shared fusion tail. */
  def hybridIncrSql(splitId: Long = 250, qMaxId: Long = 10,
                    mTerms: Int = 8, nCand: Int = 50, rrfK: Int = 60,
                    k: Int = 10, nprobe: Int = 4, refine: Int = 2,
                    k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${sparseCtesSql(qMaxId, mTerms, nCand, k1, b)},
       |densel AS (
       |${graft.ann.Pq.incrIndexKnnSql(splitId, qMaxId, nCand, 16, nprobe,
          graft.ann.Pq.defaultM, 16, 2, refine)}
       |),
       |cosl AS (
       |  SELECT query_id, vec_id AS doc_id, rank AS cos_rk FROM densel),
       |${fusionSql(rrfK, k)}""".stripMargin
}
