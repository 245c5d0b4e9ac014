package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exactness baseline: queries are a
  * small broadcast side, the corpus streams through map-side — one
  * shuffle only for the per-query top-k (partial top-k per partition via
  * window rank). The scale path is [[lshKnn]]: random-hyperplane bucket
  * signatures prune the candidate set so the join touches collisions,
  * not corpus × queries.
  *
  * Dot products use higher-order functions (zip_with + aggregate) on the
  * native array column — no UDF, no per-row JVM boxing beyond the array
  * itself; [[graft.functions]] carries a codegen Expression variant if
  * profiling ever shows this to be the bottleneck.
  */
object Similarity {

  /** Codegen'd float dot product ([[graft.functions.DotProductF]]):
    * double accumulation, left-to-right — bit-identical to the
    * higher-order-function formulation in [[dotHof]], ~an order of
    * magnitude faster in pairwise kernels. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot_f(a, b)

  /** Built-ins-only variant (zip_with + aggregate), kept as the
    * reference semantics and for engines without the custom expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector (vec_id < queryMaxId).
    * Norms are computed ONCE per row before the pair join (3× fewer
    * higher-order-function evaluations than cosine-per-pair). Ranking
    * uses the 4dp-rounded score with vec_id tiebreak so results are
    * deterministic and engine-independent. */
  def knnBrute(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    val corpus = embs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = broadcast(queries)
      .join(corpus, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")), 4)
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def knnBruteSql(queryMaxId: Long = 10, k: Int = 5): String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |         round(list_dot_product(q.embedding, c.embedding) /
       |               (sqrt(list_dot_product(q.embedding, q.embedding)) *
       |                sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS cos_sim
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $queryMaxId),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, vec_id, cos_sim,
       |       CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Hard-negative mining for embedding-model training: for each query
    * vector, the top-k nearest vectors with a DIFFERENT label — the
    * nearest wrong-cluster items are exactly the hardest negatives a
    * contrastive trainer wants (easy negatives teach nothing). Same
    * broadcast-queries/map-side-score/partial-top-k shape as
    * [[knnBrute]]; at scale the corpus side swaps in the IVF/PQ
    * candidate generators and the label filter rides the shortlist. */
  def hardNegatives(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    val corpus = embs.select(col("label"), col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(col("vec_id") < queryMaxId)
      .select(col("label").as("q_label"), col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neg_id"))
    broadcast(queries)
      .join(corpus, col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neg_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def hardNegativesSql(queryMaxId: Long = 10, k: Int = 5): String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
       |         round(list_dot_product(q.embedding, c.embedding) /
       |               (sqrt(list_dot_product(q.embedding, q.embedding)) *
       |                sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS cos_sim
       |  FROM embeddings q JOIN embeddings c ON c.label <> q.label
       |  WHERE q.vec_id < $queryMaxId),
       |ranked AS (
       |  SELECT query_id, neg_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, neg_id) AS rank
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, neg_id, cos_sim,
       |       CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Blocked embedding near-dup pairs: candidates restricted to the same
    * block key (here `label` — at scale, an LSH bucket or IVF cell), then
    * exact cosine filter. The block join shuffles both sides on the key
    * once; AQE handles skewed blocks. */
  def blockedDedup(embs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val withNorm = embs.select(col("label"), col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("label"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = withNorm.select(col("label"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  def blockedDedupSql(threshold: Double = 0.3): String =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |       round(list_dot_product(a.embedding, b.embedding) /
       |             (sqrt(list_dot_product(a.embedding, a.embedding)) *
       |              sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cos_sim
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.embedding, b.embedding) /
       |            (sqrt(list_dot_product(a.embedding, a.embedding)) *
       |             sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= $threshold""".stripMargin

  /** Deterministic pseudo-random hyperplanes (md5-seeded per plane/dim,
    * no RNG state — identical on every executor without broadcast). */
  def hyperplanes(dim: Int, nPlanes: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8")).take(7)
      val v = hex.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
      (v.toDouble / (1L << 56).toDouble) - 0.5
    }

  /** Per-band random-hyperplane signatures as a typed map: a
    * dim×planes expression tree (2048 nodes) chokes codegen; a tight
    * loop in a Dataset map is both faster and clearer. Band b uses
    * planes [b·P, (b+1)·P) of [[hyperplanes]](dim, B·P). */
  def withLshBandSignatures(embs: DataFrame, dim: Int, nBands: Int,
                            planesPerBand: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val planes = hyperplanes(dim, nBands * planesPerBand)
    embs.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
      .map { case (id, emb, label) =>
        val sigs = Array.tabulate(nBands) { b =>
          var sig = 0L
          var j = 0
          while (j < planesPerBand) {
            val plane = planes(b * planesPerBand + j)
            var s = 0.0; var i = 0
            while (i < math.min(dim, emb.length)) { s += emb(i) * plane(i); i += 1 }
            if (s > 0) sig |= (1L << j)
            j += 1
          }
          sig
        }
        (id, emb, label, sigs)
      }
      .toDF("vec_id", "embedding", "label", "sigs")
  }

  /** ANN via banded LSH (multi-table): a vector pair becomes a
    * candidate when ANY band's planesPerBand-bit signature collides —
    * the standard OR-of-ANDs construction (same banding algebra as
    * MinHash-LSH over in [[graft.dedup.Dedup]]). Only candidates get
    * the exact cosine — the 100 TB path where corpus × queries is
    * infeasible. A single AND-only table at these dims has recall ≈ 0
    * on real embeddings (measured: 12 planes → 0.0 at sf0.01); banding
    * is what buys recall back while keeping the candidate set sparse.
    * Recall < 1.0 by construction, measured by [[annRecall]].
    *
    * Scale shape: signatures are map-side; the per-band collision join
    * broadcasts the (tiny) query band table; candidate dedup and the
    * scoring joins touch candidate rows only, never corpus × queries. */
  def lshKnn(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5,
             dim: Int = 64, nBands: Int = 12, planesPerBand: Int = 6): DataFrame =
    lshSearch(embs, withLshBandSignatures(embs, dim, nBands, planesPerBand),
      queryMaxId, k, probeBits = 0, planesPerBand)

  /** The shared LSH search tail over a prebuilt signature table —
    * index once, search with either probing policy ([[annRecall]]
    * builds ONE signature table for both recall rows). `probeBits`=0
    * probes only each band's own bucket; >0 additionally probes every
    * bucket within that Hamming distance (1 = the standard multi-probe,
    * planesPerBand extra keys per query band). */
  def lshSearch(embs: DataFrame, sig: DataFrame, queryMaxId: Long, k: Int,
                probeBits: Int, planesPerBand: Int): DataFrame = {
    // Only Hamming radius 1 is implemented (single-bit flips); a larger
    // probeBits would silently degrade to radius 1, so reject it.
    require(probeBits <= 1,
      s"probeBits=$probeBits: only Hamming radius 0/1 probing is implemented")
    val bands = sig.select(col("vec_id"),
      posexplode(col("sigs")).as(Seq("band", "bsig")))
    val probes =
      if (probeBits == 0) col("bsig")
      else explode(array(col("bsig") +: (0 until planesPerBand)
        .map(j => col("bsig").bitwiseXOR(lit(1L << j))): _*))
    val qbands = bands.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("band"), probes.as("bsig"))
    // collide per band, then dedup (query, candidate): a pair colliding
    // in several bands is scored once
    val candIds = broadcast(qbands)
      .join(bands, Seq("band", "bsig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val corpus = embs.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val queries = corpus.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = corpus.join(broadcast(candIds), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")), 4)
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Multi-probe LSH (Lv et al., VLDB'07): in addition to each query
    * band's own bucket, probe every bucket at Hamming distance 1 (flip
    * each of the planesPerBand sign bits). A near neighbor that landed
    * one hyperplane to the wrong side — the dominant LSH miss mode —
    * is recovered for planesPerBand extra LOOKUP KEYS per query band:
    * the probe expansion explodes only the (broadcast) query side, the
    * corpus index and the equi-join shape are untouched, so recall
    * rises at zero index cost (measured 0.38 → 0.96 on the same index,
    * q_ann_recall's lsh_mp row) where more tables (nBands↑) would grow
    * the INDEX instead. */
  def lshKnnMultiProbe(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5,
                       dim: Int = 64, nBands: Int = 12,
                       planesPerBand: Int = 6): DataFrame =
    lshSearch(embs, withLshBandSignatures(embs, dim, nBands, planesPerBand),
      queryMaxId, k, probeBits = 1, planesPerBand)

  /** DuckDB oracle for [[lshKnnMultiProbe]]: collision = per-band
    * signature Hamming distance ≤ 1 (the theta form — equivalent to
    * the Spark side's probe-key expansion, which keeps the equi-join). */
  def lshKnnMultiProbeSql(queryMaxId: Long = 10, k: Int = 5,
                          dim: Int = 64, nBands: Int = 12,
                          planesPerBand: Int = 6): String = {
    val base = lshKnnSql(queryMaxId, k, dim, nBands, planesPerBand)
    val orCollide = (0 until nBands).map(b => s"q.b$b = c.b$b").mkString(" OR ")
    val orProbe = (0 until nBands)
      .map(b => s"bit_count(xor(q.b$b, c.b$b)) <= 1").mkString(" OR ")
    // A silent no-op replace would degrade this oracle to single-probe
    // and only surface later as a confusing verify mismatch.
    require(base.contains(orCollide),
      "collision predicate not found in lshKnnSql — builders drifted apart")
    base.replace(orCollide, orProbe)
  }

  /** Recall gate for the approximate indexes: recall@k of [[lshKnn]],
    * [[IvfKnn.ivfKnn]] and [[Quantize.quantKnn]] against the exact
    * [[knnBrute]] baseline — the measured quality bar that turns
    * "approximate" from a shrug into a number. One row per method:
    * hit count, possible count (brute result size) and 4dp recall.
    * All four pipelines are deterministic (md5-seeded planes/centroids,
    * integer quantization), so the recall itself is oracle-checkable —
    * intersection counts are integers and n_hits/n_possible has ≤2
    * decimals at these parameters, far from any 4dp half-boundary.
    *
    * Scale shape: the brute baseline only ever runs over the (tiny,
    * broadcast) query set's pairs, and the per-method intersection joins
    * against the ≤ queries×k brute rows — also broadcast. The gate adds
    * nothing a 100 TB corpus would notice beyond the three index scans
    * it audits. */
  def annRecall(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5): DataFrame = {
    // pinned: the brute truth table is broadcast into EVERY method's
    // intersection join plus the n_possible aggregate — unpinned it
    // re-ran the full query×corpus scoring 9 times per recall run
    // (the same consumed->1x rule opqRecall/pqRecallCurve follow)
    // the two PQ searches share ONE trained index (codebook + codes),
    // and the two LSH rows share ONE signature table — identical
    // values, half the index-build work per recall run. The brute
    // truth, the PQ train+encode chain, and the LSH signature build
    // are mutually independent — materialized as concurrent jobs
    // (guide §2.6, r17)
    val fan = new graft.Engine.FanOut(embs.sparkSession.sparkContext)
    val (brute, pqCb, pqCodes, lshSig) = fan.run {
      val fBrute = fan.submit(() => knnBrute(embs, queryMaxId, k)
        .select(col("query_id"), col("vec_id")).localCheckpoint())
      val fPq = fan.submit { () =>
        val cb = Pq.codebooks(embs).localCheckpoint()
        (cb, Pq.encodeWith(embs, cb, Pq.defaultM).localCheckpoint())
      }
      val fLsh = fan.submit(() =>
        withLshBandSignatures(embs, 64, 12, 6).localCheckpoint())
      val (cb, codes) = fan.await(fPq)
      (fan.await(fBrute), cb, codes, fan.await(fLsh))
    }
    recallTally(brute, "method", Seq(
      "ivf" -> IvfKnn.ivfKnn(embs, queryMaxId, k),
      "ivfpq" -> Pq.ivfPqKnnWith(embs, pqCb, pqCodes, queryMaxId, k),
      "ivfpq_adc" -> Pq.ivfPqKnnAdcWith(embs, pqCb, pqCodes, queryMaxId, k),
      "lsh" -> lshSearch(embs, lshSig, queryMaxId, k, 0, 6),
      "lsh_mp" -> lshSearch(embs, lshSig, queryMaxId, k, 1, 6),
      "pq" -> Pq.pqKnnWith(embs, pqCb, pqCodes, queryMaxId, k),
      "pq_adc" -> Pq.pqKnnAdcWith(embs, pqCb, pqCodes, queryMaxId, k),
      "quant" -> Quantize.quantKnn(embs, queryMaxId, k)))
  }

  /** The recall@k tally every recall gate shares: per labelled result,
    * its (query_id, vec_id) rows hit against the brute top-k (`n_hits`,
    * brute set broadcast), the brute size (`n_possible`) and the 4 dp
    * `recall`, one row per label under `labelCol`. `exhaustive` adds
    * the brute set's own row — the curve's 1.0 anchor. Pinning `brute`
    * is the caller's: it feeds every hit join plus `n_possible`. */
  private[graft] def recallTally(brute: DataFrame, labelCol: String,
                                 results: Seq[(Any, DataFrame)],
                                 exhaustive: Boolean = false): DataFrame = {
    val hits = results.map { case (label, df) =>
      df.select(col("query_id"), col("vec_id"))
        .join(broadcast(brute), Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(label).as(labelCol), col("n_hits"))
    }
    val anchor = if (!exhaustive) Nil
      else Seq(brute.agg(count(lit(1)).as("n_hits"))
        .select(lit("exhaustive").as(labelCol), col("n_hits")))
    (hits ++ anchor).reduce(_ unionAll _)
      .crossJoin(broadcast(brute.agg(count(lit(1)).as("n_possible"))))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_possible"), 4))
  }

  /** DuckDB oracle for [[annRecall]]: the three approximate oracles and
    * the brute oracle as CTEs, intersected and counted. */
  def annRecallSql(queryMaxId: Long = 10, k: Int = 5): String =
    s"""WITH brute AS MATERIALIZED (
       |${knnBruteSql(queryMaxId, k)}
       |),
       |m_ivf AS (
       |${IvfKnn.ivfKnnSql(queryMaxId, k)}
       |),
       |m_lsh AS (
       |${lshKnnSql(queryMaxId, k)}
       |),
       |m_lsh_mp AS (
       |${lshKnnMultiProbeSql(queryMaxId, k)}
       |),
       |m_quant AS (
       |${Quantize.quantKnnSql(queryMaxId, k)}
       |),
       |m_pq AS (
       |${Pq.pqKnnSql(queryMaxId, k)}
       |),
       |m_pq_adc AS (
       |${Pq.pqKnnAdcSql(queryMaxId, k)}
       |),
       |m_ivfpq AS (
       |${Pq.ivfPqKnnSql(queryMaxId, k)}
       |),
       |m_ivfpq_adc AS (
       |${Pq.ivfPqKnnAdcSql(queryMaxId, k)}
       |),
       |hits AS (
       |  SELECT 'ivf' AS method, count(*) AS n_hits FROM m_ivf a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'ivfpq', count(*) FROM m_ivfpq a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'ivfpq_adc', count(*) FROM m_ivfpq_adc a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'lsh', count(*) FROM m_lsh a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'lsh_mp', count(*) FROM m_lsh_mp a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'pq', count(*) FROM m_pq a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'pq_adc', count(*) FROM m_pq_adc a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT 'quant', count(*) FROM m_quant a
       |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id),
       |poss AS (SELECT count(*) AS n_possible FROM brute)
       |SELECT method, n_hits, n_possible,
       |       round(CAST(n_hits AS DOUBLE) / n_possible, 4) AS recall
       |FROM hits CROSS JOIN poss""".stripMargin

  /** DuckDB oracle for [[lshKnn]]. The hyperplanes are data-INdependent
    * (md5 of "plane:dim"), so their exact double values are embedded as
    * literals; `Double.toString` emits the shortest round-tripping
    * decimal, and both engines widen the float element exactly and add
    * left-to-right — each band signature is bit-identical, not
    * approximately equal, which is what makes this approximate query
    * oracle-upgradable. */
  def lshKnnSql(queryMaxId: Long = 10, k: Int = 5,
                dim: Int = 64, nBands: Int = 12, planesPerBand: Int = 6): String = {
    val planes = hyperplanes(dim, nBands * planesPerBand)
    def bandExpr(b: Int): String = (0 until planesPerBand).map { j =>
      val s = (0 until dim)
        .map(d => s"embedding[${d + 1}] * (${planes(b * planesPerBand + j)(d)})")
        .mkString(" + ")
      s"CASE WHEN ($s) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n      + ")
    val bandCols = (0 until nBands)
      .map(b => s"      ${bandExpr(b)} AS b$b").mkString(",\n")
    val orCollide = (0 until nBands).map(b => s"q.b$b = c.b$b").mkString(" OR ")
    s"""WITH sig AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |$bandCols
       |  FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
       |  FROM sig q JOIN sig c
       |    ON ($orCollide) AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $queryMaxId),
       |scored AS (
       |  SELECT n.query_id, n.vec_id,
       |         round(list_dot_product(q.embedding, c.embedding) /
       |               (sqrt(list_dot_product(q.embedding, q.embedding)) *
       |                sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS cos_sim
       |  FROM cand n
       |  JOIN embeddings q ON q.vec_id = n.query_id
       |  JOIN embeddings c ON c.vec_id = n.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT CAST(query_id AS BIGINT) AS query_id, vec_id, cos_sim,
       |       CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin
  }
}
