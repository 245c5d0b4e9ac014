package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OPQ-style dimension permutation for the PQ family, plus the
  * refine-re-rank step — the two candidate "next steps up" past the
  * codebook-budget recall ceiling [[Pq.pqRecallCurve]] measured
  * (k=256 ≈ 0.66-0.68 at sf0.01), each implemented and MEASURED on
  * the same gate rather than assumed.
  *
  * 1. [[allocation]]/[[permute]] — Ge et al. 2013's (CVPR, "Optimized
  *    Product Quantization") non-parametric initialization, reduced to
  *    its oracle-replayable core: rank dimensions by corpus energy
  *    Σ q_d² (integer-exact on the [[Pq.globalScale]] int8 grid, so
  *    both engines derive the identical ranking with no float-order
  *    trap), then deal them snake-wise across the m subspaces so every
  *    subspace carries a balanced energy budget. Full OPQ alternates a
  *    dense rotation R with codebook training; the rotation's float
  *    matmul has no bit-exact cross-engine story, but the permutation
  *    (a rotation restricted to signed permutation matrices) is exact —
  *    the same reduction FAISS ships as `OPQMatrix` pre-transform vs
  *    the cheaper `RandomRotationMatrix`.
  *
  * 2. Refine re-rank — FAISS `IndexRefineFlat`: keep the ADC top
  *    `refine·topK` and re-rank those with the exact float cosine.
  *
  * [[opqRecall]] measures both against plain PQ at the SAME sampled
  *  codebook budget (k=256, 8 Lloyd rounds), with the exhaustive
  *  anchor. Measured at sf0.01: the permutation does NOT move recall
  *  (the synthetic corpus is near-iid per dimension — per-dim variance
  *  ratio 1.3, mean |off-diag corr| 0.035, contiguous blocks already
  *  balanced — so the precondition OPQ exploits is absent, exactly the
  *  honest negative [[Pq.subvectorsFixed]] documents for per-vector
  *  residual scales), while refine×4 lifts recall well past the
  *  ceiling (≈0.95): at a fixed codebook budget the cheap win is
  *  re-ranking a 4× shortlist, not re-shuffling dimensions.
  *
  * Scale shape: the allocation is one map-side explode + a d-row
  * aggregate (d = embedding dims, 64 here) and the permutation itself
  * is a d-int driver literal applied as a narrow projection — no
  * shuffle beyond the energy aggregate's d-row exchange. The recall
  * gate adds one extra codebook training + encode over the permuted
  * frame; the refine leg touches raw vectors for `refine·topK` rows
  * per query only (the [[Pq.exactRerank]] contract).
  *
  * Reference: services/processing (the reference has no ANN surface;
  * this extends the LLM-pipeline mandate's similarity family).
  */
object Opq {

  /** Energy-balanced subspace allocation: one row per dimension —
    * (dim, energy, sub, newpos). `energy` = Σ_corpus q_d² on the
    * corpus-global int8 grid (exact BIGINT in any summation order);
    * rank r by (energy DESC, dim ASC); block b = r div m deals rank r
    * to subspace (r mod m), reversed on odd blocks (snake), so each
    * subspace receives exactly d/m dims, one per block, and the
    * largest energies spread evenly. `newpos` = sub·(d/m) + b is the
    * dimension's slot in the permuted vector, placing each subspace's
    * dims contiguously for [[Pq.subvectors]]' slice split. */
  def allocation(embs: DataFrame, m: Int = Pq.defaultM): DataFrame = {
    // newpos = sub·(d/m) + block is only a bijection when m divides d;
    // otherwise distinct dims collide on a slot and the permutation
    // silently duplicates some source dims — fail loudly instead
    val d0 = embs.select(size(col("embedding"))).head(1)
    require(d0.nonEmpty, "Opq.allocation: empty embeddings frame")
    require(d0.head.getInt(0) % m == 0,
      s"Opq.allocation: embedding dim ${d0.head.getInt(0)} not divisible by m=$m")
    val g = Pq.globalScale(embs)
    val en = embs
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast("double") / lit(g) + lit(0.5)).cast("long")))
        .as(Seq("dim", "q")))
      .groupBy(col("dim"))
      .agg(sum(col("q") * col("q")).as("energy"))
    // d rows total (64): the global windows below are driver-trivial
    val r = row_number().over(Window.orderBy(col("energy").desc, col("dim"))) - 1
    val d = count(lit(1)).over(Window.partitionBy())
    val sub = when(col("r") % (2 * m) < m, col("r") % m)
      .otherwise(lit(m - 1) - col("r") % m)
    en.withColumn("r", r).withColumn("d", d)
      .select(col("dim").cast("int").as("dim"), col("energy"),
        sub.cast("int").as("sub"),
        (sub * (col("d") / m).cast("int") + (col("r") / m).cast("int"))
          .cast("int").as("newpos"))
  }

  /** DuckDB twin of [[allocation]] — same int8 grid, same snake. */
  def allocationSql(m: Int = Pq.defaultM): String =
    s"""WITH gs AS (
       |  SELECT CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS g FROM (
       |    SELECT max(list_aggregate(list_transform(embedding,
       |             x -> abs(CAST(x AS DOUBLE))), 'max')) AS mx
       |    FROM embeddings)),
       |en AS (
       |  SELECT dim, CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS energy
       |  FROM (
       |    SELECT unnest(list_transform(embedding,
       |             x -> CAST(floor(CAST(x AS DOUBLE) / gs.g + 0.5) AS BIGINT))) AS q,
       |           unnest(range(0, len(embedding))) AS dim
       |    FROM embeddings CROSS JOIN gs)
       |  GROUP BY dim),
       |rk AS (
       |  SELECT dim, energy,
       |         row_number() OVER (ORDER BY energy DESC, dim) - 1 AS r,
       |         count(*) OVER () AS d
       |  FROM en)
       |SELECT CAST(dim AS INT) AS dim, energy,
       |       CAST(CASE WHEN (r % ${2 * m}) < $m THEN r % $m
       |                 ELSE ${m - 1} - (r % $m) END AS INT) AS sub,
       |       CAST((CASE WHEN (r % ${2 * m}) < $m THEN r % $m
       |                  ELSE ${m - 1} - (r % $m) END) * (d // $m)
       |            + (r // $m) AS INT) AS newpos
       |FROM rk""".stripMargin

  /** The permuted frame: embedding'[newpos] = embedding[dim], applied
    * as a d-literal narrow projection (the allocation collect is d
    * rows of ints — driver metadata, the codebook exception). Schema
    * identical to the input, so every PQ entry point accepts it. */
  def permute(embs: DataFrame, m: Int = Pq.defaultM): DataFrame = {
    val need = Seq("vec_id", "label", "embedding")
    require(need.forall(embs.columns.contains),
      s"Opq.permute: input must carry ${need.mkString(", ")} " +
        s"(got ${embs.columns.mkString(", ")})")
    val rows = allocation(embs, m).select(col("dim"), col("newpos")).collect()
    require(rows.nonEmpty, "Opq.permute: empty embeddings frame")
    require(rows.length % m == 0,
      s"Opq.permute: d=${rows.length} not divisible by m=$m")
    val src = new Array[Int](rows.length)
    rows.foreach(r => src(r.getAs[Int]("newpos")) = r.getAs[Int]("dim"))
    embs.select(col("vec_id"), col("label"),
      array(src.map(i => col("embedding").getItem(i)).toIndexedSeq: _*)
        .as("embedding"))
  }

  /** One sampled-codebook ADC scoring pass over `base` — the
    * [[Pq.pqRecallCurve]] cell body (local hash-seeded train,
    * [[graft.functions.PqEncode]] codegen encode, broadcast distance
    * tables), returned unranked so the plain and refine rows share
    * one training + encode. */
  private def adcScored(base: DataFrame, m: Int, k: Int, iters: Int,
                        queryMaxId: Long): DataFrame = {
    val centsL = Pq.codebooksSampledLocal(base, m, k, iters)
    val spark = base.sparkSession
    import spark.implicits._
    val cb = centsL.toDF("sub", "cid", "cvec")
    val centsArr = Array.tabulate(m)(s => centsL.filter(_._1 == s).map(_._3).toArray)
    val cidArr = Array.tabulate(m)(s => centsL.filter(_._1 == s).map(_._2).toArray)
    val codes = Pq.subvectors(base, m).select(col("vec_id"), col("sub"),
      graft.functions.VectorFunctions
        .pq_encode(col("sub"), col("svec"), centsArr, cidArr).as("code"))
    val dt = Pq.subvectorsRaw(base, m).filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("sub"), col("svec"))
      .join(broadcast(cb), "sub")
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        Similarity.dotHof(col("svec"), col("cvec")).as("pd"),
        Similarity.dotHof(col("cvec"), col("cvec")).as("cn"))
    codes.join(broadcast(dt), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pd")) / sqrt(sum(col("cn"))), 4).as("ascore"))
  }

  private def topkOf(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"))
  }

  /** The measured gate: recall@topK of plain PQ, OPQ-permuted PQ and
    * plain-PQ-with-refine-re-rank at the SAME codebook budget
    * (k, iters), against the exact brute baseline, exhaustive anchor
    * included. Cosine is permutation-invariant, so the one brute set
    * grades all three. Output: (cfg, n_hits, n_possible, recall). */
  def opqRecall(embs: DataFrame, queryMaxId: Long = 50, topK: Int = 5,
                m: Int = Pq.defaultM, k: Int = 256, iters: Int = 8,
                refine: Int = 4): DataFrame = {
    // the three legs are independent until the hit counting: brute
    // truth, the plain-PQ leg (train pool collect + driver Lloyd +
    // checkpoint — consumed twice: top-k row + refine shortlist), and
    // the OPQ leg's eager driver work (allocation collect + train pool
    // + Lloyd) — run them as concurrent jobs (guide §2.6, r17)
    val Seq(brute, plain, opq) = graft.Engine.inParallel(
      () => Similarity.knnBrute(embs, queryMaxId, topK)
        .select(col("query_id"), col("vec_id")).localCheckpoint(),
      () => adcScored(embs, m, k, iters, queryMaxId).localCheckpoint(),
      () => adcScored(permute(embs, m), m, k, iters, queryMaxId))
    val refined = Pq.exactRerank(embs, topkOf(plain, refine * topK),
        queryMaxId, topK)
    Similarity.recallTally(brute, "cfg", Seq(
      s"opq_k$k" -> topkOf(opq, topK),
      s"pq_k$k" -> topkOf(plain, topK),
      s"pq_k${k}_r$refine" -> refined), exhaustive = true)
  }

  /** DuckDB twin of [[opqRecall]]: the permuted frame as a `pemb` CTE
    * (allocation nested, permutation via one list lambda), one
    * self-contained [[Pq.pqSampledCfgSql]] cell per row — the OPQ cell
    * just reads `pemb` instead of `embeddings`, the refine cell adds
    * the exact-re-rank tail. */
  def opqRecallSql(queryMaxId: Long = 50, topK: Int = 5,
                   m: Int = Pq.defaultM, k: Int = 256, iters: Int = 8,
                   refine: Int = 4): String = {
    val cells = Seq(
      s"opq_k$k" -> Pq.pqSampledCfgSql(queryMaxId, topK, m, k, iters,
        source = "pemb"),
      s"pq_k$k" -> Pq.pqSampledCfgSql(queryMaxId, topK, m, k, iters),
      s"pq_k${k}_r$refine" -> Pq.pqSampledCfgSql(queryMaxId, topK, m, k,
        iters, refine = refine))
    val cfgCtes = cells.map { case (label, body) =>
      s"cfg_$label AS (\n$body\n)"
    }.mkString(",\n")
    val hitRows = (cells.map { case (label, _) =>
      s"""SELECT '$label' AS cfg, count(*) AS n_hits FROM cfg_$label a
         |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id"""
        .stripMargin
    } :+ "SELECT 'exhaustive' AS cfg, count(*) AS n_hits FROM brute")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH brute AS MATERIALIZED (
       |${Similarity.knnBruteSql(queryMaxId, topK)}
       |),
       |alloc AS MATERIALIZED (
       |${allocationSql(m)}
       |),
       |pemb AS MATERIALIZED (
       |  SELECT e.vec_id, e.label,
       |         list_transform(s.src, i -> e.embedding[i + 1]) AS embedding
       |  FROM embeddings e CROSS JOIN
       |       (SELECT list(dim ORDER BY newpos) AS src FROM alloc) s),
       |$cfgCtes,
       |hits AS (
       |  $hitRows),
       |poss AS (SELECT count(*) AS n_possible FROM brute)
       |SELECT cfg, n_hits, n_possible,
       |       round(CAST(n_hits AS DOUBLE) / n_possible, 4) AS recall
       |FROM hits CROSS JOIN poss""".stripMargin
  }
}
