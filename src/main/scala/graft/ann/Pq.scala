package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the standard ANN
  * compression layer: split each vector into `m` subvectors, learn a
  * small per-subspace codebook (integer Lloyd, the [[KMeans]] loop with
  * a `sub` key), and store each vector as `m` small centroid ids. A
  * 64-dim float vector becomes m=8 codes — the representation that
  * makes billion-vector indexes fit in memory; IVF+PQ is the classic
  * pairing ([[IvfKnn]] provides the IVF half).
  *
  * Two search distances, same plan shape:
  *   - SDC (symmetric): the query goes through the same int8 scalar
  *     quantizer as the corpus, so every lookup-table entry is an
  *     integer squared distance — bit-identical across engines.
  *   - ADC (asymmetric, [[pqKnnAdc]]): the query keeps its RAW float
  *     subvectors and the lookup tables hold float dot products
  *     against the codebook, targeting the COSINE ground truth
  *     directly: cos(q, v̂) ∝ Σ_sub dot(q_sub, c_code) /
  *     sqrt(Σ_sub |c_code|²) — the per-vector quantization scale of
  *     the reconstruction v̂ = scale_v·(c_code…) cancels between
  *     numerator and norm, so no per-vector metadata is needed at
  *     search time (FAISS's inner-product ADC shape). This is the
  *     recall upgrade (Jégou et al. §IV.A): at 50 queries recall@5 is
  *     0.236 vs the symmetric L2 lookup's 0.212 on identical stored
  *     codes — free at index time. (At the 10-query oracle gate the two
  *     are within one-pair noise of each other; the comparative claim
  *     is asserted at 50 queries in AnnRecallSpec.) Scores are
  *     4dp-rounded BEFORE ranking so the top-k set stays
  *     engine-independent.
  *
  * Scale shape: codebooks are m·k rows (broadcast everywhere); the
  * corpus is touched by pure map-side subvector explodes plus one
  * groupBy(vec) to assemble codes; the query pass joins the corpus
  * CODE table (m rows/vec) with a broadcast |Q|·m·k distance table and
  * shuffles only (query, vec) partial sums. Nothing ever pairs
  * corpus×corpus.
  */
object Pq {

  /** The ONE source of truth for the subspace count — the `*With`
    * search variants join codes on (sub, code), so an m that disagrees
    * with the m the index was built at would silently sum a subset of
    * the subspace distances; every caller (incl.
    * [[Similarity.annRecall]]) takes m from here. */
  val defaultM = 8

  // shared with the flat clustering (one definition to maintain)
  private def d2(a: String, c: String): Column = KMeans.dist2(a, c)

  /** (vec_id, sub, svec): the quantized vector split into m equal
    * subvectors — one map-side explode, no shuffle. */
  private[ann] def subvectors(embs: DataFrame, m: Int): DataFrame =
    Quantize.quantize(embs).select(col("vec_id"), col("qvec"))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, $m - 1),
           |  j -> slice(qvec, j * (size(qvec) div $m) + 1, size(qvec) div $m))"""
          .stripMargin)).as(Seq("sub", "svec")))

  /** Fixed-scale sibling of [[subvectors]]: every vector shares ONE
    * caller-supplied scale (q_i = floor(v_i/g + 0.5)) instead of
    * [[graft.ann.Quantize]]'s per-vector max|v|/127. Per-vector scales
    * are right for unit-norm embeddings (all scales ≈ equal) but wrong
    * for IVF residuals, whose norms vary wildly per cell — with
    * per-vector scaling the integer domain stops being comparable
    * across vectors and SDC distances lose meaning (measured: residual
    * recall 0.368 < plain 0.456 per-vector; ≥ plain once global). */
  private def subvectorsFixed(embs: DataFrame, m: Int, g: Double): DataFrame =
    embs.select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") / lit(g) + lit(0.5)).cast("int")).as("qvec"))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, $m - 1),
           |  j -> slice(qvec, j * (size(qvec) div $m) + 1, size(qvec) div $m))"""
          .stripMargin)).as(Seq("sub", "svec")))

  /** The corpus-global quantization scale max|v_i|/127 (1.0 for an
    * all-zero frame) — one aggregate, the same fold the DuckDB twin
    * spells as max(list_aggregate(..., 'max')). */
  private[ann] def globalScale(embs: DataFrame): Double = {
    val mx = embs.select(max(expr(
      """aggregate(embedding, CAST(0.0 AS DOUBLE),
        |  (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))""".stripMargin)))
      .head.getDouble(0)
    if (mx == 0.0) 1.0 else mx / 127.0
  }

  /** ADC query side: the RAW float vector (no quantization at all),
    * split into m subvectors as doubles. Only ever evaluated for the
    * |Q| query rows. */
  private[ann] def subvectorsRaw(embs: DataFrame, m: Int): DataFrame =
    embs.select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("rvec"))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, $m - 1),
           |  j -> slice(rvec, j * (size(rvec) div $m) + 1, size(rvec) div $m))"""
          .stripMargin)).as(Seq("sub", "svec")))

  /** Per-subspace codebooks after `iters` Lloyd rounds: (sub, cid,
    * cvec), seeded per subspace by the k lowest vec_ids' subvectors
    * (same deterministic convention as [[KMeans.assign]]). For the
    * codebook-quality sweep (larger k, more iters, hash-seeded init) see
    * [[codebooksSampled]] — the q_pq_curve training path. */
  def codebooks(embs: DataFrame, m: Int = defaultM, k: Int = 16,
                iters: Int = 2): DataFrame =
    codebooksSubs(subvectors(embs, m), k, iters)

  /** [[codebooks]] over an already-split subvector frame — the
    * residual path quantizes with a corpus-global scale before the
    * split, so training must not re-quantize per vector. */
  private[ann] def codebooksSubs(subs: DataFrame, k: Int,
                                 iters: Int): DataFrame = {
    val wSeed = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var cents = subs.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= k)
      .select(col("sub"), col("vec_id").as("cid"), col("svec").as("cvec"))
    for (_ <- 1 until iters) {
      // argmin-by-(dd, cid) as a partial-aggregable min(struct) rather
      // than a row_number window: the map side combines the N·m·k
      // scored rows down to N·m BEFORE the exchange (k× less shuffle
      // volume — the difference between k=16 and k=256 being usable).
      // (dd, cid) is a unique prefix, so svec rides along uncompared.
      val assigned = subs.join(broadcast(cents), "sub")
        .withColumn("dd", d2("svec", "cvec"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dd"), col("cid"), col("svec"))).as("best"))
        .select(col("vec_id"), col("sub"),
          col("best.cid").as("cid"), col("best.svec").as("svec"))
      cents = assigned
        .select(col("sub"), col("cid"), posexplode(col("svec")).as(Seq("pos", "code")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("code")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"),
            floor(col("s").cast("double") / col("n") + 0.5).cast("int").as("code")))),
          e => e.getField("code")).as("cvec"))
    }
    cents
  }

  /** Pool width for sample-trained codebooks: max(16k, 256) vectors —
    * ~16 points per centroid to mean over, bounded regardless of
    * corpus size (FAISS-style sample training). */
  def poolSize(k: Int): Int = math.max(16 * k, 256)

  /** The bounded hash-ranked training pool: the `maxP` VECTORS with
    * the smallest [[IvfKnn.centroidHash]] (the scalable global
    * orderBy+limit shape of [[IvfKnn.centroids]] — never a per-sub
    * window over the corpus), split into subvectors. Deterministic and
    * hash-spread, so the pool is bit-identical in the DuckDB oracle.
    * One collect of ≤ m·maxP small int arrays (driver metadata, the
    * IvfKnn.centroids exception). Rows come back
    * (sub, vec_id, svec, hashRank) with hashRank shared across subs. */
  private[ann] def trainPool(embs: DataFrame, m: Int,
                             maxP: Int): Array[(Int, Long, Array[Int], Int)] = {
    val spark = embs.sparkSession
    import spark.implicits._
    val poolVecs = embs
      .orderBy(IvfKnn.centroidHash(col("vec_id")), col("vec_id"))
      .limit(maxP)
    val wH = Window.partitionBy(col("sub")) // ≤ maxP rows per sub here
      .orderBy(IvfKnn.centroidHash(col("vec_id")), col("vec_id"))
    subvectors(poolVecs, m)
      .withColumn("hr", row_number().over(wH))
      .select(col("sub"), col("vec_id"), col("svec"), col("hr"))
      .as[(Int, Long, Array[Int], Int)].collect()
  }

  private def d2i(a: Array[Int], b: Array[Int]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toLong; s += d * d; i += 1 }
    s
  }

  /** Hash-sampled init (r16): the k lowest hash-ranked pool points.
    * The pool is already md5-hash-ordered ([[trainPool]]'s `hr`), so
    * its prefix IS a deterministic uniform sample — the derandomized
    * form of FAISS's random-permutation k-means init, and the same
    * pattern the IVF half uses for its probe centroids
    * ([[IvfKnn.centroids]]). Replaces the r-earlier farthest-first
    * traversal (Gonzalez 1985): that walk was O(pool·k) SEQUENTIAL
    * steps, and its DuckDB twin — a recursive CTE re-windowing the
    * working set per step — was the oracle suite's entire cost tail
    * (q_opq_recall ~70 % seed-walk by measured CTE A/B, SCALING.md
    * r16; up to 74 s under host stall, the only oracles left within
    * an order of magnitude of the r14 timeout regime). The curve's
    * purpose is recall-vs-budget measurement, and the k-axis ordering
    * it reports is preserved under hash seeding (re-measured values
    * in [[pqRecallCurve]]'s scaladoc). */
  private[ann] def seedsFromPool(pts: Array[(Long, Array[Int])],
                                 k: Int): Seq[(Long, Array[Int])] =
    pts.take(k).toSeq

  /** Local integer Lloyd over one subspace's pool, bit-identical to
    * the distributed loop in [[codebooks]] (argmin by (d², cid);
    * new code = floor(mean + 0.5); centroids that attract no points
    * vanish). */
  private[ann] def lloydLocal(pts: Array[(Long, Array[Int])],
                              seeds: Seq[(Long, Array[Int])],
                              iters: Int): Seq[(Long, Array[Int])] = {
    var cents = seeds
    for (_ <- 1 until iters) {
      val byCid = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Array[Long], Long)]
      for ((_, svec) <- pts) {
        var bc = -1L; var bd = Long.MaxValue
        for ((cid, cvec) <- cents) {
          val d = d2i(svec, cvec)
          if (d < bd || (d == bd && cid < bc)) { bd = d; bc = cid }
        }
        val (s, _) = byCid.getOrElseUpdate(bc, (new Array[Long](pts(0)._2.length), 0L))
        var i = 0
        while (i < svec.length) { s(i) += svec(i); i += 1 }
        byCid(bc) = (s, byCid(bc)._2 + 1)
      }
      cents = byCid.toSeq.sortBy(_._1).map { case (cid, (s, n)) =>
        (cid, s.map(v => math.floor(v.toDouble / n + 0.5).toInt))
      }
    }
    cents
  }

  /** Sample-trained codebooks — the q_pq_curve training path and the
    * production shape (FAISS trains codebooks on a bounded sample, not
    * the corpus): hash-prefix seeds + `iters` Lloyd rounds over the
    * hash-ranked pool of [[trainPool]], all on the driver (the pool is
    * kB-sized; the sequential seeding is O(pool·k) integer ops), then
    * the corpus-side encode/search run distributed exactly as with
    * [[codebooks]]. Deterministic end-to-end, so the whole chain —
    * pool, traversal, Lloyd, search — is DuckDB-replayable. */
  def codebooksSampled(embs: DataFrame, m: Int = defaultM, k: Int = 16,
                       iters: Int = 2,
                       sharedPool: Option[Array[(Int, Long, Array[Int], Int)]] = None): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    codebooksSampledLocal(embs, m, k, iters, sharedPool)
      .toDF("sub", "cid", "cvec")
  }

  /** The driver-resident form of [[codebooksSampled]] — the training is
    * local anyway (kB pool); callers that encode via
    * [[graft.functions.PqEncode]] skip the DataFrame round-trip. */
  private[ann] def codebooksSampledLocal(embs: DataFrame, m: Int, k: Int,
                                         iters: Int,
                                         sharedPool: Option[Array[(Int, Long, Array[Int], Int)]] = None): Seq[(Int, Long, Array[Int])] = {
    val p = poolSize(k)
    val pool = sharedPool.getOrElse(trainPool(embs, m, p))
    // the m subspace trainings are independent — run them on driver
    // threads (k=256/iters=8 is ~70M integer distance ops per sub;
    // serial, that wall-time dominated q_pq_curve/q_opq_recall).
    // Output order is pinned by the sortBy, so parallelism changes
    // nothing downstream.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val groups = pool.groupBy(_._1).toSeq.sortBy(_._1)
    val futs = groups.map { case (sub, rowsU) => Future {
      // a shared (wider) pool restricts to this config's prefix, so the
      // result is identical to collecting at exactly poolSize(k)
      val pts = rowsU.filter(_._4 <= p).sortBy(_._4)
        .map(r => (r._2, r._3))
      lloydLocal(pts, seedsFromPool(pts, k), iters)
        .map { case (cid, cvec) => (sub, cid, cvec) }
    }}
    Await.result(Future.sequence(futs), Duration.Inf).flatten
  }


  /** PQ encoding: (vec_id, sub, code) — each subvector's nearest
    * codebook centroid (squared-distance argmin, cid tiebreak). */
  def encode(embs: DataFrame, m: Int = defaultM, k: Int = 16,
             iters: Int = 2): DataFrame =
    encodeWith(embs, codebooks(embs, m, k, iters), m)

  /** [[encode]] against an already-built codebook — search entry
    * points build the codebook ONCE (materialized: it is m·k rows but
    * its lineage is the whole Lloyd chain) and feed it to both the
    * encoder and the distance tables, instead of re-planning the
    * corpus-wide training per consumer. */
  def encodeWith(embs: DataFrame, cb: DataFrame, m: Int): DataFrame =
    encodeSubs(subvectors(embs, m), cb)

  /** [[encodeWith]] over an already-split subvector frame — callers
    * running several encodes ([[pqRecallCurve]]) share one quantize+
    * explode. Same argmin-as-aggregate shape as the Lloyd assignment:
    * map-side combine collapses the k candidate rows per (vec, sub)
    * pre-shuffle. */
  private[ann] def encodeSubs(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "sub")
      .withColumn("dd", d2("svec", "cvec"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("dd"), col("cid"))).getField("cid").as("code"))
      .select(col("vec_id"), col("sub"), col("code"))

  /** [[encodeWith]] as a window argmin instead of a groupBy argmin —
    * identical output, different physical proof: the executed plan
    * contains NO Aggregate node, which is what lets
    * [[graft.ann.IncrementalIndex]]'s plan gate certify "appends never
    * retrain" structurally (Lloyd cannot exist without aggregates, so
    * an aggregate-free plan cannot hide it). The groupBy form wins on
    * bulk encodes (map-side combine collapses the k candidate rows per
    * (vec, sub) before the shuffle); this form shuffles k rows per key
    * — fine for shard-sized appends, and the proof is worth the delta. */
  def encodeWithWindow(embs: DataFrame, cb: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dd"), col("cid"))
    subvectors(embs, m).join(broadcast(cb), "sub")
      .withColumn("dd", d2("svec", "cvec"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
  }

  /** The broadcast per-query lookup table. SDC: (query_id, sub, code,
    * pd2) — integer d² from the quantized query subvector. ADC:
    * (query_id, sub, code, pd) — float dot(q_sub, c_code), the
    * mergeable numerator of the estimated cosine. Left-to-right double
    * accumulation ([[Similarity.dotHof]]) matches DuckDB's
    * list_dot_product on DOUBLE lists; only |Q|·m·k table rows ever
    * evaluate it. */
  private def distTable(embs: DataFrame, cb: DataFrame, m: Int,
                        queryMaxId: Long, adc: Boolean): DataFrame = {
    val q = (if (adc) subvectorsRaw(embs, m) else subvectors(embs, m))
      .filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("sub"), col("svec"))
    val joined = q.join(broadcast(cb), "sub")
    if (adc)
      joined.select(col("query_id"), col("sub"), col("cid").as("code"),
        Similarity.dotHof(col("svec"), col("cvec")).as("pd"),
        Similarity.dotHof(col("cvec"), col("cvec")).as("cn"))
    else
      joined.select(col("query_id"), col("sub"), col("cid").as("code"),
        d2("svec", "cvec").as("pd2"))
  }

  /** The merged per-(query, vec) score. SDC: the exact-integer distance
    * sum (ascending = nearest). ADC: the reconstructed cosine
    * Σpd / √Σcn = cos(q, v̂) up to the per-query constant |q| (the
    * corpus scale cancels between numerator and reconstruction norm) —
    * 4dp-rounded BEFORE ranking (knnBrute's convention) so the top-k
    * set is engine-independent (descending = nearest). Measured at 50
    * queries × top-5 on sf0.01: reconstruction-norm cosine 0.236 >
    * true-stored-norm cosine 0.224 > scaled-domain L2 0.212 — the
    * matching reconstruction norm cancels the numerator's correlated
    * reconstruction error, so it beats the "exact" norm. */
  private def lookupScore(adc: Boolean): Column =
    if (adc) round(sum(col("pd")) / sqrt(sum(col("cn"))), 4)
    else sum(col("pd2"))

  /** SDC top-k: per query, the lookup-table distance
    * Σ_sub d²(query_subvec, centroid[code]) over the encoded corpus.
    * Output: (query_id, vec_id, adist2, rank). */
  def pqKnn(embs: DataFrame, queryMaxId: Long = 10, topK: Int = 5,
            m: Int = defaultM, k: Int = 16, iters: Int = 2): DataFrame = {
    val cb = codebooks(embs, m, k, iters).localCheckpoint()
    pqKnnWith(embs, cb, encodeWith(embs, cb, m), queryMaxId, topK, m)
  }

  /** ADC top-k ([[pqKnn]] with the asymmetric tables): the query's raw
    * float subvectors against the same stored codes, ranked by the
    * reconstructed cosine — measurably better recall for free at index
    * time. Output: (query_id, vec_id, ascore, rank). */
  def pqKnnAdc(embs: DataFrame, queryMaxId: Long = 10, topK: Int = 5,
               m: Int = defaultM, k: Int = 16, iters: Int = 2): DataFrame = {
    val cb = codebooks(embs, m, k, iters).localCheckpoint()
    pqKnnAdcWith(embs, cb, encodeWith(embs, cb, m), queryMaxId, topK, m)
  }

  /** [[pqKnn]] against a prebuilt index (codebook + codes) — at scale
    * those ARE the stored artifacts, and diagnostics that run several
    * PQ searches ([[Similarity.annRecall]]) share one training. */
  def pqKnnWith(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                queryMaxId: Long = 10, topK: Int = 5, m: Int = defaultM): DataFrame =
    pqSearch(embs, cb, codes, queryMaxId, topK, m, adc = false)

  /** [[pqKnnAdc]] against a prebuilt index (see [[pqKnnWith]]). */
  def pqKnnAdcWith(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                   queryMaxId: Long = 10, topK: Int = 5, m: Int = defaultM): DataFrame =
    pqSearch(embs, cb, codes, queryMaxId, topK, m, adc = true)

  private def pqSearch(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                       queryMaxId: Long, topK: Int, m: Int, adc: Boolean): DataFrame = {
    val dt = distTable(embs, cb, m, queryMaxId, adc)
    val scoreCol = if (adc) "ascore" else "adist2"
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (adc) col(scoreCol).desc else col(scoreCol), col("vec_id"))
    codes.join(broadcast(dt), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(lookupScore(adc).as(scoreCol))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** IVF+PQ with exact re-rank — the production pairing this module
    * exists for: the query probes its `nprobe` nearest IVF cells
    * ([[IvfKnn]] — at scale the cell id is a storage partition column,
    * so probing is partition pruning), candidates inside those cells
    * are ranked by the PQ lookup-table distance (reads CODES, never
    * raw vectors — the memory story), and the SDC top `topK·refine`
    * re-rank with the exact float cosine ([[Quantize.quantKnn]]'s
    * two-stage shape). Output matches [[Similarity.knnBrute]].
    *
    * Scale shape: per query the raw-vector work is topK·refine rows;
    * everything corpus-wide touches only the m-codes table, joined
    * against broadcast probe lists and broadcast distance tables. */
  def ivfPqKnn(embs: DataFrame, queryMaxId: Long = 10, topK: Int = 5,
               kCells: Int = 16, nprobe: Int = 4,
               m: Int = defaultM, k: Int = 16, iters: Int = 2,
               refine: Int = 8): DataFrame = {
    val cb = codebooks(embs, m, k, iters).localCheckpoint()
    ivfPqKnnWith(embs, cb, encodeWith(embs, cb, m), queryMaxId, topK,
      kCells, nprobe, m, refine)
  }

  /** [[ivfPqKnn]] against a prebuilt index (see [[pqKnnWith]]). */
  def ivfPqKnnWith(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                   queryMaxId: Long = 10, topK: Int = 5,
                   kCells: Int = 16, nprobe: Int = 4,
                   m: Int = defaultM, refine: Int = 8): DataFrame =
    ivfPqSearch(embs, cb, codes, queryMaxId, topK, kCells, nprobe, m,
      refine, adc = false)

  /** [[ivfPqKnnWith]] with the ADC shortlist: better lookup distances →
    * better candidates surviving into the exact re-rank, for the same
    * stored index. */
  def ivfPqKnnAdcWith(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                      queryMaxId: Long = 10, topK: Int = 5,
                      kCells: Int = 16, nprobe: Int = 4,
                      m: Int = defaultM, refine: Int = 8): DataFrame =
    ivfPqSearch(embs, cb, codes, queryMaxId, topK, kCells, nprobe, m,
      refine, adc = true)

  private def ivfPqSearch(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                          queryMaxId: Long, topK: Int,
                          kCells: Int, nprobe: Int,
                          m: Int, refine: Int, adc: Boolean): DataFrame = {
    val cents = IvfKnn.centroids(embs, kCells)
    val assigned = IvfKnn.assign(embs, cents).select(col("vec_id"), col("cell"))
    ivfPqPlan(embs, cb, codes, cents, assigned, queryMaxId, topK, nprobe,
      m, refine, adc)
  }

  /** The probe → shortlist → re-rank plan against fully EXTERNAL index
    * artifacts (codebook, codes, IVF centroids, cell assignments) —
    * what [[IncrementalIndex]] searches after appending shards to a
    * frozen index. */
  private[ann] def ivfPqPlan(embs: DataFrame, cb: DataFrame, codes: DataFrame,
                             cents: Array[Array[Float]], assigned: DataFrame,
                             queryMaxId: Long, topK: Int, nprobe: Int,
                             m: Int, refine: Int, adc: Boolean): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val probes = embs.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        IvfKnn.rankedCells(emb, cents).take(nprobe).map(c => (id, c)) }
      .toDF("query_id", "cell")
    val dt = distTable(embs, cb, m, queryMaxId, adc)
    // each vector lives in exactly one cell → (query, vec) is unique
    val cand = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val scoreCol = if (adc) "ascore" else "adist2"
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(if (adc) col(scoreCol).desc else col(scoreCol), col("vec_id"))
    val short = cand.join(codes, "vec_id")
      .join(broadcast(dt), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(lookupScore(adc).as(scoreCol))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= topK * refine)
      .select(col("query_id"), col("vec_id"))
    exactRerank(embs, short, queryMaxId, topK)
  }

  /** The exact-cosine re-rank tail every two-stage search ends with:
    * score the (query, vec) shortlist against the RAW float vectors,
    * 4dp-rounded before ranking (knnBrute's convention). Queries
    * broadcast; the corpus side touches shortlist rows only. */
  private[ann] def exactRerank(embs: DataFrame, short: DataFrame,
                               queryMaxId: Long, topK: Int): DataFrame = {
    val full = embs.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val qFull = full.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    short.join(broadcast(qFull), Seq("query_id"))
      .join(full, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(wE).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** Fixed-point grid for the cell-mean anchors: sums of
    * floor(x·2²⁰ + ½) are exact integers in ANY summation order, so
    * both engines derive bit-identical anchors — the float-summation
    * order trap (Σ of doubles is order-dependent) never opens. */
  private val anchorFp = 1048576.0

  /** Per-cell per-dim mean on the 2⁻²⁰ fixed-point grid:
    * floor(Σ floor(x·2²⁰ + ½) / n) / 2²⁰. Exact-integer sums → the
    * result is a pure function of the SET of cell members. */
  private[ann] def cellAnchors(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * anchorFp + 0.5).cast("long")))
          .as(Seq("pos", "xi")))
      .groupBy("cell", "pos")
      .agg((floor(sum(col("xi")).cast("double") / count(lit(1))) / anchorFp)
        .as("a"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("a"))))
        .getField("a").as("a_emb"))

  /** IVF-PQ with RESIDUAL codes — the Jégou et al. 2011 §IV design
    * (what FAISS's IndexIVFPQ stores under its L2 metric): the PQ
    * codebook learns r = v − anchor(cell(v)) instead of v itself,
    * where the anchor is the cell's MEAN vector ([[cellAnchors]] —
    * the md5-seeded probe centroids are corpus VECTORS, and residuals
    * against a random member are not small: measured on sf0.01 that
    * variant scores 0.292 recall@5×50q vs the mean anchor's 0.368).
    * Probing still ranks the md5 centroids (unchanged IVF).
    *
    * MEASURED DISPOSITION (the reason this is shipped as the L2
    * building block, not as the default cosine search): under this
    * engine's scaled-domain SDC — per-vector max-|x| int8 scales, the
    * cross-engine-exact integer design — residual codes LOWER cosine
    * recall vs plain IVF-PQ (0.368 vs 0.456 at 50 queries, identical
    * index bytes). Per-vector scaling already angle-normalizes FULL
    * vectors (that is exactly why plain scaled-domain SDC tracks the
    * cosine ground truth), while residual magnitudes — and therefore
    * residual scales — vary far more across vectors, so the scale
    * mismatch between quantized residuals adds more shortlist error
    * than the finer residual granularity removes. FAISS reaches the
    * same conclusion from the other side: by_residual defaults OFF
    * for inner-product indexes. For a true-L2 corpus the residual
    * variant is the right half to reach for; the recall comparison is
    * executable in AnnRecallSpec and the full story lives in
    * SCALING.md.
    *
    * Search needs one twist vs [[ivfPqKnn]]: the query's lookup table
    * is PER PROBED CELL (the query residual q − anchor_c differs per
    * cell), so the broadcast distance table is |Q|·nprobe·m·k rows
    * instead of |Q|·m·k — still trivially broadcastable — and the
    * shortlist join keys on (query, cell, sub, code), where each
    * candidate's one true cell came with it from the IVF assignment.
    * All residual arithmetic is float(double(v) − anchor) in BOTH
    * engines (anchors exact by construction, one IEEE rounding), so
    * the quantized-integer SDC lookups stay bit-identical; the exact
    * cosine re-rank over the RAW vectors is unchanged. */
  def ivfPqResKnn(embs: DataFrame, queryMaxId: Long = 10, topK: Int = 5,
                  kCells: Int = 16, nprobe: Int = 4,
                  m: Int = defaultM, k: Int = 16, iters: Int = 2,
                  refine: Int = 8): DataFrame =
    exactRerank(embs,
      ivfPqResRanked(embs, queryMaxId, kCells, nprobe, m, k, iters)
        .filter(col("arank") <= topK * refine)
        .select(col("query_id"), col("vec_id")),
      queryMaxId, topK)

  /** [[ivfPqResKnn]]'s ADC-ranked shortlist, before any refine cutoff:
    * (query_id, vec_id, arank) for every probed-cell candidate — split
    * out so [[ivfPqResRefineRecall]] can grade several refine budgets
    * against ONE residual training + encode. */
  private[ann] def ivfPqResRanked(embs: DataFrame, queryMaxId: Long,
                                  kCells: Int, nprobe: Int,
                                  m: Int, k: Int, iters: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = IvfKnn.centroids(embs, kCells)
    val assigned = IvfKnn.assign(embs, cents)
    val centDf = cellAnchors(assigned).localCheckpoint()
    val resid = zip_with(col("embedding"), col("a_emb"),
      (v, a) => (v.cast("double") - a).cast("float"))
    // corpus residuals: one broadcast join, map-side subtract; the PQ
    // training + encode paths below are byte-identical to the plain
    // variant, just fed residual vectors
    val rEmb = assigned.join(broadcast(centDf), "cell")
      .select(col("vec_id"), lit("").as("label"), resid.as("embedding"))
      .localCheckpoint() // consumed 3×: global scale, Lloyd, encode
    // ONE corpus-global scale: residual norms vary per cell, so the
    // per-vector quantizer would give every vector its own integer
    // domain and SDC sums would compare incomparable units
    val g = globalScale(rEmb)
    val rsubs = subvectorsFixed(rEmb, m, g)
    val cb = codebooksSubs(rsubs, k, iters).localCheckpoint()
    val codes = encodeSubs(rsubs, cb)
    val probes = embs.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        IvfKnn.rankedCells(emb, cents).take(nprobe).map(c => (id, c)) }
      .toDF("query_id", "cell")
    // per-(query, probed cell) residual → quantize → subvectors → SDC
    // lookup table rows against the broadcast codebook
    val qres = probes
      .join(broadcast(embs.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("query_id"), col("embedding"))), "query_id")
      .join(broadcast(centDf), "cell")
      .select(col("query_id"), col("cell"),
        transform(resid, x => floor(x.cast("double") / lit(g) + lit(0.5))
          .cast("int")).as("qvec"))
    val qsv = qres.select(col("query_id"), col("cell"), posexplode(expr(
      s"""transform(sequence(0, $m - 1),
         |  j -> slice(qvec, j * (size(qvec) div $m) + 1, size(qvec) div $m))"""
        .stripMargin)).as(Seq("sub", "svec")))
    val dt = qsv.join(broadcast(cb), "sub")
      .select(col("query_id"), col("cell"), col("sub"),
        col("cid").as("code"), d2("svec", "cvec").as("pd2"))
    val cand = broadcast(probes).join(assigned.select("vec_id", "cell"), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("vec_id"))
    cand.join(codes, "vec_id")
      .join(broadcast(dt), Seq("query_id", "cell", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adist2"))
      .withColumn("arank", row_number().over(wA))
      .select(col("query_id"), col("vec_id"), col("arank"))
  }

  /** The refine/residual COMPOSITION gate (r8 measured the two halves
    * separately: refine×4 clears plain PQ's k256 ceiling, residual
    * codes beat plain under L2) — recall@topK of the residual IVF-PQ
    * shortlist re-ranked at refine budgets 1 and `refine`, against the
    * exact brute baseline. refine=1 IS "residual-only at equal topK
    * cost": the exact re-rank over exactly topK candidates can reorder
    * but not change membership, so its recall is the raw ADC
    * shortlist's. Monotonicity is structural — the refine·topK
    * shortlist is a superset, and any vector displacing a brute-top-K
    * member from the re-ranked top K precedes it in the global
    * (rounded cosine, vec_id) order, hence is itself a brute-top-K
    * member — but the MARGIN is the measured quantity: how much of the
    * ADC shortlist's rank error the wider exact re-rank recovers.
    * Output: (cfg, n_hits, n_possible, recall), exhaustive anchor
    * included.
    *
    * Scale shape: ONE residual training + encode + banded shortlist
    * (the expensive legs) shared by both budgets; the extra cost of
    * the composed row is refine·topK raw-vector rows per query —
    * [[exactRerank]]'s contract. */
  def ivfPqResRefineRecall(embs: DataFrame, queryMaxId: Long = 50,
                           topK: Int = 5, kCells: Int = 16, nprobe: Int = 4,
                           m: Int = defaultM, k: Int = 16, iters: Int = 2,
                           refine: Int = 4): DataFrame = {
    // brute truth and the residual pipeline are independent until the
    // hit counting — concurrent jobs (guide §2.6, r17)
    val Seq(brute, ranked) = graft.Engine.inParallel(
      () => Similarity.knnBrute(embs, queryMaxId, topK)
        .select(col("query_id"), col("vec_id")).localCheckpoint(),
      () => ivfPqResRanked(embs, queryMaxId, kCells, nprobe, m, k,
        iters).localCheckpoint()) // ranked: consumed once per refine budget
    Similarity.recallTally(brute, "cfg", Seq(1, refine).map { r =>
      s"ivfpq_res_r$r" -> exactRerank(embs,
        ranked.filter(col("arank") <= topK * r)
          .select(col("query_id"), col("vec_id")),
        queryMaxId, topK)
    }, exhaustive = true)
  }

  /** DuckDB twin of [[ivfPqResRefineRecall]]: one self-contained
    * [[ivfPqResKnnSql]] block per refine budget (nested WITH in a
    * subquery, the [[graft.streaming.CurateIngest.crossShardNearDupsSql]]
    * pattern), hits counted against the shared brute CTE. */
  def ivfPqResRefineRecallSql(queryMaxId: Long = 50, topK: Int = 5,
                              kCells: Int = 16, nprobe: Int = 4,
                              m: Int = defaultM, k: Int = 16,
                              iters: Int = 2, refine: Int = 4): String = {
    val cells = Seq(1, refine).map { r =>
      s"ivfpq_res_r$r" -> ivfPqResKnnSql(queryMaxId, topK, kCells, nprobe,
        m, k, iters, refine = r)
    }
    val cfgCtes = cells.map { case (label, body) =>
      s"cfg_$label AS (SELECT * FROM (\n$body\n))"
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
       |$cfgCtes,
       |hits AS (
       |  $hitRows),
       |poss AS (SELECT count(*) AS n_possible FROM brute)
       |SELECT cfg, n_hits, n_possible,
       |       round(CAST(n_hits AS DOUBLE) / n_possible, 4) AS recall
       |FROM hits CROSS JOIN poss""".stripMargin
  }

  /** The recall-vs-codebook tuning grid for [[pqRecallCurve]]: the
    * full (k, iters) cross — codebook size is one axis, Lloyd budget
    * the other; every cell trains with the hash-sampled init over
    * the sampled pool. */
  val curveCfgs: Seq[(Int, Int, String)] = Seq(
    (16, 2, "k16_i2"), (16, 8, "k16_i8"),
    (64, 2, "k64_i2"), (64, 8, "k64_i8"),
    (256, 2, "k256_i2"), (256, 8, "k256_i8"))

  /** Recall-vs-codebook-quality curve — [[IvfKnn.recallCurve]]'s
    * counterpart for the PQ half: the same ADC search run against
    * [[codebooksSampled]] codebooks at each (k, iters) grid cell,
    * measured against the exact brute baseline, with the exhaustive
    * anchor row (brute ∩ brute = 1.0) pinning the gauge. r6 measured
    * that ADC vs SDC moves recall only 0.224→0.236 while the ceiling
    * sat at ~0.24-0.30 — the CODEBOOK, not the lookup metric, is the
    * limiter; this curve is the measured basis for choosing its budget
    * against a recall SLO (at sf0.01 under the r16 hash-sampled init:
    * k=16 ≈ 0.20-0.21, k=64 ≈ 0.37, k=256 ≈ 0.66-0.67 — size
    * dominates, extra Lloyd rounds fine-tune; the farthest-first init
    * this replaced measured within 0.01-0.03 recall at every cell, so
    * the budget ordering the curve exists to report is unchanged).
    *
    * Scale shape: training cost is driver-side kB work per cell; each
    * cell's corpus cost is the standard PQ search plan against
    * broadcast tables — and the per-cell ENCODE is a narrow map
    * ([[graft.functions.PqEncode]] argmin-in-codegen against the
    * driver-resident codebook) rather than the k×-row-exploding
    * join+shuffle argmin, which at 6 cells was the dominant curve cost
    * (measured 4.8 → 2.6 s at sf0.1, identical output). The curve
    * never multiplies corpus-pair work. */
  def pqRecallCurve(embs: DataFrame, queryMaxId: Long = 50, topK: Int = 5,
                    m: Int = defaultM): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val maxP = curveCfgs.map(c => poolSize(c._1)).max
    // the four eager legs — train-pool collect, brute truth, the shared
    // corpus-side quantize+explode, and the raw query subvectors — are
    // mutually independent: materialize them as concurrent jobs (guide
    // §2.6, r17). subs/rawQ stay config-independent and shared across
    // all 6 cells (the "consumed >1×" rule; each cell only swaps its
    // codebook in).
    val fan = new graft.Engine.FanOut(spark.sparkContext)
    val (pool, brute, subs, rawQ) = fan.run {
      val fPool = fan.submit(() => trainPool(embs, m, maxP))
      val fBrute = fan.submit(() => Similarity.knnBrute(embs, queryMaxId, topK)
        .select(col("query_id"), col("vec_id")).localCheckpoint())
      val fSubs = fan.submit(() => subvectors(embs, m).localCheckpoint())
      val fRawQ = fan.submit(() => subvectorsRaw(embs, m)
        .filter(col("vec_id") < queryMaxId).localCheckpoint())
      (fan.await(fPool), fan.await(fBrute), fan.await(fSubs),
        fan.await(fRawQ))
    }
    Similarity.recallTally(brute, "cfg", curveCfgs.map { case (k, iters, label) =>
      val centsL = codebooksSampledLocal(embs, m, k, iters, Some(pool))
      val cb = centsL.toDF("sub", "cid", "cvec")
      val centsArr = Array.tabulate(m)(s =>
        centsL.filter(_._1 == s).map(_._3).toArray)
      val cidArr = Array.tabulate(m)(s =>
        centsL.filter(_._1 == s).map(_._2).toArray)
      val codes = subs.select(col("vec_id"), col("sub"),
        graft.functions.VectorFunctions
          .pq_encode(col("sub"), col("svec"), centsArr, cidArr).as("code"))
      val dt = rawQ.select(col("vec_id").as("query_id"), col("sub"), col("svec"))
        .join(broadcast(cb), "sub")
        .select(col("query_id"), col("sub"), col("cid").as("code"),
          Similarity.dotHof(col("svec"), col("cvec")).as("pd"),
          Similarity.dotHof(col("cvec"), col("cvec")).as("cn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("ascore").desc, col("vec_id"))
      label -> codes.join(broadcast(dt), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(lookupScore(adc = true).as("ascore"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= topK)
    }, exhaustive = true)
  }

  private def d2Sql(a: String, b: String): String =
    s"list_dot_product($a, $a) + list_dot_product($b, $b) - 2 * list_dot_product($a, $b)"

  /** (d², cid) lexicographic argmin as ONE hash-aggregable scalar:
    * d² · 2⁶³ + cid in HUGEINT (128-bit; d² of int8 subvectors is an
    * exact small integer, cid a non-negative vec_id, so the packing is
    * collision-free and order-preserving). `arg_min` over this key
    * replaces a `row_number() OVER (PARTITION BY vec_id, sub ORDER BY
    * d², cid)` window — same pick, but a parallel hash aggregate
    * instead of sorting the vecs×k joined frame (the measured
    * dominant cost of the sampled-cfg oracles once the seed walk was
    * gone: WINDOW over 1.02M rows per Lloyd round, SCALING.md r16). */
  private def argminKeySql(d2: String, cid: String): String =
    s"CAST($d2 AS HUGEINT) * 9223372036854775808::HUGEINT + CAST($cid AS HUGEINT)"

  /** One curve cell's full DuckDB query (pool → hash-prefix seeds →
    * unrolled Lloyd → encode → ADC top-k), self-contained so
    * [[pqRecallCurveSql]] can nest one per config. Seeds replay
    * [[seedsFromPool]] exactly: the pool is hash-ranked, the first k
    * rows per subspace are the seeds (r16 — replaced the recursive
    * farthest-first CTE, the oracle suite's measured cost tail). */
  private[ann] def pqSampledCfgSql(queryMaxId: Long, topK: Int, m: Int,
                                   k: Int, iters: Int,
                                   source: String = "embeddings",
                                   refine: Int = 0,
                                   rerankSource: String = "embeddings"): String = {
    val p = poolSize(k)
    val cfgTail = cfgTailSql(topK, refine, rerankSource)
    val hashExpr =
      "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"
    val lloyd = (1 until iters).map { it =>
      val prev = if (it == 1) "seeds" else s"c${it - 1}"
      s"""a$it AS MATERIALIZED (
         |  SELECT s.vec_id, s.sub,
         |    arg_min(c.cid, ${argminKeySql(d2Sql("s.svec", "c.cvec"), "c.cid")}) AS cid,
         |    s.svec
         |  FROM pool s JOIN $prev c USING (sub)
         |  GROUP BY s.vec_id, s.sub, s.svec),
         |px$it AS MATERIALIZED (
         |  SELECT sub, cid, unnest(svec) AS code,
         |         unnest(range(1, len(svec) + 1)) AS pos
         |  FROM a$it),
         |c$it AS MATERIALIZED (
         |  SELECT sub, cid, list(code ORDER BY pos) AS cvec FROM (
         |    SELECT sub, cid, pos,
         |           CAST(floor(CAST(sum(code) AS DOUBLE) / count(*) + 0.5) AS INTEGER) AS code
         |    FROM px$it GROUP BY sub, cid, pos)
         |  GROUP BY sub, cid),""".stripMargin
    }.mkString("\n")
    val cLast = if (iters > 1) s"c${iters - 1}" else "seeds"
    s"""WITH
       |q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
       |      (CASE WHEN list_aggregate(list_transform(embedding,
       |              x -> abs(CAST(x AS DOUBLE))), 'max') = 0 THEN 1.0
       |            ELSE list_aggregate(list_transform(embedding,
       |              x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 END)
       |      + 0.5) AS INTEGER)) AS qvec
       |  FROM $source),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, j.sub,
       |         qvec[j.sub * (len(qvec) // $m) + 1 :
       |              j.sub * (len(qvec) // $m) + (len(qvec) // $m)] AS svec
       |  FROM q CROSS JOIN (SELECT unnest(range(0, $m)) AS sub) j),
       |poolv AS MATERIALIZED (
       |  SELECT vec_id, hr FROM (
       |    SELECT vec_id,
       |           row_number() OVER (ORDER BY $hashExpr, vec_id) AS hr
       |    FROM $source) WHERE hr <= $p),
       |pool AS MATERIALIZED (
       |  SELECT s.sub, s.vec_id, s.svec, v.hr
       |  FROM sv s JOIN poolv v USING (vec_id)),
       |seeds AS MATERIALIZED (
       |  SELECT sub, vec_id AS cid, svec AS cvec FROM pool
       |  WHERE hr <= $k),
       |$lloyd
       |codes AS MATERIALIZED (
       |  SELECT s.vec_id, s.sub,
       |    arg_min(c.cid, ${argminKeySql(d2Sql("s.svec", "c.cvec"), "c.cid")}) AS code
       |  FROM sv s JOIN $cLast c USING (sub)
       |  GROUP BY s.vec_id, s.sub),
       |rsv AS MATERIALIZED (
       |  SELECT vec_id, j.sub,
       |         rvec[j.sub * (len(rvec) // $m) + 1 :
       |              j.sub * (len(rvec) // $m) + (len(rvec) // $m)] AS svec
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
       |    FROM $source WHERE vec_id < $queryMaxId)
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS sub) j),
       |dt AS MATERIALIZED (
       |  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
       |         list_dot_product(s.svec,
       |           list_transform(c.cvec, x -> CAST(x AS DOUBLE))) AS pd,
       |         list_dot_product(list_transform(c.cvec, x -> CAST(x AS DOUBLE)),
       |                          list_transform(c.cvec, x -> CAST(x AS DOUBLE))) AS cn
       |  FROM rsv s JOIN $cLast c USING (sub)),
       |scored AS MATERIALIZED (
       |  SELECT dt.query_id, codes.vec_id,
       |         round(sum(dt.pd) / sqrt(sum(dt.cn)), 4) AS ascore
       |  FROM codes JOIN dt USING (sub, code)
       |  WHERE codes.vec_id <> dt.query_id
       |  GROUP BY 1, 2),
       |pqranked AS MATERIALIZED (
       |  SELECT query_id, vec_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY ascore DESC, vec_id) AS rank
       |  FROM scored)
       |$cfgTail""".stripMargin
  }

  /** Final SELECT of one sampled-cfg cell: the plain ADC top-k, or —
    * with `refine > 0` — the FAISS `IndexRefineFlat` shape: keep the
    * top `refine·topK` ADC candidates and re-rank just those with the
    * exact float cosine over `rerankSource` ([[exactRerank]]'s twin,
    * scoring identical to [[Similarity.knnBruteSql]]). */
  private def cfgTailSql(topK: Int, refine: Int, rerankSource: String): String =
    if (refine == 0)
      s"SELECT query_id, vec_id FROM pqranked WHERE rank <= $topK"
    else
      s""",
         |rr AS (
         |  SELECT n.query_id, n.vec_id,
         |         round(list_dot_product(q.embedding, c.embedding) /
         |               (sqrt(list_dot_product(q.embedding, q.embedding)) *
         |                sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS cos_sim
         |  FROM (SELECT query_id, vec_id FROM pqranked
         |        WHERE rank <= ${refine * topK}) n
         |  JOIN $rerankSource q ON q.vec_id = n.query_id
         |  JOIN $rerankSource c ON c.vec_id = n.vec_id)
         |SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM rr)
         |WHERE rank <= $topK""".stripMargin

  /** DuckDB twin of [[pqRecallCurve]]: one nested self-contained query
    * per grid cell, hit counts against the shared brute CTE, the
    * exhaustive anchor, one recall arithmetic tail. */
  def pqRecallCurveSql(queryMaxId: Long = 50, topK: Int = 5,
                       m: Int = defaultM): String = {
    val cfgCtes = curveCfgs.map { case (k, iters, label) =>
      s"cfg_$label AS (\n${pqSampledCfgSql(queryMaxId, topK, m, k, iters)}\n)"
    }.mkString(",\n")
    val hitRows = (curveCfgs.map { case (_, _, label) =>
      s"""SELECT '$label' AS cfg, count(*) AS n_hits FROM cfg_$label a
         |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id"""
        .stripMargin
    } :+ "SELECT 'exhaustive' AS cfg, count(*) AS n_hits FROM brute")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH brute AS MATERIALIZED (
       |${Similarity.knnBruteSql(queryMaxId, topK)}
       |),
       |$cfgCtes,
       |hits AS (
       |  $hitRows),
       |poss AS (SELECT count(*) AS n_possible FROM brute)
       |SELECT cfg, n_hits, n_possible,
       |       round(CAST(n_hits AS DOUBLE) / n_possible, 4) AS recall
       |FROM hits CROSS JOIN poss""".stripMargin
  }

  /** Shared oracle CTE block (quantize → subvectors → 2-iter Lloyd
    * codebooks → codes), textually identical across the PQ oracles so
    * a fix lands everywhere at once. `trainMaxId` restricts codebook
    * TRAINING to vec_id < t (the incremental-index base corpus) while
    * encoding everything — the frozen-codebook append semantics. */
  /** The int8 quantize expression over a DuckDB list column — ONE
    * definition shared by the corpus `q` CTE and the residual query
    * tables, so the two can't drift. */
  private def qvecSql(src: String): String =
    s"""list_transform($src, x -> CAST(floor(CAST(x AS DOUBLE) /
       |      (CASE WHEN list_aggregate(list_transform($src,
       |              x -> abs(CAST(x AS DOUBLE))), 'max') = 0 THEN 1.0
       |            ELSE list_aggregate(list_transform($src,
       |              x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 END)
       |      + 0.5) AS INTEGER))""".stripMargin

  /** Fixed-scale twin of [[qvecSql]]: quantize with the caller's
    * column `g` in scope (CROSS JOIN gs) instead of the per-vector
    * max — the SQL side of [[subvectorsFixed]]. */
  private def qvecFixedSql(src: String): String =
    s"""list_transform($src, x -> CAST(floor(CAST(x AS DOUBLE) / gs.g
       |      + 0.5) AS INTEGER))""".stripMargin

  /** The corpus-global scale CTE (the [[globalScale]] twin). */
  private def gsCte(source: String): String =
    s"""gs AS MATERIALIZED (
       |  SELECT CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS g FROM (
       |    SELECT max(list_aggregate(list_transform(embedding,
       |             x -> abs(CAST(x AS DOUBLE))), 'max')) AS mx
       |    FROM $source))""".stripMargin

  private def pqBaseCtes(queryMaxId: Long, m: Int, k: Int,
                         adc: Boolean,
                         trainMaxId: Option[Long] = None,
                         source: String = "embeddings",
                         dtOverride: Option[String] = None,
                         fixedScale: Boolean = false): String = {
    val trainSrc = if (trainMaxId.isDefined) "svt" else "sv"
    val svtCte = trainMaxId
      .map(t => s"svt AS (\n  SELECT * FROM sv WHERE vec_id < $t),\n")
      .getOrElse("")
    // ADC swaps the query side: RAW float subvectors and dot-product
    // tables (+ the code's squared norm, the two mergeable pieces of
    // the reconstructed cosine); corpus codes are byte-identical.
    val dtCte = dtOverride.getOrElse(
      if (adc)
        s"""rsv AS (
           |  SELECT vec_id, j.sub,
           |         rvec[j.sub * (len(rvec) // $m) + 1 :
           |              j.sub * (len(rvec) // $m) + (len(rvec) // $m)] AS svec
           |  FROM (
           |    SELECT vec_id,
           |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
           |    FROM embeddings WHERE vec_id < $queryMaxId)
           |  CROSS JOIN (SELECT unnest(range(0, $m)) AS sub) j),
           |dt AS MATERIALIZED (
           |  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
           |         list_dot_product(s.svec,
           |           list_transform(c.cvec, x -> CAST(x AS DOUBLE))) AS pd,
           |         list_dot_product(list_transform(c.cvec, x -> CAST(x AS DOUBLE)),
           |                          list_transform(c.cvec, x -> CAST(x AS DOUBLE))) AS cn
           |  FROM rsv s JOIN c1 c USING (sub))""".stripMargin
      else
        s"""dt AS (
           |  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
           |         list_dot_product(s.svec, s.svec) + list_dot_product(c.cvec, c.cvec)
           |           - 2 * list_dot_product(s.svec, c.cvec) AS pd2
           |  FROM sv s JOIN c1 c USING (sub)
           |  WHERE s.vec_id < $queryMaxId)""".stripMargin)
    val qCte = if (fixedScale)
      s"""${gsCte(source)},
         |q AS MATERIALIZED (
         |  SELECT vec_id,
         |    ${qvecFixedSql("embedding")} AS qvec
         |  FROM $source CROSS JOIN gs)""".stripMargin
    else
      s"""q AS (
         |  SELECT vec_id,
         |    ${qvecSql("embedding")} AS qvec
         |  FROM $source)""".stripMargin
    s"""$qCte,
       |sv AS MATERIALIZED (
       |  SELECT vec_id, j.sub,
       |         qvec[j.sub * (len(qvec) // $m) + 1 :
       |              j.sub * (len(qvec) // $m) + (len(qvec) // $m)] AS svec
       |  FROM q CROSS JOIN (SELECT unnest(range(0, $m)) AS sub) j),
       |${svtCte}c0 AS (
       |  SELECT sub, vec_id AS cid, svec AS cvec FROM $trainSrc
       |  QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= $k),
       |a1 AS (
       |  SELECT vec_id, sub, cid, svec FROM (
       |    SELECT s.vec_id, s.sub, c.cid, s.svec,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
       |        list_dot_product(s.svec, s.svec) + list_dot_product(c.cvec, c.cvec)
       |          - 2 * list_dot_product(s.svec, c.cvec), c.cid) AS rn
       |    FROM $trainSrc s JOIN c0 c USING (sub)) WHERE rn = 1),
       |px AS (
       |  SELECT sub, cid, unnest(svec) AS code,
       |         unnest(range(1, len(svec) + 1)) AS pos
       |  FROM a1),
       |c1 AS (
       |  SELECT sub, cid, list(code ORDER BY pos) AS cvec FROM (
       |    SELECT sub, cid, pos,
       |           CAST(floor(CAST(sum(code) AS DOUBLE) / count(*) + 0.5) AS INTEGER) AS code
       |    FROM px GROUP BY sub, cid, pos)
       |  GROUP BY sub, cid),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT s.vec_id, s.sub, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
       |        list_dot_product(s.svec, s.svec) + list_dot_product(c.cvec, c.cvec)
       |          - 2 * list_dot_product(s.svec, c.cvec), c.cid) AS rn
       |    FROM sv s JOIN c1 c USING (sub)) WHERE rn = 1),
       |$dtCte""".stripMargin
  }

  /** SDC sums are exact integers ranked ascending; ADC merges the
    * reconstructed cosine, rounded to 4dp BEFORE ranking descending
    * (same convention the Spark side uses). */
  private def lookupScoreSql(adc: Boolean): String =
    if (adc) "round(sum(dt.pd) / sqrt(sum(dt.cn)), 4)"
    else "CAST(sum(dt.pd2) AS BIGINT)"

  private def scoreName(adc: Boolean): String = if (adc) "ascore" else "adist2"

  private def scoreOrder(adc: Boolean): String =
    if (adc) "ascore DESC" else "adist2"

  /** DuckDB twin of [[ivfPqKnn]]: the PQ CTE chain + the IVF cell
    * CTEs + SDC shortlist + exact re-rank, each block identical to
    * its standalone oracle. */
  def ivfPqKnnSql(queryMaxId: Long = 10, topK: Int = 5,
                  kCells: Int = 16, nprobe: Int = 4,
                  m: Int = defaultM, k: Int = 16, iters: Int = 2,
                  refine: Int = 8): String =
    ivfPqSql(queryMaxId, topK, kCells, nprobe, m, k, iters, refine, adc = false)

  /** DuckDB twin of [[ivfPqKnnAdcWith]]. */
  def ivfPqKnnAdcSql(queryMaxId: Long = 10, topK: Int = 5,
                     kCells: Int = 16, nprobe: Int = 4,
                     m: Int = defaultM, k: Int = 16, iters: Int = 2,
                     refine: Int = 8): String =
    ivfPqSql(queryMaxId, topK, kCells, nprobe, m, k, iters, refine, adc = true)

  /** DuckDB twin of [[IncrementalIndex.incrIndexKnn]]: the IVF+PQ
    * oracle with codebook/centroid training restricted to the base
    * corpus (vec_id < splitId) — encoding, assignment and search still
    * cover everything, replaying the frozen-index append semantics. */
  def incrIndexKnnSql(splitId: Long = 400, queryMaxId: Long = 10,
                      topK: Int = 5, kCells: Int = 16, nprobe: Int = 4,
                      m: Int = defaultM, k: Int = 16, iters: Int = 2,
                      refine: Int = 8): String =
    ivfPqSql(queryMaxId, topK, kCells, nprobe, m, k, iters, refine,
      adc = false, trainMaxId = Some(splitId))

  private def ivfPqSql(queryMaxId: Long, topK: Int,
                       kCells: Int, nprobe: Int,
                       m: Int, k: Int, iters: Int,
                       refine: Int, adc: Boolean,
                       trainMaxId: Option[Long] = None): String = {
    require(iters == 2, "oracle spells out the iters=2 case")
    def cosSql(a: String, b: String) =
      s"""list_dot_product($a, $b) /
         |             (sqrt(list_dot_product($a, $a)) *
         |              sqrt(list_dot_product($b, $b)))""".stripMargin
    val centSrc = trainMaxId.map(t => s"hashed WHERE vec_id < $t")
      .getOrElse("hashed")
    s"""WITH ${pqBaseCtes(queryMaxId, m, k, adc, trainMaxId)},
       |hashed AS (
       |  SELECT vec_id, embedding,
       |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM embeddings),
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
       |         embedding AS c_emb
       |  FROM $centSrc ORDER BY h, vec_id LIMIT $kCells),
       |cellrank AS (
       |  SELECT e.vec_id, e.cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cents c) e
       |  WHERE e.rn = 1),
       |proberank AS (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c
       |  WHERE e.vec_id < $queryMaxId),
       |cand AS (
       |  SELECT p.vec_id AS query_id, a.vec_id
       |  FROM (SELECT vec_id, cell FROM proberank WHERE rn <= $nprobe) p
       |  JOIN cellrank a ON a.cell = p.cell AND a.vec_id <> p.vec_id),
       |sdc AS (
       |  SELECT cand.query_id, cand.vec_id,
       |         ${lookupScoreSql(adc)} AS ${scoreName(adc)}
       |  FROM cand
       |  JOIN codes ON codes.vec_id = cand.vec_id
       |  JOIN dt ON dt.query_id = cand.query_id
       |         AND dt.sub = codes.sub AND dt.code = codes.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY ${scoreOrder(adc)}, vec_id) AS arank
       |    FROM sdc) WHERE arank <= ${topK * refine}),
       |exact AS (
       |  SELECT short.query_id, short.vec_id,
       |         round(list_dot_product(qe.embedding, ce.embedding) /
       |               (sqrt(list_dot_product(qe.embedding, qe.embedding)) *
       |                sqrt(list_dot_product(ce.embedding, ce.embedding))), 4) AS cos_sim
       |  FROM short
       |  JOIN embeddings qe ON qe.vec_id = short.query_id
       |  JOIN embeddings ce ON ce.vec_id = short.vec_id)
       |SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM exact) WHERE rank <= $topK""".stripMargin
  }

  /** DuckDB twin of [[ivfPqResKnn]]: the ivfPq cell CTEs + the
    * fixed-point cell-mean anchors + a residual corpus CTE feeding
    * the SHARED PQ train/encode chain ([[pqBaseCtes]] with
    * `source = res`) + the per-(query, probed cell) residual lookup
    * tables + the cell-keyed shortlist join + the standard exact
    * re-rank. Anchor sums are exact integers (any order), residuals
    * are CAST(double − anchor AS FLOAT) — the same one-IEEE-rounding
    * arithmetic the Spark side's zip_with performs. res/cellrank/
    * anchors are MATERIALIZED: the PQ chain references the residual
    * corpus three times (seed, assign, encode) and each reference
    * would otherwise re-expand the kCells cross-join underneath. */
  def ivfPqResKnnSql(queryMaxId: Long = 10, topK: Int = 5,
                     kCells: Int = 16, nprobe: Int = 4,
                     m: Int = defaultM, k: Int = 16, iters: Int = 2,
                     refine: Int = 8): String = {
    require(iters == 2, "oracle spells out the iters=2 case")
    def cosSql(a: String, b: String) =
      s"""list_dot_product($a, $b) /
         |             (sqrt(list_dot_product($a, $a)) *
         |              sqrt(list_dot_product($b, $b)))""".stripMargin
    def residSql(a: String, b: String) =
      s"""list_transform(range(1, len($a) + 1),
         |           i -> CAST(CAST($a[i] AS DOUBLE) -
         |                     CAST($b[i] AS DOUBLE) AS FLOAT))""".stripMargin
    val dtRes =
      s"""qres AS (
         |  SELECT p.vec_id AS query_id, p.cell,
         |         ${qvecFixedSql(residSql("e.embedding", "am.a_emb"))} AS qvec
         |  FROM (SELECT vec_id, cell FROM proberank WHERE rn <= $nprobe) p
         |  JOIN embeddings e ON e.vec_id = p.vec_id
         |  JOIN amap am USING (cell)
         |  CROSS JOIN gs),
         |qsv AS (
         |  SELECT query_id, cell, j.sub,
         |         qvec[j.sub * (len(qvec) // $m) + 1 :
         |              j.sub * (len(qvec) // $m) + (len(qvec) // $m)] AS svec
         |  FROM qres CROSS JOIN (SELECT unnest(range(0, $m)) AS sub) j),
         |dt AS MATERIALIZED (
         |  SELECT s.query_id, s.cell, s.sub, c.cid AS code,
         |         list_dot_product(s.svec, s.svec) + list_dot_product(c.cvec, c.cvec)
         |           - 2 * list_dot_product(s.svec, c.cvec) AS pd2
         |  FROM qsv s JOIN c1 c USING (sub))""".stripMargin
    s"""WITH hashed AS (
       |  SELECT vec_id, embedding,
       |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM embeddings),
       |cents AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
       |         embedding AS c_emb
       |  FROM hashed ORDER BY h, vec_id LIMIT $kCells),
       |cellrank AS MATERIALIZED (
       |  SELECT e.vec_id, e.cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cents c) e
       |  WHERE e.rn = 1),
       |proberank AS MATERIALIZED (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c
       |  WHERE e.vec_id < $queryMaxId),
       |anchors AS MATERIALIZED (
       |  SELECT cell, pos,
       |         floor(CAST(CAST(sum(xi) AS BIGINT) AS DOUBLE) / count(*))
       |           / 1048576.0 AS a
       |  FROM (
       |    SELECT a.cell,
       |           unnest(range(1, len(e.embedding) + 1)) AS pos,
       |           unnest(list_transform(e.embedding,
       |             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
       |                       AS BIGINT))) AS xi
       |    FROM cellrank a JOIN embeddings e ON e.vec_id = a.vec_id)
       |  GROUP BY 1, 2),
       |amap AS MATERIALIZED (
       |  SELECT cell, list(a ORDER BY pos) AS a_emb FROM anchors GROUP BY cell),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id,
       |         ${residSql("e.embedding", "am.a_emb")} AS embedding
       |  FROM cellrank a
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN amap am USING (cell)),
       |${pqBaseCtes(queryMaxId, m, k, adc = false, source = "res",
                     dtOverride = Some(dtRes), fixedScale = true)},
       |cand AS (
       |  SELECT p.vec_id AS query_id, p.cell, a.vec_id
       |  FROM (SELECT vec_id, cell FROM proberank WHERE rn <= $nprobe) p
       |  JOIN cellrank a ON a.cell = p.cell AND a.vec_id <> p.vec_id),
       |sdc AS (
       |  SELECT cand.query_id, cand.vec_id,
       |         CAST(sum(dt.pd2) AS BIGINT) AS adist2
       |  FROM cand
       |  JOIN codes ON codes.vec_id = cand.vec_id
       |  JOIN dt ON dt.query_id = cand.query_id AND dt.cell = cand.cell
       |         AND dt.sub = codes.sub AND dt.code = codes.code
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adist2, vec_id) AS arank
       |    FROM sdc) WHERE arank <= ${topK * refine}),
       |exact AS (
       |  SELECT short.query_id, short.vec_id,
       |         round(list_dot_product(qe.embedding, ce.embedding) /
       |               (sqrt(list_dot_product(qe.embedding, qe.embedding)) *
       |                sqrt(list_dot_product(ce.embedding, ce.embedding))), 4) AS cos_sim
       |  FROM short
       |  JOIN embeddings qe ON qe.vec_id = short.query_id
       |  JOIN embeddings ce ON ce.vec_id = short.vec_id)
       |SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT query_id, vec_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos_sim DESC, vec_id) AS rank
       |  FROM exact) WHERE rank <= $topK""".stripMargin
  }

  /** DuckDB twin of [[pqKnn]] (iters=2 spelled out, like
    * [[KMeans.assignSql]]). */
  def pqKnnSql(queryMaxId: Long = 10, topK: Int = 5, m: Int = defaultM,
               k: Int = 16, iters: Int = 2): String =
    pqSql(queryMaxId, topK, m, k, iters, adc = false)

  /** DuckDB twin of [[pqKnnAdc]]. */
  def pqKnnAdcSql(queryMaxId: Long = 10, topK: Int = 5, m: Int = defaultM,
                  k: Int = 16, iters: Int = 2): String =
    pqSql(queryMaxId, topK, m, k, iters, adc = true)

  private def pqSql(queryMaxId: Long, topK: Int, m: Int,
                    k: Int, iters: Int, adc: Boolean): String = {
    require(iters == 2, "oracle spells out the iters=2 case")
    s"""WITH ${pqBaseCtes(queryMaxId, m, k, adc)},
       |scored AS MATERIALIZED (
       |  SELECT dt.query_id, codes.vec_id,
       |         ${lookupScoreSql(adc)} AS ${scoreName(adc)}
       |  FROM codes JOIN dt USING (sub, code)
       |  WHERE codes.vec_id <> dt.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, vec_id, ${scoreName(adc)}, rank FROM (
       |  SELECT query_id, vec_id, ${scoreName(adc)},
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY ${scoreOrder(adc)}, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $topK""".stripMargin
  }
}
