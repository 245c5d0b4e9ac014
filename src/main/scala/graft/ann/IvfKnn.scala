package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors.
  *
  * The corpus is partitioned into `kCells` Voronoi cells around centroid
  * vectors; a query probes only its `nprobe` nearest cells, so the exact
  * cosine work drops from |corpus| to ~|corpus|·nprobe/kCells per query.
  * This is the same shape as [[Similarity.lshKnn]] with learned cell
  * keys instead of hyperplane signs — at 100 TB the cell assignment is
  * computed once at ingest and stored as a partition/bucket column, so
  * probing IS partition pruning.
  *
  * Centroids here are a deterministic hash-spread sample of the corpus
  * (collect of kCells rows — bounded driver metadata, the legitimate
  * exception to no-driver-loops). A production pipeline would refine
  * them with offline k-means; sampled centroids keep this reproducible
  * run-to-run and engine-independent.
  */
object IvfKnn {

  /** kCells deterministic centroids: the rows with the smallest
    * md5-derived 60-bit hash of vec_id — hash-spread, stable across runs
    * and partitionings. md5 (not xxhash64) because it is the one hash
    * DuckDB shares, which makes the whole IVF pipeline oracle-checkable:
    * hex digits 1-15 → bigint is `conv(...,16,10)` here and
    * `('0x' || substr(...))::BIGINT` there, bit-identical. */
  def centroidHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  def centroids(embs: DataFrame, kCells: Int): Array[Array[Float]] =
    embs.select(col("vec_id"), col("embedding"))
      .orderBy(centroidHash(col("vec_id")), col("vec_id"))
      .limit(kCells)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Ranked cells for a vector, nearest first. */
  private[ann] def rankedCells(emb: Array[Float], cents: Array[Array[Float]]): Array[Int] =
    cents.indices.toArray.sortBy(c => -cosineLocal(emb, cents(c)))

  /** Corpus rows with their cell id (argmax-cosine centroid). */
  def assign(embs: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) => (id, emb, rankedCells(emb, cents)(0)) }
      .toDF("vec_id", "embedding", "cell")
  }

  /** ANN search: queries probe their nprobe nearest cells only.
    * Output matches [[Similarity.knnBrute]]: query_id, vec_id, cos_sim,
    * rank. Recall < 1 by construction (rows-only driver check). */
  def ivfKnn(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5,
             kCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = centroids(embs, kCells)
    val assigned = assign(embs, cents)
    val queries = embs.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        rankedCells(emb, cents).take(nprobe).map(c => (id, emb, c))
      }
      .toDF("query_id", "q_emb", "cell")
    val scored = broadcast(queries)
      .join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("q_emb"), col("embedding")) /
          (sqrt(Similarity.dot(col("q_emb"), col("q_emb"))) *
            sqrt(Similarity.dot(col("embedding"), col("embedding")))), 4)
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB oracle for [[ivfKnn]]. Centroid choice, cell assignment and
    * probing replay the exact engine arithmetic: the centroid hash is the
    * shared md5-bigint; cell ranking orders by the UNROUNDED cosine
    * (both engines widen float elements exactly and accumulate the dot
    * product left-to-right in double, so the ordering is bit-identical —
    * same property [[Similarity.lshKnnSql]] relies on for hyperplane
    * signs), ties broken by cell index, matching the stable sortBy in
    * [[rankedCells]]. */
  /** Recall-vs-nprobe tuning curve: the same index searched at each
    * probe width, measured against the exact brute baseline — the
    * evidence behind "nprobe is the recall/cost knob". At
    * nprobe = kCells the probe set is every cell and recall must hit
    * 1.0 (the curve's built-in sanity anchor, spec-gated); production
    * picks the smallest nprobe meeting its recall SLO, and shares one
    * trained index across the sweep via the [[IncrementalIndex]]
    * artifacts (here each point re-derives the md5-seeded centroid
    * pick — cheap by construction, and it keeps every point the exact
    * query the standalone q_ivf_knn oracle pins). */
  def recallCurve(embs: DataFrame, queryMaxId: Long = 10, k: Int = 5,
                  kCells: Int = 16,
                  probes: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    val brute = graft.ann.Similarity.knnBrute(embs, queryMaxId, k)
      .select(col("query_id"), col("vec_id")).localCheckpoint()
    Similarity.recallTally(brute, "nprobe",
      probes.map(np => np -> ivfKnn(embs, queryMaxId, k, kCells, np)))
  }

  def recallCurveSql(queryMaxId: Long = 10, k: Int = 5, kCells: Int = 16,
                     probes: Seq[Int] = Seq(2, 4, 8, 16)): String = {
    val cte = probes.map(np =>
      s"m_np$np AS (\n${ivfKnnSql(queryMaxId, k, kCells, np)}\n)").mkString(",\n")
    val rows = probes.map(np =>
      s"""SELECT $np AS nprobe, count(*) AS n_hits FROM m_np$np a
         |    JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id"""
        .stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH brute AS MATERIALIZED (
       |${graft.ann.Similarity.knnBruteSql(queryMaxId, k)}
       |),
       |$cte,
       |hits AS (
       |  $rows),
       |poss AS (SELECT count(*) AS n_possible FROM brute)
       |SELECT CAST(nprobe AS INT) AS nprobe, n_hits, n_possible,
       |       round(CAST(n_hits AS DOUBLE) / n_possible, 4) AS recall
       |FROM hits CROSS JOIN poss""".stripMargin
  }

  def ivfKnnSql(queryMaxId: Long = 10, k: Int = 5,
                kCells: Int = 16, nprobe: Int = 4): String = {
    def cosSql(a: String, b: String) =
      s"""list_dot_product($a, $b) /
         |             (sqrt(list_dot_product($a, $a)) *
         |              sqrt(list_dot_product($b, $b)))""".stripMargin
    s"""WITH hashed AS (
       |  SELECT vec_id, embedding,
       |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM embeddings),
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
       |         embedding AS c_emb
       |  FROM hashed ORDER BY h, vec_id LIMIT $kCells),
       |cellrank AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM cellrank WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, cell
       |  FROM cellrank WHERE vec_id < $queryMaxId AND rn <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         round(${cosSql("p.q_emb", "a.embedding")}, 4) AS cos_sim
       |  FROM probes p JOIN assigned a
       |    ON a.cell = p.cell AND a.vec_id <> p.query_id),
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
