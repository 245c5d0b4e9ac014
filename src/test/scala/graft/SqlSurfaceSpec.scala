package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-SQL client surface: corpus tables as views + graft SQL
  * functions on a running session — no DataFrame code. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("registerViews exposes tables and graft functions to spark.sql") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val rev = spark.sql(
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS rev
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY rev DESC LIMIT 3""".stripMargin).collect()
    assert(rev.length == 3 && rev.head.getDouble(1) > 0)
    // events view has the converted timestamp
    val n = spark.sql(
      "SELECT count(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'")
      .head().getLong(0)
    assert(n > 0)
    // native expressions callable from SQL
    val d = spark.sql(
      """SELECT dot_product_f(a.embedding, b.embedding) AS d
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |LIMIT 1""".stripMargin).collect()
    assert(d.length == 1)
    val u = spark.sql(
      "SELECT hll_estimate(hll_sketch(vec_id)) FROM embeddings")
      .head().getLong(0)
    assert(u > 0)
    // quantize_codes struct output usable inline
    val qc = spark.sql(
      "SELECT quantize_codes(embedding).scale AS s FROM embeddings LIMIT 1")
      .head().getDouble(0)
    assert(qc > 0)
    // one-pass text expressions from SQL, constants as literals
    val sh = spark.sql("SELECT char_shingles('abab', 2) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("ab", "ba"))
    val wf = spark.sql(
      "SELECT size(winnow_fps(text, 5, 16, 257L, 1000003L)) AS n " +
      "FROM documents LIMIT 1").head().getInt(0)
    assert(wf > 0)
    val mh = spark.sql(
      "SELECT minhash_sigs(text, 4) AS s FROM documents LIMIT 1")
      .head().getSeq[Long](0)
    assert(mh.size == graft.dedup.Dedup.numHashes && mh.forall(_ >= 0L))
  }

  test("every graft SQL function resolves on a fresh session without late registration") {
    val expected = Seq("dot_product_f", "dot_product_i", "quantize_codes",
      "hll_sketch", "hll_merge", "hll_estimate", "cm_sketch", "cm_merge",
      "cm_estimate", "cm_inner", "q_sketch", "q_sketch_merge",
      "q_sketch_quantile", "hll_sketch_r", "q_sketch_r", "char_shingles",
      "winnow_fps", "gram_fps", "minhash_sigs")
    assert(graft.functions.GraftExtensions.functions.map(_._1).sorted == expected.sorted)
    // a new session shares the builder's extensions but none of the
    // suite session's late registrations (registerViews, registerAll)
    val fresh = spark.newSession()
    val missing = expected.filterNot(n => fresh.catalog.functionExists(n))
    assert(missing.isEmpty, s"not registered at session build: $missing")
    val mh = fresh.sql("SELECT minhash_sigs('the quick brown fox', 4) AS s")
      .head().getSeq[Long](0)
    assert(mh.size == graft.dedup.Dedup.numHashes)
  }
}
