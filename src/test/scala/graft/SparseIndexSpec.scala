package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.{CorpusStats, SparseIndex}

/** Incremental BM25 index: build + append must be EXACTLY the batch
  * index (every piece of BM25 state is a monoid), and the executed
  * append plan must tokenize only the arriving shard. */
class SparseIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def corpus: org.apache.spark.sql.DataFrame = Seq(
    (0L, "spark join window hash spark"),
    (1L, "join join filler window"),
    (2L, "hash hash hash spark window join"),
    (3L, "unrelated words only here"),
    (4L, "spark window"),
    (5L, "hash join spark")).toDF("doc_id", "text")

  test("incremental build+append ≡ batch bm25, row for row") {
    val incr = SparseIndex.incrBm25(corpus, splitId = 3)
      .as[(Long, Double, Int)].collect().toSeq
    val batch = CorpusStats.bm25(corpus)
      .as[(Long, Double, Int)].collect().toSeq
    assert(incr == batch && incr.nonEmpty, s"incr=$incr batch=$batch")
  }

  test("merged df and stats equal batch-derived values") {
    val idx = SparseIndex.append(
      SparseIndex.build(corpus.filter($"doc_id" < 3)),
      corpus.filter($"doc_id" >= 3))
    val df = idx.df.as[(String, Long)].collect().toMap
    assert(df("spark") == 4L && df("join") == 4L && df("hash") == 3L &&
      df("window") == 4L && df("unrelated") == 1L, df.toString)
    val st = idx.stats.as[(Long, Long)].head()
    assert(st == ((6L, 5L + 4L + 6L + 4L + 2L + 3L)), st.toString)
  }

  test("streaming micro-batches append through foreachBatch; search ≡ batch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    var idx = SparseIndex.build(corpus.filter($"doc_id" < 2))
    val arriving = corpus.filter($"doc_id" >= 2)
      .as[(Long, String)].collect()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // each micro-batch merges in; checkpoint = the index-store write
        val g = SparseIndex.append(idx, batch)
        idx = SparseIndex.Index(g.postings.localCheckpoint(),
          g.df.localCheckpoint(), g.stats.localCheckpoint(),
          g.docIds.localCheckpoint())
      }
      .start()
    try {
      val (b1, b2) = arriving.splitAt(2)
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val incr = SparseIndex.search(idx, Seq("spark", "join", "window", "hash"))
      .as[(Long, Double, Int)].collect().toSeq
    val batch = CorpusStats.bm25(corpus).as[(Long, Double, Int)].collect().toSeq
    assert(incr == batch && incr.nonEmpty, s"incr=$incr batch=$batch")
  }

  test("appendIdempotent: a replayed shard is a no-op, scores unchanged") {
    val shard = corpus.filter($"doc_id" >= 3)
    val once = SparseIndex.append(SparseIndex.build(corpus.filter($"doc_id" < 3)), shard)
    // replay the SAME shard through the idempotent path
    val replayed = SparseIndex.appendIdempotent(once, shard)
    assert(replayed.postings.count() == once.postings.count())
    assert(replayed.stats.as[(Long, Long)].head() ==
      once.stats.as[(Long, Long)].head())
    val a = SparseIndex.search(replayed, Seq("spark", "join", "window", "hash"))
      .as[(Long, Double, Int)].collect().toSeq
    val b = SparseIndex.search(once, Seq("spark", "join", "window", "hash"))
      .as[(Long, Double, Int)].collect().toSeq
    assert(a == b && a.nonEmpty)
    // while a genuinely-new doc still gets through the guard
    val grown = SparseIndex.appendIdempotent(once,
      Seq((99L, "spark spark")).toDF("doc_id", "text"))
    assert(grown.docIds.count() == once.docIds.count() + 1)
  }

  test("tokenizeNative (the r15 native run-length arm) equals the production relational tf; zero Exchange, zero HashAggregate") {
    import org.apache.spark.sql.functions._
    // adversarial shapes: heavy repeats, singletons, unicode tokens,
    // an empty doc (must vanish), a one-token doc, null text
    val rows = (0L until 200L).map { i =>
      val t = (i % 6) match {
        case 0 => "a a a b b c"
        case 1 => (0 until 30).map(j => s"w${(i + j) % 7}").mkString(" ")
        case 2 => ""
        case 3 => "solo"
        case 4 => null
        case _ => s"héllo wörld héllo $i zz zz zz"
      }
      (i, t)
    }
    val work = java.nio.file.Files.createTempDirectory("nativetf").toString
    rows.toDF("doc_id", "text").write.parquet(s"$work/d")
    val d = spark.read.parquet(s"$work/d")
    val native = SparseIndex.tokenizeNative(d)
    val relational = SparseIndex.tokenizeRelational(d)
    assert(native.columns.toSeq == relational.columns.toSeq)
    assert(native.collect().toSet == relational.collect().toSet)
    // empty and null docs produced no rows in either form
    assert(native.filter(col("doc_id").isin(2L, 4L)).count() == 0)
    // postings are born collapsed: no Exchange, no aggregate at all
    native.queryExecution.toRdd.count()
    val plan = native.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"),
      s"native tf not map-side-only:\n$plan")
    // ws feeds BOTH size() and token_tfs(): CollapseProject must keep
    // the multiply-referenced non-cheap regex in its own Project —
    // exactly ONE regexp_extract_all in the executed plan (the
    // repetitionSignals nRegex gate, applied to the tokenizer)
    val nRegex = "regexp_extract_all".r.findAllIn(plan).size
    assert(nRegex == 1, s"native tokenize evaluates the regex $nRegex times")
    // postingsFromBase twin over a pinned ws frame
    val base = d.select(col("doc_id"),
      expr("regexp_extract_all(text, '\\\\S+', 0)").as("ws"))
      .localCheckpoint()
    assert(SparseIndex.postingsFromBaseNative(base).collect().toSet ==
      SparseIndex.postingsFromBaseRelational(base).collect().toSet)
  }

  test("executed append plan tokenizes the shard only") {
    val idx = SparseIndex.build(corpus.filter($"doc_id" < 3))
    val grown = SparseIndex.append(idx, corpus.filter($"doc_id" >= 3))
    grown.postings.queryExecution.toRdd.count() // EXECUTED, not planned
    // AQE prints Final + Initial plans; gate the FINAL one only
    val plan = grown.postings.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // base postings re-read from the checkpoint artifact…
    assert(plan.contains("ExistingRDD") || plan.contains("LocalTableScan"),
      s"base not read from artifact:\n$plan")
    // …so exactly one tokenization subtree (the shard's) may appear
    val gens = plan.linesIterator.count(_.contains("Generate explode"))
    assert(gens == 1, s"expected 1 tokenization, got $gens:\n$plan")
  }
}
