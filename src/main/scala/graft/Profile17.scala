package graft

import org.apache.spark.sql.functions._

/** r17 optimization-round measurement harness (not driver-facing) —
  * phase-level timings inside this round's target queries, in the
  * per-phase profiling mold. Arms: `pr` (pagerank internals), `opq`
  * (opqRecall legs), `annr` (annRecall legs), `hybrid` (hybridIncr
  * tower builds), `curatef` (batch full-funnel stages). */
object Profile17 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.sessionBuilder(Engine.envCores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def t(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[p17] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.range(10000).groupBy(expr("id % 7")).count()
      .write.format("noop").mode("overwrite").save()

    val what = args.headOption.getOrElse("all")
    // warm the relevant pipelines off the clock
    if (what == "pr" || what == "all")
      noop(SparkEntry.queries("q_pagerank")(spark, sfDir))
    if (what == "opq" || what == "annr" || what == "all")
      noop(SparkEntry.queries("q_pq_knn")(spark, sfDir))
    if (what == "hybrid" || what == "all")
      noop(SparkEntry.queries("q_incr_bm25")(spark, sfDir))

    for (rep <- 1 to 2) {
      println(s"--- rep $rep ---")
      if (what == "all" || what == "pr") {
        val orders = Tables.orders(spark, sfDir)
        val lineitem = Tables.lineitem(spark, sfDir)
        var pairs: org.apache.spark.sql.DataFrame = null
        t("pr.pairs ckpt") {
          pairs = graft.operators.PageRank.weightedPairs(orders, lineitem)
            .localCheckpoint()
        }
        var edges: org.apache.spark.sql.DataFrame = null
        var nodes: org.apache.spark.sql.DataFrame = null
        t("pr.edges ckpt") {
          val fwd = pairs.select(concat(lit("c:"), col("c")).as("src"),
            concat(lit("s:"), col("s")).as("dst"), col("w"))
          val rev = pairs.select(concat(lit("s:"), col("s")).as("src"),
            concat(lit("c:"), col("c")).as("dst"), col("w"))
          val und = fwd.unionAll(rev)
          val outw = und.groupBy("src").agg(sum("w").as("ow"))
          edges = und.join(outw, "src").localCheckpoint()
        }
        t("pr.nodes ckpt") {
          nodes = edges.select(col("src").as("node")).distinct()
            .localCheckpoint()
        }
        t("pr.count") { nodes.count() }
        t("pr.5 iters (lazy, one action)") {
          var ranks = nodes.select(col("node"), lit(1000L).as("pr"))
          for (_ <- 1 to 5) {
            ranks = edges.join(broadcast(ranks), col("src") === col("node"))
              .select(col("dst"), expr("pr * w div ow").as("cb"))
              .groupBy("dst").agg(sum("cb").as("cs"))
              .select(col("dst").as("node"), col("cs"))
              .select(col("node"), (lit(100L) + expr("(85 * cs) div 100")).as("pr"))
          }
          noop(ranks)
        }
        t("pr.full q_pagerank") {
          noop(SparkEntry.queries("q_pagerank")(spark, sfDir))
        }
      }
      if (what == "all" || what == "opq") {
        val embs = Tables.embeddings(spark, sfDir)
        t("opq.brute ckpt") {
          noop(graft.ann.Similarity.knnBrute(embs, 50, 5))
        }
        t("opq.permute-allocation collect") {
          noop(graft.ann.Opq.permute(embs).limit(1))
        }
        t("opq.full q_opq_recall") {
          noop(SparkEntry.queries("q_opq_recall")(spark, sfDir))
        }
      }
      if (what == "all" || what == "annr") {
        val embs = Tables.embeddings(spark, sfDir)
        t("annr.brute") { noop(graft.ann.Similarity.knnBrute(embs, 10, 5)) }
        t("annr.pq codebook+codes ckpt") {
          val cb = graft.ann.Pq.codebooks(embs).localCheckpoint()
          graft.ann.Pq.encodeWith(embs, cb, graft.ann.Pq.defaultM)
            .localCheckpoint()
        }
        t("annr.lsh sigs ckpt") {
          graft.ann.Similarity.withLshBandSignatures(embs, 64, 12, 6)
            .localCheckpoint()
        }
        t("annr.full q_ann_recall") {
          noop(SparkEntry.queries("q_ann_recall")(spark, sfDir))
        }
      }
      if (what == "all" || what == "hybrid") {
        val docs = Tables.documents(spark, sfDir)
        val embs = Tables.embeddings(spark, sfDir)
        t("hy.sparse build+append ckpt") {
          val sp0 = graft.text.SparseIndex.append(
            graft.text.SparseIndex.build(docs.filter(col("doc_id") < 250)),
            docs.filter(col("doc_id") >= 250))
          sp0.postings.localCheckpoint(); sp0.df.localCheckpoint()
          sp0.stats.localCheckpoint()
        }
        t("hy.dense build+append ckpt") {
          val dn0 = graft.ann.IncrementalIndex.append(
            graft.ann.IncrementalIndex.build(
              embs.filter(col("vec_id") < 250)),
            embs.filter(col("vec_id") >= 250))
          dn0.codes.localCheckpoint(); dn0.cells.localCheckpoint()
        }
        t("hy.full q_hybrid_incr") {
          noop(SparkEntry.queries("q_hybrid_incr")(spark, sfDir))
        }
      }
      if (what == "md5ab") {
        val docs = Tables.documents(spark, sfDir)
        val scrub = graft.dedup.SpanScrub.spanScrubFp(docs)
          .select(col("doc_id"), col("text_clean").as("text"),
            length(col("text_clean")).cast("long").as("n_chars"))
        def scored = Tables.spread(scrub)
          .withColumn("quality_pm", graft.text.TextAnalysis.qualityExpr)
          .withColumn("lang_pred", graft.text.TextAnalysis.langPred)
          .filter(col("quality_pm") >= 600 &&
            col("lang_pred").isin("en", "de"))
        var a: org.apache.spark.sql.DataFrame = null
        var b: org.apache.spark.sql.DataFrame = null
        t("md5A.window rn=1 -> ckpt") {
          val wMd5 = org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
          a = scored.withColumn("__rn", row_number().over(wMd5))
            .filter(col("__rn") === 1).drop("__rn").localCheckpoint()
        }
        t("md5B.gate-ckpt + winners semi-join -> ckpt") {
          val gatedCkpt = scored.localCheckpoint()
          val winners = gatedCkpt
            .groupBy(md5(col("text")).as("__h"))
            .agg(min(col("doc_id")).as("doc_id"))
            .select(col("doc_id"))
          b = gatedCkpt.join(winners, Seq("doc_id"), "left_semi")
            .localCheckpoint()
        }
        var c: org.apache.spark.sql.DataFrame = null
        t("md5C.min-struct hash agg -> ckpt") {
          c = scored
            .groupBy(md5(col("text")).as("__h"))
            .agg(min(struct(col("doc_id"), col("text"), col("n_chars"),
              col("quality_pm"), col("lang_pred"))).as("r"))
            .select(col("r.doc_id"), col("r.text"), col("r.n_chars"),
              col("r.quality_pm"), col("r.lang_pred"))
            .localCheckpoint()
        }
        println(s"[p17] md5 equal: ${a.exceptAll(b).count()} ${b.exceptAll(a).count()}")
        val aN = a.select(c.columns.map(col).toIndexedSeq: _*)
        println(s"[p17] md5C equal: ${aN.exceptAll(c).count()} ${c.exceptAll(aN).count()}")
      }
      if (what == "all" || what == "curatef") {
        val docs = Tables.documents(spark, sfDir)
        var scrub: org.apache.spark.sql.DataFrame = null
        t("cfl.scrubFp (noop)") {
          scrub = graft.dedup.SpanScrub.spanScrubFp(docs)
            .select(col("doc_id"), col("text_clean").as("text"),
              length(col("text_clean")).cast("long").as("n_chars"))
          noop(scrub)
        }
        var exact: org.apache.spark.sql.DataFrame = null
        t("cfl.gate+md5 ckpt (on scrub)") {
          val scored = Tables.spread(scrub)
            .withColumn("quality_pm", graft.text.TextAnalysis.qualityExpr)
            .withColumn("lang_pred", graft.text.TextAnalysis.langPred)
          val gated = scored.filter(col("quality_pm") >= 600 &&
            col("lang_pred").isin("en", "de"))
          val wMd5 = org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
          exact = gated.withColumn("__rn", row_number().over(wMd5))
            .filter(col("__rn") === 1).drop("__rn").localCheckpoint()
        }
        t("cfl.dropsBest(exact)") {
          noop(graft.dedup.Clusters.dropsBest(exact))
        }
        t("cfl.full q_curate_full") {
          noop(SparkEntry.queries("q_curate_full")(spark, sfDir))
        }
      }
    }
    spark.stop()
  }
}
