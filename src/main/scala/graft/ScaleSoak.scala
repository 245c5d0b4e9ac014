package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured crossover soak for the engine's size-gated paths — the
  * round-9 answer to "the scale story rests on gates sf0.1 never
  * triggers organically". Each family generates inputs that straddle
  * its gate's default threshold and times BOTH paths at each size, so
  * the crossover is a measurement, not a design assumption. Results
  * are recorded in SCALING.md; thresholds get re-tuned when the
  * measured crossover disagrees with the default.
  *
  * Families:
  *  - `pagerank` — rank-side broadcast vs shuffle join across node
  *    counts around [[graft.operators.PageRank.DefaultBroadcastMaxNodes]]
  *  - `cc` — driver union-find vs distributed min-label across edge
  *    counts around [[graft.dedup.Clusters.smallGraphEdges]]
  *  - `salt` — salted vs plain exact count-distinct on a one-hot-key
  *    skewed table ([[graft.operators.Skew.saltedCountDistinct]])
  *  - `kmeans` — SemDeDup pair-join cost at [[graft.ann.KMeans.autoK]]
  *    vs a fixed small k on a 10× corpus (the bounded-cluster-size
  *    claim)
  *
  * Usage: runMain graft.ScaleSoak [family ...] (default: all)
  * Prints one line per measurement: family size path seconds.
  */
object ScaleSoak {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** A path legitimately dying at a size (broadcast OOM, driver
    * collect blowup) is a FINDING, not a soak failure — report and
    * keep measuring. */
  private def timed(family: String, size: String, path: String)
                   (f: => Unit): Unit =
    try report(family, size, path, time(f))
    catch { case e: Throwable =>
      println(s"[soak] $family $size $path FAILED: " +
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
    }

  private def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def report(family: String, size: String, path: String,
                     sec: Double): Unit =
    println(f"[soak] $family%-9s $size%-12s $path%-10s $sec%8.2f s")

  /** (c, s, w) pair table with ~n/2 customer and n/2 supplier nodes,
    * 2n weighted edges, mildly skewed degree (modular arithmetic). */
  private def pairTable(spark: SparkSession, n: Long): DataFrame =
    spark.range(2 * n).select(
      (col("id") % (n / 2)).as("c"),
      ((col("id") * 31 + 7) % (n / 2)).as("s"),
      (col("id") % 5 + 1).as("w"))
      .groupBy("c", "s").agg(sum("w").as("w"))
      .localCheckpoint()

  def pagerank(spark: SparkSession, sizes: Seq[Long]): Unit = {
    // untimed warm pass: JIT + codegen for both paths, smallest scale
    val w = pairTable(spark, 100000L)
    Seq(Long.MaxValue, 0L).foreach(g => sink(
      graft.operators.PageRank.rankFromPairs(w, iters = 2,
        broadcastMaxNodes = g)))
    w.unpersist()
    sizes.foreach { n =>
      val pairs = pairTable(spark, n)
      timed("pagerank", s"n=$n", "broadcast")(
        sink(graft.operators.PageRank.rankFromPairs(
          pairs, iters = 3, broadcastMaxNodes = Long.MaxValue)))
      timed("pagerank", s"n=$n", "shuffle")(
        sink(graft.operators.PageRank.rankFromPairs(
          pairs, iters = 3, broadcastMaxNodes = 0L)))
      pairs.unpersist()
    }
  }

  /** The LSH-candidate regime the CC gate serves: MANY small
    * near-clique components (duplicate clusters of ~5 docs — star
    * edges to the group minimum plus one chain edge), never one giant
    * random component. Diameter ≤ 3, so the distributed loop's round
    * count matches production; what varies with e is pure volume. */
  private def edgeTable(spark: SparkSession, e: Long): DataFrame = {
    val grp = col("id") - (col("id") % 5)
    spark.range(e).select(
      grp.as("a_id"),
      when(col("id") % 5 === 0, col("id") + 1).otherwise(col("id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .localCheckpoint()
  }

  def cc(spark: SparkSession, sizes: Seq[Long]): Unit = {
    val w = edgeTable(spark, 100000L)
    Seq(Long.MaxValue, 0L).foreach(g => sink(
      graft.dedup.Clusters.connectedComponents(w, smallGraphThreshold = g)))
    sink(graft.dedup.Clusters.connectedComponentsStar(w))
    w.unpersist()
    sizes.foreach { e =>
      val edges = edgeTable(spark, e)
      timed("cc", s"e=$e", "unionfind")(
        sink(graft.dedup.Clusters.connectedComponents(
          edges, smallGraphThreshold = Long.MaxValue)))
      timed("cc", s"e=$e", "minlabel")(
        sink(graft.dedup.Clusters.connectedComponents(
          edges, smallGraphThreshold = 0L)))
      timed("cc", s"e=$e", "star")(
        sink(graft.dedup.Clusters.connectedComponentsStar(edges)))
      edges.unpersist()
    }
  }

  /** One hot (window,type) group holding `hotPct`% of all rows; the
    * rest spread over 1000 groups. Distinct users ~ rows/3. */
  private def skewTable(spark: SparkSession, rows: Long,
                        hotPct: Int): DataFrame =
    spark.range(rows).select(
      when(col("id") % 100 < hotPct, lit(0L))
        .otherwise(col("id") % 1000 + 1).as("window_start_ms"),
      lit("click").as("event_type"),
      concat(lit("u"), (col("id") * 2654435761L) % (rows / 3))
        .as("user_id"))
      .localCheckpoint()

  def salt(spark: SparkSession, sizes: Seq[Long]): Unit = {
    val w = skewTable(spark, 500000L, hotPct = 90)
    sink(w.groupBy("window_start_ms", "event_type")
      .agg(countDistinct(col("user_id")).as("u")))
    sink(graft.operators.Skew.saltedCountDistinct(
      w, Seq("window_start_ms", "event_type"), "user_id"))
    w.unpersist()
    sizes.foreach { rows =>
      val ev = skewTable(spark, rows, hotPct = 90)
      timed("salt", s"rows=$rows", "plain")(sink(
        ev.groupBy("window_start_ms", "event_type")
          .agg(countDistinct(col("user_id")).as("u"))))
      timed("salt", s"rows=$rows", "salted")(
        sink(graft.operators.Skew.saltedCountDistinct(
          ev, Seq("window_start_ms", "event_type"), "user_id")))
      ev.unpersist()
    }
  }

  /** Synthetic embedding corpus: n vectors, 64 dims, deterministic. */
  private def embTable(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"), lit("x").as("label"),
      expr("""transform(sequence(0, 63),
             |  j -> CAST(sin(CAST(id * 64 + j AS DOUBLE)) AS FLOAT))"""
        .stripMargin).as("embedding"))
      .localCheckpoint()

  def kmeans(spark: SparkSession, sizes: Seq[Long]): Unit = {
    val w = embTable(spark, 5000L)
    sink(graft.ann.KMeans.semanticDedup(w))
    w.unpersist()
    sizes.foreach { n =>
      val embs = embTable(spark, n)
      val auto = graft.ann.KMeans.autoK(n)
      timed("kmeans", s"n=$n", s"autoK=$auto")(
        sink(graft.ann.KMeans.semanticDedup(embs)))
      val fixedK = math.max(2, auto / 8)
      timed("kmeans", s"n=$n", s"k=$fixedK")(
        sink(graft.ann.KMeans.semanticDedup(embs, k = fixedK)))
      embs.unpersist()
    }
  }

  /** Per-shard wall time of STRICT ingestion over a long shard
    * sequence, with and without store compaction — the measured
    * substance behind the r9 compaction feature: without it the
    * fingerprint/signature stores grow one partition of small files
    * per shard and every fp/sig state read lists and scans
    * O(shards) partitions, so per-shard cost should CLIMB; with
    * `compactEvery` it should stay flat. Reports the mean of the
    * first and last `window` shards for each mode. */
  def ingest(spark: SparkSession, nShards: Int, docsPerShard: Int,
             compactEvery: Option[Long], window: Int = 10): Unit = {
    import graft.streaming.{CurateIngest, Funnel, Store, StoreLayout}
    val tag = compactEvery.fold("raw")(n => s"compact$n")
    val dir = java.nio.file.Files
      .createTempDirectory(s"soak_ingest_$tag").toString
    val times = (0 until nShards).map { i =>
      val base = i.toLong * docsPerShard
      val shard = spark.range(base, base + docsPerShard).select(
        col("id").as("doc_id"),
        concat(
          lit("the cat and the dog walked over a bridge and the sun rose " * 4),
          col("id")).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val t = time {
        CurateIngest.writeShard(shard, i.toLong, dir, Funnel.strict())
        StoreLayout.Flat.tick(spark, dir, Seq(Store.Fp, Store.Kept, Store.Sig),
          i.toLong, compactEvery)
      }
      t
    }
    val head = times.take(window).sum / window
    val tail = times.takeRight(window).sum / window
    report("ingest", s"shards=$nShards", s"$tag-first$window", head)
    report("ingest", s"shards=$nShards", s"$tag-last$window", tail)
  }

  /** r11: per-shard cost of the INCREMENTAL span scrub as the gram
    * store grows — the claim under test is the second-decade finding's
    * counterpart: the streaming form pays the gram exchange only for
    * the arriving shard (never re-sorts history), so per-shard wall
    * must stay flat-ish and SPILL-FREE while the bucketed store grows
    * by one shard's grams per batch (the store side of the probe join
    * is a bucket-aligned scan — sequential read cost, no exchange, no
    * corpus-scale sort). Corpus: ONE docCorpus slice per shard (unique
    * text per shard; planted dup rate size-independent), the bucketed
    * ScrubIngest path with mid-run compactions. */
  def scrubIngest(spark: SparkSession, nShards: Int = 10,
                  docsPerShard: Long = 50000L,
                  compactEvery: Long = 3L): Unit = {
    import graft.streaming.{ScrubIngest, Store, StoreLayout}
    val dir = java.nio.file.Files
      .createTempDirectory("soak_scrubingest").toString
    val prefix = "soakscrub"
    val layout = StoreLayout.Bucketed(prefix)
    Seq("gram").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    try {
      val corpus = docCorpus(spark, nShards * docsPerShard)
      (0 until nShards).foreach { b =>
        val shard = corpus.filter(
          col("doc_id") >= b * docsPerShard &&
            col("doc_id") < (b + 1) * docsPerShard)
        timedSpill(spark, "scrubing", s"shard=$b",
          s"docs=$docsPerShard") {
          ScrubIngest.writeShard(shard, b.toLong, dir, layout)
          layout.tick(spark, dir, Seq(Store.Gram), b.toLong, Some(compactEvery))
        }
      }
      corpus.unpersist()
    } finally spark.sql(s"DROP TABLE IF EXISTS ${prefix}_gram")
  }

  /** r11: per-shard cost of the WHOLE bucketed funnel (6 stages, 4
    * stores — [[graft.streaming.CurateIngest.writeShard]] with
    * [[graft.streaming.Funnel.full]] on the bucketed layout)
    * as every store grows, with the same flatness claim as
    * [[scrubIngest]] extended to the full composition: scrub probe +
    * fp anti-join + sig collision probe all bucket-aligned, only the
    * arriving shard shuffles, compaction append/bucket ticks
    * delta-sized. */
  def fullFunnel(spark: SparkSession, nShards: Int = 8,
                 docsPerShard: Long = 50000L,
                 compactEvery: Long = 3L): Unit = {
    import graft.streaming.{CurateIngest, Funnel, Store, StoreLayout}
    val dir = java.nio.file.Files
      .createTempDirectory("soak_fullfunnel").toString
    val prefix = "soakfull"
    val layout = StoreLayout.Bucketed(prefix)
    def dropTables(): Unit = Seq("gram", "fp", "sig", "kept").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    dropTables()
    try {
      val corpus = docCorpus(spark, nShards * docsPerShard)
      val bench = graft.dedup.Dedup.shingles(
          corpus.filter(col("doc_id") < 20), 8)
        .select(col("sh")).distinct().localCheckpoint()
      val funnel = Funnel.full(bench)
      (0 until nShards).foreach { b =>
        val shard = corpus.filter(
          col("doc_id") >= b * docsPerShard &&
            col("doc_id") < (b + 1) * docsPerShard)
        timedSpill(spark, "fullfun", s"shard=$b",
          s"docs=$docsPerShard") {
          CurateIngest.writeShard(shard, b.toLong, dir, funnel, layout)
          layout.tick(spark, dir, funnel.stores :+ Store.Kept, b.toLong,
            Some(compactEvery))
        }
      }
      corpus.unpersist()
    } finally dropTables()
  }

  /** Synthetic document corpus with CORPUS-REALISTIC duplicate
    * structure for the 10x query probes: filler-dominant bodies (60
    * tokens alternating stopword glue with per-(doc,pos)-unique hex
    * nouns, so inter-doc shingle Jaccard sits at the real-corpus
    * ~0.03, NOT the template-degenerate ~0.9 of the ingest soak's
    * repeated sentence — which would turn LSH candidates quadratic
    * and measure an adversarial corpus, not scale), plus planted
    * structure at a size-independent RATE: 2% near-copies (doc i-1's
    * body + a suffix), 1% exact copies, 10% junk that fails the gate
    * (stopword-free, short — the quality model's negative class). */
  private def docCorpus(spark: SparkSession, n: Long): DataFrame = {
    val bid = when(col("id") % 50 === 1, col("id") - 1)
      .when(col("id") % 100 === 2, col("id") - 2)
      .otherwise(col("id"))
    spark.range(n).withColumn("bid", bid)
      .withColumn("body", expr(
        """concat_ws(' ', transform(sequence(0, 59), p ->
          |  concat(element_at(array('the','and','a','over','the','with'),
          |           CAST(p % 6 AS INT) + 1),
          |    ' w', substr(md5(concat(CAST(bid AS STRING), ':',
          |                            CAST(p AS STRING))), 1, 8))))"""
          .stripMargin))
      .select(col("id").as("doc_id"),
        when(col("id") % 10 === 7,
          concat(lit("zz"), substring(md5(col("id").cast("string")), 1, 12)))
          .when(col("id") % 50 === 1,
            concat(col("body"), lit(" suffix"),
              substring(md5(concat(lit("s"), col("id").cast("string"))), 1, 8)))
          .otherwise(col("body")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
  }

  /** Synthetic embeddings matching the testdata shape (64-dim float,
    * 20 labels for the contamination/blocked variants). */
  private def embCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
             |  j -> CAST(sin(CAST(id * 64 + j AS DOUBLE)) AS FLOAT))"""
        .stripMargin).as("embedding"),
      (col("id") % 20).cast("int").as("label"))
      .localCheckpoint()

  /** r10: time-vs-size exponents for the most expensive bench
    * families — the plan-bug detector the fixed-SF bench cannot see.
    * Each query runs at 1x (the sf0.1 magnitude) and 10x; a healthy
    * plan lands near exponent 1 (linear), n·log n ≈ 1.1; ≥ 1.5 means
    * some stage is quadratic in corpus size and would bury a 100 TB
    * run. Curation loops scale shardSize with n so the SHARD COUNT
    * stays constant (the store-join shape is what's being probed, not
    * the loop length); the graph family's exponents come from the r9
    * pagerank/cc soak (1M-20M nodes), not re-run here. */
  def bench10x(spark: SparkSession, nDocs: Long = 5000L,
               nEmbs: Long = 2000L): Unit = {
    import graft.streaming.CurateIngest
    // warm pass at 1/10 scale: JIT + codegen off the clock
    locally {
      val d = docCorpus(spark, nDocs / 10)
      val e = embCorpus(spark, nEmbs / 10)
      sink(graft.text.Curate.curateFull(d))
      sink(graft.ann.Similarity.annRecall(e))
      d.unpersist(); e.unpersist()
    }
    Seq(1L, 10L).foreach { mult =>
      val nd = nDocs * mult
      val ne = nEmbs * mult
      val d = docCorpus(spark, nd)
      val e = embCorpus(spark, ne)
      timed("bench10x", s"docs=$nd", "curate_full")(
        sink(graft.text.Curate.curateFull(d)))
      timed("bench10x", s"docs=$nd", "curate_scrub")(
        sink(graft.text.Curate.curateScrubbed(d)))
      timed("bench10x", s"docs=$nd", "curate_incr")(
        sink(CurateIngest.incrCurate(d, shardSize = nd / 4, maxId = nd)))
      timed("bench10x", s"docs=$nd", "curate_strict")(
        sink(CurateIngest.incrCurateStrict(d, shardSize = nd / 4,
          maxId = nd)))
      timed("bench10x", s"docs=$nd", "deferred_clusters")(
        sink(CurateIngest.deferredClusters(d, splitId = nd / 2,
          maxId = nd)))
      timed("bench10x", s"docs=$nd,embs=$ne", "hybrid_incr")(
        sink(graft.text.Hybrid.hybridIncr(d, e, splitId = ne / 2)))
      timed("bench10x", s"embs=$ne", "ann_recall")(
        sink(graft.ann.Similarity.annRecall(e)))
      timed("bench10x", s"embs=$ne", "opq_recall")(
        sink(graft.ann.Opq.opqRecall(e)))
      timed("bench10x", s"embs=$ne", "pq_curve")(
        sink(graft.ann.Pq.pqRecallCurve(e)))
      timed("bench10x", s"embs=$ne", "ivfpq_refine")(
        sink(graft.ann.Pq.ivfPqResRefineRecall(e)))
      d.unpersist(); e.unpersist()
    }
  }

  /** r11: the SECOND decade for the byte-touching curation families —
    * 10× (bench10x's upper point) → 100× — where regime changes
    * (shuffle spill, store-join fan-in, state growth) first appear if
    * they are going to. Same corpus generator and shard-count
    * discipline as [[bench10x]]; one warm pass at 1× pays JIT off the
    * clock. */
  def bench100x(spark: SparkSession, nDocs: Long = 5000L): Unit = {
    import graft.streaming.CurateIngest
    locally {
      val d = docCorpus(spark, nDocs)
      sink(graft.text.Curate.curateFull(d))
      d.unpersist()
    }
    Seq(10L, 100L).foreach { mult =>
      val nd = nDocs * mult
      val d = docCorpus(spark, nd)
      timed("bench100x", s"docs=$nd", "curate_full")(
        sink(graft.text.Curate.curateFull(d)))
      timed("bench100x", s"docs=$nd", "curate_scrub")(
        sink(graft.text.Curate.curateScrubbed(d)))
      timed("bench100x", s"docs=$nd", "curate_strict")(
        sink(CurateIngest.incrCurateStrict(d, shardSize = nd / 4,
          maxId = nd)))
      d.unpersist()
    }
  }

  /** Families with a failed [[timedSpill]] body: later rows of the
    * SAME soak family may start from partially-written stores, so they
    * are labeled TAINTED rather than silently reported clean (series
    * conclusions in SCALING.md must come from untainted rows only).
    * Scoped per family (ADVICE r12): a failure in one family must not
    * taint unrelated series with fresh store roots in the same JVM. */
  private var spillTaintedFamilies = Set.empty[String]

  /** Runs `f` with a task-metrics listener attached and reports wall
    * time plus the spill / shuffle bytes the job actually moved — the
    * attribution tool for superlinear soak exponents (a transition
    * into the external-sort spill regime shows up here as spill bytes
    * going 0 → tens of GB between sizes, which no wall clock alone
    * can distinguish from algorithmic superlinearity). */
  private def timedSpill(spark: SparkSession, family: String,
                         size: String, path: String)(f: => Unit): Unit = {
    import java.util.concurrent.atomic.AtomicLong
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val shufW = new AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val sec = time(f)
      // listener bus is async (and private[spark], so no waitUntilEmpty)
      // — poll the counters until two consecutive reads agree (bounded
      // at 10 s) instead of hoping a fixed sleep drained it
      def snap() = (memSpill.get, diskSpill.get, shufW.get)
      var prev = snap()
      var stable = false
      var polls = 0
      while (!stable && polls < 50) {
        Thread.sleep(200); polls += 1
        val cur = snap()
        stable = cur == prev
        prev = cur
      }
      val gb = (b: AtomicLong) => b.get / 1e9
      val taint =
        if (spillTaintedFamilies(family)) " TAINTED(after-failure)" else ""
      println(f"[soak] $family%-9s $size%-12s $path%-10s $sec%8.2f s" +
        f"  shufW=${gb(shufW)}%.1fGB memSpill=${gb(memSpill)}%.1fGB" +
        f" diskSpill=${gb(diskSpill)}%.1fGB" + taint)
    } catch { case e: Throwable =>
      spillTaintedFamilies += family
      println(s"[soak] $family $size $path FAILED" +
        " (subsequent rows of this series are tainted): " +
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** r11: isolate the SpanScrub stage — the one stage unique to the
    * two families the second decade measured superlinear (curate_full
    * 1.24, curate_scrub 1.17 vs curate_strict 0.94). Times the exact
    * substring-key variant and the 8-byte fingerprint variant across
    * the two decades WITH spill attribution ([[timedSpill]]); run
    * under SPARK_GRAFT_INITIAL_PARTITIONS={32,1024} to A/B the AQE
    * pre-coalesce width (A/B verdict: 1024 measured ~1.5× WORSE —
    * see Engine.sessionBuilder scaladoc and SCALING.md). */
  def scrub100x(spark: SparkSession, nDocs: Long = 5000L): Unit = {
    locally {
      val d = docCorpus(spark, nDocs)
      sink(graft.dedup.SpanScrub.spanScrub(d))
      sink(graft.dedup.SpanScrub.spanScrubFp(d))
      d.unpersist()
    }
    Seq(1L, 10L, 100L).foreach { mult =>
      val nd = nDocs * mult
      val d = docCorpus(spark, nd)
      timedSpill(spark, "scrub100x", s"docs=$nd", "scrub_exact")(
        sink(graft.dedup.SpanScrub.spanScrub(d)))
      timedSpill(spark, "scrub100x", s"docs=$nd", "scrub_fp")(
        sink(graft.dedup.SpanScrub.spanScrubFp(d)))
      d.unpersist()
    }
  }

  /** r11: per-batch wall time of the combined topology's SHARED-
    * tokenization processBatch vs the per-leg composition it replaced
    * (gate, classifier counts and postings each re-scanning the
    * batch's text). Same corpus, same shard slicing, fresh store
    * roots per run; modes interleaved (shared, legacy, shared,
    * legacy) so JIT/page-cache warmup cannot favor either side —
    * the reported mean per mode is the min over its two runs. */
  def combinedTok(spark: SparkSession, nShards: Int = 12,
                  docsPerShard: Long = 2000): Unit = {
    import graft.streaming.{ClusterRefresh, CombinedIngest, CurateIngest,
      Funnel, QualityRefresh, Store, StoreLayout}
    import graft.text.SparseIndex
    val corpus = docCorpus(spark, nShards * docsPerShard)
    val shards = (0 until nShards).map { i =>
      corpus.filter(col("doc_id") >= i * docsPerShard &&
        col("doc_id") < (i + 1) * docsPerShard).localCheckpoint()
    }
    def freshDir(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"soak_ctok_$tag").toString
    def sharedRun(): Double = {
      val dir = freshDir("shared")
      val ts = shards.zipWithIndex.map { case (b, i) =>
        time(CombinedIngest.processBatch(b, i.toLong, dir))
      }
      ts.drop(2).sum / (nShards - 2) // first batches pay JIT/codegen
    }
    def legacyRun(): Double = {
      val dir = freshDir("legacy")
      val ts = shards.zipWithIndex.map { case (b, i) =>
        time {
          CurateIngest.writeShard(b, i.toLong, dir, Funnel.strict())
          val sigB = Store.Sig.batch(spark, dir, i.toLong)
          val pairs = CurateIngest.crossShardNearDupsFromSigs(
              StoreLayout.Flat.state(spark, Store.Sig, dir, i.toLong).compact,
              sigB)
            .unionByName(
              CurateIngest.crossShardNearDupsFromSigs(sigB, sigB))
            .select(col("a_id"), col("b_id"))
          ClusterRefresh.refreshBatch(pairs, i.toLong, s"$dir/pairs",
            s"$dir/labels")
          QualityRefresh.writeCountsDelta(b, i.toLong, s"$dir/counts",
            s"$dir/dstats")
          SparseIndex.postingsOf(b.select(col("doc_id"), col("text"))
              .join(Store.Kept.batch(spark, dir, i.toLong).select(col("doc_id")),
                Seq("doc_id")))
            .withColumn("batch_id", lit(i.toLong))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(s"$dir/postings")
        }
      }
      ts.drop(2).sum / (nShards - 2)
    }
    val s1 = sharedRun(); val l1 = legacyRun()
    val s2 = sharedRun(); val l2 = legacyRun()
    report("combinedTok", s"docs=$docsPerShard", "shared", math.min(s1, s2))
    report("combinedTok", s"docs=$docsPerShard", "legacy", math.min(l1, l2))
  }

  /** r12: per-batch wall + spill of the BUCKETED combined topology
    * under growing stores and mid-run bucket compactions, against the
    * plain combined mode on the same shards — the bucketed layout was
    * spec-proven (kill+restart equality, zero-Exchange plans) but
    * never soak-measured. Fresh store roots per mode; the interesting
    * signal is the per-shard series shape (flat vs climbing) and the
    * compaction-tick cost under each compaction discipline. */
  def combinedBucketed(spark: SparkSession, nShards: Int = 10,
                       docsPerShard: Long = 20000L,
                       compactEvery: Long = 3L): Unit = {
    import graft.streaming.CombinedIngest
    val prefix = "soakcbk"
    def dropTables(): Unit =
      Seq("fp", "sig", "kept", "postings").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    dropTables()
    try {
      val corpus = docCorpus(spark, nShards * docsPerShard)
      val shards = (0 until nShards).map { i =>
        corpus.filter(col("doc_id") >= i * docsPerShard &&
          col("doc_id") < (i + 1) * docsPerShard).localCheckpoint()
      }
      val dirP = java.nio.file.Files
        .createTempDirectory("soak_cbk_plain").toString
      shards.zipWithIndex.foreach { case (b, i) =>
        timedSpill(spark, "combined", s"shard=$i", "plain")(
          CombinedIngest.processBatch(b, i.toLong, dirP,
            compactEvery = Some(compactEvery)))
      }
      val dirB = java.nio.file.Files
        .createTempDirectory("soak_cbk_bucket").toString
      shards.zipWithIndex.foreach { case (b, i) =>
        timedSpill(spark, "combined", s"shard=$i", "bucketed")(
          CombinedIngest.processBatch(b, i.toLong, dirB,
            graft.streaming.StoreLayout.Bucketed(prefix),
            compactEvery = Some(compactEvery)))
      }
      corpus.unpersist()
    } finally dropTables()
  }

  /** r12: [[combinedTok]]'s A/B with the GOPHER GATE ON — the shared
    * positional frame (one text scan feeding the tf frame AND the
    * repetition n-gram explode, signals restricted to gate survivors)
    * vs the r11 two-scan shape (tf tokenization of the text plus a
    * second raw-text scan for the full-batch repetition signals).
    * Interleaved runs, min-of-two per mode, first batches dropped —
    * the combinedTok discipline. */
  /** r13: the narrow run-length repetition signals vs their exploded
    * relational twin, two decades with spill attribution — the A/B
    * behind making the shuffle-free form [[graft.text.Repetition]]'s
    * default (the signals are per-doc, so the exploded form's
    * (doc, n, gram) exchange of ~9× the corpus token count is pure
    * overhead that only grows with corpus size). */
  def repNarrow(spark: SparkSession, nDocs: Long = 10000L): Unit = {
    import graft.text.Repetition
    locally { // JIT/codegen warm pass off the clock
      val d = docCorpus(spark, 2000L)
      sink(Repetition.repetitionSignals(d))
      sink(Repetition.signalsFromBaseHof(
        Repetition.positionalBase(d).localCheckpoint()))
      sink(Repetition.signalsFromBaseExploded(
        Repetition.positionalBase(d).localCheckpoint()))
      d.unpersist()
    }
    Seq(1L, 10L, 100L).foreach { mult =>
      val nd = nDocs * mult
      val d = docCorpus(spark, nd)
      timedSpill(spark, "repnarrow", s"docs=$nd", "narrow")(
        sink(Repetition.repetitionSignals(d)))
      // r14: the interpreted HOF fold (the r13 production form, now
      // the equality twin) on the same pinned-frame shape it shipped
      // with — the third arm that locates the native expression's win
      timedSpill(spark, "repnarrow", s"docs=$nd", "hof")(
        sink(Repetition.signalsFromBaseHof(
          Repetition.positionalBase(d).localCheckpoint())))
      timedSpill(spark, "repnarrow", s"docs=$nd", "exploded")(
        sink(Repetition.signalsFromBaseExploded(
          Repetition.positionalBase(d).localCheckpoint())))
      d.unpersist()
    }
  }

  /** r14: positionalBase's width gate on an ALREADY-WIDE input — the
    * gated no-op (keep the input's partitioning) vs the r13
    * unconditional behavior (forceSpread: full-text round-robin
    * repartition down to #cores) — the A/B behind gating the exchange
    * (VERDICT r13 #1). The corpus is pinned WIDER than
    * defaultParallelism and balanced, the regime where the
    * unconditional exchange is pure loss (and at 100 TB an
    * unbounded-task-size hazard: corpus/cores per task). */
  def repWide(spark: SparkSession, nDocs: Long = 1000000L): Unit = {
    import graft.text.Repetition
    val par = spark.sparkContext.defaultParallelism
    locally { // JIT/codegen warm pass off the clock
      val w = docCorpus(spark, 2000L).repartition(par * 4)
        .localCheckpoint()
      sink(Repetition.signalsFromBase(
        Repetition.positionalBase(w).localCheckpoint()))
      sink(Repetition.signalsFromBase(
        Repetition.positionalBase(w, forceSpread = true).localCheckpoint()))
      w.unpersist()
    }
    Seq(nDocs / 10, nDocs).foreach { nd =>
      val d0 = docCorpus(spark, nd)
      val wide = d0.repartition(par * 4).localCheckpoint()
      d0.unpersist()
      println(s"[repwide] docs=$nd parts=${wide.rdd.getNumPartitions}")
      timedSpill(spark, "repwide", s"docs=$nd", "gated")(
        sink(Repetition.signalsFromBase(
          Repetition.positionalBase(wide).localCheckpoint())))
      timedSpill(spark, "repwide", s"docs=$nd", "forced")(
        sink(Repetition.signalsFromBase(
          Repetition.positionalBase(wide, forceSpread = true)
            .localCheckpoint())))
      timedSpill(spark, "repwide", s"docs=$nd", "gated2")(
        sink(Repetition.signalsFromBase(
          Repetition.positionalBase(wide).localCheckpoint())))
      wide.unpersist()
    }
  }

  /** r14 diagnostic: WHERE does the already-wide input's fold slowdown
    * live? repwide measured keep-128-partitions ~1.5-1.8× slower than
    * coalesce-to-32 on identical data — the opposite of the
    * keep-file-splits intuition. Separate the two timed components at
    * each width on the SAME corpus: (a) the positionalBase
    * localCheckpoint pin alone, (b) the narrow fold over the already-
    * pinned frame, plus (c) fold over a columnar persist pin. Widths
    * bracket 32 (= cores) and 128 (= repwide's input). */
  def repWideDiag(spark: SparkSession, nDocs: Long = 200000L): Unit = {
    import graft.text.Repetition
    locally {
      val d = docCorpus(spark, 2000L)
      sink(Repetition.repetitionSignals(d)); d.unpersist()
    }
    val base = docCorpus(spark, nDocs)
    // is the UNPINNED form single-evaluation? If CollapseProject
    // inlined the regex into each of the 11 aggregate folds, the
    // executed plan would carry 11 regexp_extract_all occurrences.
    val nopinPlan = Repetition.signalsFromBase(
      Repetition.positionalBase(base))
      .queryExecution.executedPlan.toString
    println(s"[repwidediag] nopin regex occurrences in plan: " +
      s"${"regexp_extract_all".r.findAllIn(nopinPlan).size}")
    Seq(32, 64, 128).foreach { parts =>
      val d = base.repartition(parts).localCheckpoint()
      var pinned: DataFrame = null
      timedSpill(spark, "repwidediag", s"parts=$parts", "pin-lchk") {
        pinned = Repetition.positionalBase(d).localCheckpoint()
      }
      timedSpill(spark, "repwidediag", s"parts=$parts", "fold")(
        sink(Repetition.signalsFromBase(pinned)))
      timedSpill(spark, "repwidediag", s"parts=$parts", "fold2")(
        sink(Repetition.signalsFromBase(pinned)))
      pinned.unpersist()
      val pers = Repetition.positionalBase(d).persist()
      timedSpill(spark, "repwidediag", s"parts=$parts", "pin-pers")(
        pers.count())
      timedSpill(spark, "repwidediag", s"parts=$parts", "fold-pers")(
        sink(Repetition.signalsFromBase(pers)))
      pers.unpersist()
      // the no-pin form: scan → regex project → fold in ONE codegen
      // pass, zero materialization — the candidate 100 TB shape (the
      // 10M repdeep GC death was the pinned form's corpus-sized
      // block-manager materialization, not the fold)
      timedSpill(spark, "repwidediag", s"parts=$parts", "nopin")(
        sink(Repetition.signalsFromBase(Repetition.positionalBase(d))))
      timedSpill(spark, "repwidediag", s"parts=$parts", "nopin2")(
        sink(Repetition.signalsFromBase(Repetition.positionalBase(d))))
      d.unpersist()
    }
    base.unpersist()
  }

  /** r14 (VERDICT r13 #5): the narrow repetition path's THIRD decade —
    * narrow only, 3M and 10M docs — pinning the slope one decade past
    * the 1M point where the exploded twin's regime change appeared one
    * decade after ITS wash point. Any bend attributes to the per-row
    * O(L·n log n) gram sort vs scan. */
  def repNarrowDeep(spark: SparkSession,
                    sizes: Seq[Long] = Seq(3000000L, 10000000L)): Unit = {
    import graft.text.Repetition
    locally {
      val d = docCorpus(spark, 2000L)
      sink(Repetition.repetitionSignals(d)); d.unpersist()
    }
    sizes.foreach { nd =>
      val d = docCorpus(spark, nd)
      timedSpill(spark, "repdeep", s"docs=$nd", "narrow")(
        sink(Repetition.repetitionSignals(d)))
      d.unpersist()
    }
  }

  /** r14: what the Dolma anonymization stage COSTS — the new r14
    * `anonymize` knob runs [[graft.text.CorpusStats.piiMask]] (a
    * codegen'd regexp_replace chain) over every batch before the
    * shared tokenization, and that stage shipped without a measured
    * price. Two measurements: (1) the mask projection alone vs a
    * same-shape no-regex projection at 1M docs — the marginal
    * scan-time cost per corpus byte on miss-heavy text (the realistic
    * case: almost all web text has no PII, so the regexes scan and
    * fail); (2) one full combined batch, anonymize off/on/on, fresh
    * store roots — the stage's share of a real batch wall. */
  def anonCost(spark: SparkSession, nDocs: Long = 1000000L,
               batchDocs: Long = 20000L): Unit = {
    import graft.streaming.CombinedIngest
    import graft.text.CorpusStats
    locally { // JIT/codegen warm pass off the clock
      val d = docCorpus(spark, 2000L)
      sink(d.select(col("doc_id"), CorpusStats.piiMask(col("text"))))
      d.unpersist()
    }
    val d = docCorpus(spark, nDocs)
    timedSpill(spark, "anoncost", s"docs=$nDocs", "plain-proj")(
      sink(d.select(col("doc_id"), length(col("text")).as("l"))))
    timedSpill(spark, "anoncost", s"docs=$nDocs", "mask-proj")(
      sink(d.select(col("doc_id"),
        length(CorpusStats.piiMask(col("text"))).as("l"))))
    timedSpill(spark, "anoncost", s"docs=$nDocs", "plain-proj2")(
      sink(d.select(col("doc_id"), length(col("text")).as("l"))))
    d.unpersist()
    val b = docCorpus(spark, batchDocs)
    def fresh(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"anoncost_$tag").toString
    timedSpill(spark, "anoncost", s"batch=$batchDocs", "funnel-raw")(
      CombinedIngest.processBatch(b, 0L, fresh("raw"), gopherGate = true))
    timedSpill(spark, "anoncost", s"batch=$batchDocs", "funnel-anon")(
      CombinedIngest.processBatch(b, 0L, fresh("anon"), gopherGate = true,
        anonymize = true))
    timedSpill(spark, "anoncost", s"batch=$batchDocs", "funnel-anon2")(
      CombinedIngest.processBatch(b, 0L, fresh("anon2"), gopherGate = true,
        anonymize = true))
    b.unpersist()
  }

  /** r13: the narrow run-length tf frame ([[graft.text.SparseIndex]]
    * postingsOf) vs the relational explode → groupBy(doc, token)
    * twin, two decades with spill attribution. */
  def tfNarrow(spark: SparkSession, nDocs: Long = 10000L): Unit = {
    import graft.text.SparseIndex
    def exploded(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        expr("regexp_extract_all(text, '\\\\S+', 0)").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    locally {
      val d = docCorpus(spark, 2000L)
      sink(SparseIndex.postingsOf(d)); sink(exploded(d))
      d.unpersist()
    }
    Seq(1L, 10L, 100L).foreach { mult =>
      val nd = nDocs * mult
      val d = docCorpus(spark, nd)
      timedSpill(spark, "tfnarrow", s"docs=$nd", "narrow")(
        sink(SparseIndex.postingsOf(d)))
      timedSpill(spark, "tfnarrow", s"docs=$nd", "exploded")(
        sink(exploded(d)))
      d.unpersist()
    }
  }

  /** r15: the tf-frame A/B with the NATIVE sort+sweep arm
    * ([[graft.functions.TokenTfs]]) beside the r13 pair — relational
    * explode → groupBy (production), lambda-bound HOF run-length
    * (the r13 1.8× loser), native run-length expression. */
  def tfNative(spark: SparkSession, nDocs: Long = 10000L): Unit = {
    import graft.text.SparseIndex
    def ws(d: DataFrame): DataFrame = d.select(col("doc_id"),
      expr("regexp_extract_all(text, '\\\\S+', 0)").as("ws"))
    locally {
      val d = docCorpus(spark, 2000L)
      sink(SparseIndex.tokenizeRelational(d)); sink(SparseIndex.tokenizeNative(d))
      sink(SparseIndex.tfFromWs(ws(d)))
      d.unpersist()
    }
    Seq(1L, 10L, 100L).foreach { mult =>
      val nd = nDocs * mult
      val d = docCorpus(spark, nd)
      timedSpill(spark, "tfnative", s"docs=$nd", "relational")(
        sink(SparseIndex.tokenizeRelational(d)))
      timedSpill(spark, "tfnative", s"docs=$nd", "native")(
        sink(SparseIndex.tokenizeNative(d)))
      timedSpill(spark, "tfnative", s"docs=$nd", "hof")(
        sink(SparseIndex.tfFromWs(ws(d))))
      timedSpill(spark, "tfnative", s"docs=$nd", "native2")(
        sink(SparseIndex.tokenizeNative(d)))
      timedSpill(spark, "tfnative", s"docs=$nd", "relational2")(
        sink(SparseIndex.tokenizeRelational(d)))
      d.unpersist()
    }
  }

  /** r15: the native postings build alone across decades (the repdeep
    * shape) — is the production [[graft.functions.TokenTfs]] path flat
    * per doc and spill-free where the relational form spilled 13.7 GB
    * at 1M? */
  def tfDeep(spark: SparkSession,
             sizes: Seq[Long] = Seq(1000000L, 3000000L, 10000000L)): Unit = {
    import graft.text.SparseIndex
    locally {
      val d = docCorpus(spark, 2000L)
      sink(SparseIndex.postingsOf(d))
      d.unpersist()
    }
    sizes.foreach { nd =>
      val d = docCorpus(spark, nd)
      timedSpill(spark, "tfdeep", s"docs=$nd", "native")(
        sink(SparseIndex.postingsOf(d)))
      d.unpersist()
    }
  }

  /** r15: the scrub's hot-gram skew exposure, measured. ExactSubstr
    * cannot df-cap (every later occurrence of a gram is a cut), so a
    * corpus-wide boilerplate prefix funnels its whole occurrence list
    * into a few window partitions. Plant an identical 60-char prefix on
    * EVERY doc (the worst case: ~21 hot gram positions × nDocs rows
    * each) and compare against the organic corpus. */
  def scrubSkew(spark: SparkSession, nDocs: Long = 1000000L): Unit = {
    import graft.dedup.SpanScrub
    val organic = docCorpus(spark, nDocs)
    val boiler = organic.select(col("doc_id"),
      concat(lit("This content is licensed for personal use only - see terms. "),
        col("text")).as("text")).localCheckpoint()
    locally {
      val d = docCorpus(spark, 2000L)
      sink(SpanScrub.spanScrubFp(d)); d.unpersist()
    }
    timedSpill(spark, "scrubskew", s"docs=$nDocs", "organic")(
      sink(SpanScrub.spanScrubFp(organic)))
    timedSpill(spark, "scrubskew", s"docs=$nDocs", "boiler")(
      sink(SpanScrub.spanScrubFp(boiler)))
    timedSpill(spark, "scrubskew", s"docs=$nDocs", "organic2")(
      sink(SpanScrub.spanScrubFp(organic)))
    timedSpill(spark, "scrubskew", s"docs=$nDocs", "boiler2")(
      sink(SpanScrub.spanScrubFp(boiler)))
    organic.unpersist(); boiler.unpersist()
  }

  /** r17 (the r16 standing soak item): the rebuildFromCuts HOF path
    * under PATHOLOGICAL cut density. Corpus = one identical ~2.4 KB
    * text on every doc, so every gram of every doc after the first is
    * a repeat: the cut table is ~|positions| rows and each doc's
    * collect_list cut array is ~(len − k + 1) structs — the spill
    * surface of the r16 one-aggregate rebuild, maximized (organic
    * corpora cut a few spans per doc; this cuts ALL of them, merging
    * to one island per doc). The organic arm at the same doc count is
    * the control. */
  def rebuildSpill(spark: SparkSession, nDocs: Long = 1000000L): Unit = {
    import graft.dedup.SpanScrub
    val ident = spark.range(nDocs)
      .select(col("id").as("doc_id"), expr(
        """concat_ws(' ', transform(sequence(0, 59), p ->
          |  concat(element_at(array('the','and','a','over','the','with'),
          |           CAST(p % 6 AS INT) + 1),
          |    ' w', substr(md5(concat('c:', CAST(p AS STRING))), 1, 8))))"""
          .stripMargin).as("text"))
      .localCheckpoint()
    val organic = docCorpus(spark, nDocs)
    locally {
      val d = docCorpus(spark, 2000L)
      sink(SpanScrub.spanScrubFp(d)); d.unpersist()
    }
    timedSpill(spark, "rebuildsp", s"docs=$nDocs", "organic")(
      sink(SpanScrub.spanScrubFp(organic)))
    timedSpill(spark, "rebuildsp", s"docs=$nDocs", "identical")(
      sink(SpanScrub.spanScrubFp(ident)))
    timedSpill(spark, "rebuildsp", s"docs=$nDocs", "organic2")(
      sink(SpanScrub.spanScrubFp(organic)))
    timedSpill(spark, "rebuildsp", s"docs=$nDocs", "identical2")(
      sink(SpanScrub.spanScrubFp(ident)))
    organic.unpersist(); ident.unpersist()
  }

  /** r15: what GopherQuality's per-element HOFs (the char-sum
    * `aggregate` fold + three regex `filter`s) actually cost on a
    * pinned positional frame — the measure-before-native gate
    * (VERDICT r14 #5). */
  def gopherCost(spark: SparkSession, nDocs: Long = 1000000L): Unit = {
    import graft.text.{GopherQuality, Repetition}
    val d = docCorpus(spark, nDocs)
    val pb = Repetition.positionalBase(d).localCheckpoint()
    sink(GopherQuality.qualitySignalsFromBase(pb)) // warm
    Seq("hof1", "hof2", "hof3").foreach { tag =>
      timedSpill(spark, "gophercost", s"docs=$nDocs", tag)(
        sink(GopherQuality.qualitySignalsFromBase(pb)))
    }
    // free the checkpoint blocks for the rest of the soak session
    // (ADVICE r15 — matches the scrubSkew cleanup pattern)
    pb.unpersist()
    d.unpersist()
  }

  /** r13 diagnostic: the narrow repetition fold's cost by positional-
    * frame pin type (columnar persist vs row localCheckpoint) and vs
    * the exploded twin, plus the gate-survivor semi-join shape the
    * combined topology feeds it. */
  def repDiag(spark: SparkSession, nDocs: Long = 20000L): Unit = {
    import graft.text.Repetition
    val d = docCorpus(spark, nDocs)
    val pbP = Repetition.positionalBase(d).persist()
    pbP.count()
    val pbL = Repetition.positionalBase(d).localCheckpoint()
    val ids = d.select(col("doc_id")).filter(col("doc_id") % 2 === 0)
      .localCheckpoint()
    timedSpill(spark, "repdiag", s"docs=$nDocs", "nar-pers")(
      sink(Repetition.signalsFromBase(pbP)))
    timedSpill(spark, "repdiag", s"docs=$nDocs", "nar-lchk")(
      sink(Repetition.signalsFromBase(pbL)))
    timedSpill(spark, "repdiag", s"docs=$nDocs", "exp-pers")(
      sink(Repetition.signalsFromBaseExploded(pbP)))
    timedSpill(spark, "repdiag", s"docs=$nDocs", "nar-semi")(
      sink(Repetition.signalsFromBase(
        pbP.join(ids, Seq("doc_id"), "left_semi"))))
    timedSpill(spark, "repdiag", s"docs=$nDocs", "nar-pers2")(
      sink(Repetition.signalsFromBase(pbP)))
    pbP.unpersist(); d.unpersist()
  }

  /** r13 diagnostic 2: one combined batch end-to-end, gopher on/off,
    * plus the gate evaluated alone, on fresh store roots. */
  def repDiag2(spark: SparkSession, nDocs: Long = 20000L): Unit = {
    import graft.streaming.CombinedIngest
    val d = docCorpus(spark, nDocs)
    def fresh(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"repdiag2_$tag").toString
    timedSpill(spark, "repdiag2", s"docs=$nDocs", "goph-off")(
      CombinedIngest.processBatch(d, 0L, fresh("off")))
    timedSpill(spark, "repdiag2", s"docs=$nDocs", "goph-on")(
      CombinedIngest.processBatch(d, 0L, fresh("on"), gopherGate = true))
    timedSpill(spark, "repdiag2", s"docs=$nDocs", "goph-on2")(
      CombinedIngest.processBatch(d, 0L, fresh("on2"), gopherGate = true))
    d.unpersist()
  }

  /** r13 diagnostic 3: the gopher-gated combined loop with PER-SHARD
    * timing (combinedgopher reports only the mean), to locate whether
    * a per-shard term grows with the stores. */
  def repDiag3(spark: SparkSession, nShards: Int = 10,
               docsPerShard: Long = 20000L): Unit = {
    import graft.streaming.CombinedIngest
    val corpus = docCorpus(spark, nShards * docsPerShard)
    val dir = java.nio.file.Files.createTempDirectory("repdiag3").toString
    (0 until nShards).foreach { i =>
      val shard = corpus.filter(col("doc_id") >= i * docsPerShard &&
        col("doc_id") < (i + 1) * docsPerShard).localCheckpoint()
      timedSpill(spark, "repdiag3", s"shard=$i", "goph-on")(
        CombinedIngest.processBatch(shard, i.toLong, dir, gopherGate = true))
      shard.unpersist()
    }
    corpus.unpersist()
  }

  /** r13 diagnostic 4: does the narrow fold inherit partition skew a
    * range-filtered shard carries (few non-empty partitions), where
    * the exploded form's Exchange used to redistribute? */
  def repDiag4(spark: SparkSession, docsPerShard: Long = 20000L): Unit = {
    import graft.text.Repetition
    val direct = docCorpus(spark, docsPerShard)
    val corpus = docCorpus(spark, docsPerShard * 10)
    val shard = corpus.filter(col("doc_id") >= docsPerShard * 4 &&
      col("doc_id") < docsPerShard * 5).localCheckpoint()
    def nonEmpty(df: DataFrame): Int =
      df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0))
        .collect().sum
    println(s"[diag4] direct parts=${direct.rdd.getNumPartitions}" +
      s" nonEmpty=${nonEmpty(direct)}; shard parts=" +
      s"${shard.rdd.getNumPartitions} nonEmpty=${nonEmpty(shard)}")
    timedSpill(spark, "repdiag4", "d=20k", "nar-direct")(
      sink(Repetition.repetitionSignals(direct)))
    timedSpill(spark, "repdiag4", "d=20k", "nar-shard")(
      sink(Repetition.repetitionSignals(shard)))
    timedSpill(spark, "repdiag4", "d=20k", "nar-repart")(
      sink(Repetition.repetitionSignals(shard.repartition(32))))
    timedSpill(spark, "repdiag4", "d=20k", "exp-shard")(
      sink(Repetition.signalsFromBaseExploded(
        Repetition.positionalBase(shard).localCheckpoint())))
    corpus.unpersist(); direct.unpersist()
  }

  def combinedGopher(spark: SparkSession, nShards: Int = 12,
                     docsPerShard: Long = 2000): Unit = {
    import graft.streaming.{ClusterRefresh, CombinedIngest, CurateIngest,
      Funnel, QualityRefresh, Store, StoreLayout}
    import graft.text.{Repetition, SparseIndex, TextAnalysis}
    val corpus = docCorpus(spark, nShards * docsPerShard)
    val shards = (0 until nShards).map { i =>
      corpus.filter(col("doc_id") >= i * docsPerShard &&
        col("doc_id") < (i + 1) * docsPerShard).localCheckpoint()
    }
    def freshDir(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"soak_cgoph_$tag").toString
    def sharedRun(): Double = {
      val dir = freshDir("shared")
      val ts = shards.zipWithIndex.map { case (b, i) =>
        time(CombinedIngest.processBatch(b, i.toLong, dir,
          gopherGate = true))
      }
      ts.drop(2).sum / (nShards - 2)
    }
    def legacyRun(): Double = {
      val dir = freshDir("legacy")
      val ts = shards.zipWithIndex.map { case (b, i) =>
        time {
          // r11 shape: tf frame from text + SECOND full-text scan for
          // the repetition signals of the WHOLE batch
          val tokens = SparseIndex.postingsOf(
            b.select(col("doc_id"), col("text"))).localCheckpoint()
          val signals = TextAnalysis.docSignals(b, tokens).localCheckpoint()
          val gated = CurateIngest.gateFromSignals(signals)
            .join(Repetition.repetitionSignals(b)
              .filter(col("gopher_pass") === 1).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
          CurateIngest.writeShard(b, i.toLong, dir,
            Funnel.strict(_ => gated))
          val sigB = Store.Sig.batch(spark, dir, i.toLong)
          val pairs = CurateIngest.crossShardNearDupsFromSigs(
              StoreLayout.Flat.state(spark, Store.Sig, dir, i.toLong).compact,
              sigB)
            .unionByName(
              CurateIngest.crossShardNearDupsFromSigs(sigB, sigB))
            .select(col("a_id"), col("b_id")).distinct()
          ClusterRefresh.refreshBatch(pairs, i.toLong, s"$dir/pairs",
            s"$dir/labels")
          val (cls, dstats) = graft.text.QualityModel.classCountsFromTokens(
            tokens, signals)
          QualityRefresh.writeCountsDeltaFrom(cls, dstats, i.toLong,
            s"$dir/counts", s"$dir/dstats")
          graft.streaming.DriftMonitor.writeDriftDelta(b, tokens, signals,
            i.toLong, s"$dir/drift", s"$dir/counts", s"$dir/dstats")
          tokens.join(Store.Kept.batch(spark, dir, i.toLong).select(col("doc_id")),
              Seq("doc_id"))
            .withColumn("batch_id", lit(i.toLong))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(s"$dir/postings")
        }
      }
      ts.drop(2).sum / (nShards - 2)
    }
    val s1 = sharedRun(); val l1 = legacyRun()
    val s2 = sharedRun(); val l2 = legacyRun()
    report("combGoph", s"docs=$docsPerShard", "shared", math.min(s1, s2))
    report("combGoph", s"docs=$docsPerShard", "twoscan", math.min(l1, l2))
    corpus.unpersist()
  }

  /** r12: can a per-bucket (or per-file) sidecar let the incremental
    * scrub's store probe SKIP store data a shard's grams cannot hit?
    * This measures the two candidate skip indexes directly on a real
    * store + arriving-shard pair:
    *  - bucket skipping: how many of the store's hash buckets does the
    *    shard's gram set touch (a bucket not touched could be skipped);
    *  - file min/max skipping: for each store data file, does the
    *    shard's gram RANGE intersect the file's [min, max] (a
    *    non-intersecting file could be pruned row-group style).
    * The gram key is a uniform 63-bit hash by construction, so the
    * expected answer is "every bucket, every file" for any realistic
    * shard (P[bucket untouched] = (1-1/B)^G) — this probe turns that
    * expectation into a measured number for SCALING.md. */
  def gramSidecar(spark: SparkSession, nStoreShards: Int = 4,
                  docsPerShard: Long = 50000L, buckets: Int = 32): Unit = {
    import graft.streaming.{ScrubIngest, Store, StoreLayout}
    val prefix = "soaksidecar"
    val layout = StoreLayout.Bucketed(prefix, buckets)
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_gram")
    try {
      val corpus = docCorpus(spark, (nStoreShards + 1) * docsPerShard)
      val dir = java.nio.file.Files
        .createTempDirectory("soak_sidecar").toString
      (0 until nStoreShards).foreach { b =>
        val shard = corpus.filter(col("doc_id") >= b * docsPerShard &&
          col("doc_id") < (b + 1) * docsPerShard)
        ScrubIngest.writeShard(shard, b.toLong, dir, layout)
        layout.compact(spark, dir, Seq(Store.Gram), upToBatch = b.toLong + 1)
      }
      // the arriving shard's gram profile
      val next = corpus.filter(
        col("doc_id") >= nStoreShards * docsPerShard &&
          col("doc_id") < (nStoreShards + 1) * docsPerShard)
      val grams = graft.dedup.SpanScrub
        .fpGrams(next.select(col("doc_id"), col("text")), 40)
        .select(col("gram")).localCheckpoint()
      val g = grams.count()
      val bucketsHit = grams
        .select(pmod(hash(col("gram")), lit(buckets)).as("b"))
        .distinct().count()
      val rng = grams.agg(min(col("gram")), max(col("gram"))).head()
      val (gMin, gMax) = (rng.getLong(0), rng.getLong(1))
      // per-file min/max of the store table — the sidecar a file-level
      // skip index would consult
      val files = spark.table(s"${prefix}_gram")
        .select(col("gram"),
          org.apache.spark.sql.functions.input_file_name().as("f"))
        .groupBy("f")
        .agg(min(col("gram")).as("lo"), max(col("gram")).as("hi"))
        .localCheckpoint()
      val nFiles = files.count()
      val prunable = files
        .filter(col("hi") < gMin || col("lo") > gMax).count()
      report("sidecar", s"grams=$g", s"bucketsHit=$bucketsHit/$buckets", 0.0)
      report("sidecar", s"files=$nFiles", s"prunable=$prunable", 0.0)
      corpus.unpersist()
    } finally spark.sql(s"DROP TABLE IF EXISTS ${prefix}_gram")
  }

  def main(args: Array[String]): Unit = {
    // heap banner: build.sbt forks with -Xmx${SPARK_DRIVER_MEM:-8g},
    // and a soak silently run at the 8 GB default produces a DIFFERENT
    // MEMORY REGIME (r16: fullfunnel died shard-over-shard on hash-
    // relation OOM, scrubskew spill magnitudes inflated — both at 8 GB
    // while the r13 tables were measured at 48 GB+). Every soak log
    // now carries the heap so a regime mismatch is attributable from
    // the table alone; big families want SPARK_DRIVER_MEM=48g+.
    val maxHeapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    println(s"[soak] heap maxGB=$maxHeapGb " +
      s"(SPARK_DRIVER_MEM=${sys.env.getOrElse("SPARK_DRIVER_MEM", "unset, 8g default")})")
    if (maxHeapGb < 30)
      println("[soak] WARNING: heap < 30 GB — large-corpus arms will " +
        "spill/OOM in a regime the committed tables were not measured in")
    val spark = Engine.sessionBuilder(Engine.envCores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fams = if (args.isEmpty) Seq("cc", "salt", "kmeans", "pagerank")
      else args.toSeq
    fams.foreach {
      case "pagerank" =>
        // straddle DefaultBroadcastMaxNodes = 10M
        pagerank(spark, Seq(1000000L, 4000000L, 10000000L, 20000000L))
      case "cc" =>
        // straddle smallGraphEdges = 2M, finer grid around the
        // crossover the first soak run located between 0.5M and 2M
        cc(spark, Seq(500000L, 1000000L, 2000000L, 4000000L, 8000000L))
      case "salt" =>
        salt(spark, Seq(5000000L, 10000000L, 20000000L))
      case "kmeans" =>
        kmeans(spark, Seq(20000L, 50000L))
      // explicit grid: family:size1,size2,... (crossover bisection)
      case s if s.startsWith("pagerank:") =>
        pagerank(spark, s.drop(9).split(",").toSeq.map(_.toLong))
      case s if s.startsWith("cc:") =>
        cc(spark, s.drop(3).split(",").toSeq.map(_.toLong))
      case s if s.startsWith("salt:") =>
        salt(spark, s.drop(5).split(",").toSeq.map(_.toLong))
      case s if s.startsWith("kmeans:") =>
        kmeans(spark, s.drop(7).split(",").toSeq.map(_.toLong))
      case "ingest" =>
        ingest(spark, nShards = 50, docsPerShard = 200, compactEvery = None)
        ingest(spark, nShards = 50, docsPerShard = 200,
          compactEvery = Some(5L))
      case "bench100x" => bench100x(spark)
      case s if s.startsWith("bench100x:") =>
        bench100x(spark, s.drop(10).toLong)
      case "scrub100x" => scrub100x(spark)
      case s if s.startsWith("scrub100x:") =>
        scrub100x(spark, s.drop(10).toLong)
      case "scrubingest" => scrubIngest(spark)
      case s if s.startsWith("scrubingest:") =>
        val ps = s.drop(12).split(",")
        scrubIngest(spark, ps(0).toInt, ps(1).toLong)
      case "fullfunnel" => fullFunnel(spark)
      case s if s.startsWith("fullfunnel:") =>
        val ps = s.drop(11).split(",")
        fullFunnel(spark, ps(0).toInt, ps(1).toLong)
      case "combinedtok" => combinedTok(spark)
      case s if s.startsWith("combinedtok:") =>
        val ps = s.drop(12).split(",")
        combinedTok(spark, ps(0).toInt, ps(1).toLong)
      case "combinedbucketed" => combinedBucketed(spark)
      case s if s.startsWith("combinedbucketed:") =>
        val ps = s.drop(17).split(",")
        combinedBucketed(spark, ps(0).toInt, ps(1).toLong)
      case "combinedgopher" => combinedGopher(spark)
      case s if s.startsWith("combinedgopher:") =>
        val ps = s.drop(15).split(",")
        combinedGopher(spark, ps(0).toInt, ps(1).toLong)
      case "tfnarrow" => tfNarrow(spark)
      case s if s.startsWith("tfnarrow:") =>
        tfNarrow(spark, s.drop(9).toLong)
      case "tfnative" => tfNative(spark)
      case s if s.startsWith("tfnative:") =>
        tfNative(spark, s.drop(9).toLong)
      case "tfdeep" => tfDeep(spark)
      case s if s.startsWith("tfdeep:") =>
        tfDeep(spark, s.drop(7).split(",").toSeq.map(_.toLong))
      case "scrubskew" => scrubSkew(spark)
      case "rebuildspill" => rebuildSpill(spark)
      case s if s.startsWith("rebuildspill:") =>
        rebuildSpill(spark, s.drop(13).toLong)
      case s if s.startsWith("scrubskew:") =>
        scrubSkew(spark, s.drop(10).toLong)
      case "gophercost" => gopherCost(spark)
      case s if s.startsWith("gophercost:") =>
        gopherCost(spark, s.drop(11).toLong)
      case "repwide" => repWide(spark)
      case s if s.startsWith("repwide:") =>
        repWide(spark, s.drop(8).toLong)
      case "repdeep" => repNarrowDeep(spark)
      case s if s.startsWith("repdeep:") =>
        repNarrowDeep(spark, s.drop(8).split(",").toSeq.map(_.toLong))
      case "repwidediag" => repWideDiag(spark)
      case s if s.startsWith("repwidediag:") =>
        repWideDiag(spark, s.drop(12).toLong)
      case "anoncost" => anonCost(spark)
      case s if s.startsWith("anoncost:") =>
        val ps = s.drop(9).split(",")
        anonCost(spark, ps(0).toLong, ps(1).toLong)
      case "repdiag4" => repDiag4(spark)
      case "repdiag3" => repDiag3(spark)
      case s if s.startsWith("repdiag3:") =>
        val ps = s.drop(9).split(",")
        repDiag3(spark, ps(0).toInt, ps(1).toLong)
      case "repdiag2" => repDiag2(spark)
      case s if s.startsWith("repdiag2:") =>
        repDiag2(spark, s.drop(9).toLong)
      case "repdiag" => repDiag(spark)
      case s if s.startsWith("repdiag:") =>
        repDiag(spark, s.drop(8).toLong)
      case "repnarrow" => repNarrow(spark)
      case s if s.startsWith("repnarrow:") =>
        repNarrow(spark, s.drop(10).toLong)
      case "gramsidecar" => gramSidecar(spark)
      case s if s.startsWith("gramsidecar:") =>
        val ps = s.drop(12).split(",")
        gramSidecar(spark, ps(0).toInt, ps(1).toLong)
      case "bench10x" => bench10x(spark)
      case s if s.startsWith("bench10x:") =>
        val ps = s.drop(9).split(",")
        bench10x(spark, ps(0).toLong, ps(1).toLong)
      case other => System.err.println(s"[soak] unknown family: $other")
    }
    spark.stop()
  }
}
