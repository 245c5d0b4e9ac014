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
  * Families, and why each stays:
  *  - `pagerank` — rank-side broadcast vs shuffle join across node
  *    counts around [[graft.operators.PageRank.DefaultBroadcastMaxNodes]]
  *    (backs that default)
  *  - `cc` — driver union-find vs distributed min-label across edge
  *    counts around [[graft.dedup.Clusters.smallGraphEdges]] (backs
  *    that threshold)
  *  - `salt` — salted vs plain exact count-distinct on a one-hot-key
  *    skewed table (backs [[graft.operators.Skew.saltedCountDistinct]])
  *  - `kmeans` — SemDeDup pair-join cost at [[graft.ann.KMeans.autoK]]
  *    vs a fixed small k on a 10× corpus (backs the bounded-cluster-size
  *    claim)
  *  - `fullfunnel` — per-shard cost of the whole bucketed incremental
  *    funnel as its stores grow; its 2.4M-doc question is still open
  *    (SCALING.md "fullfunnel re-soak under the native frames")
  *  - `bench10x` / `bench100x` — time-vs-size exponents of the most
  *    expensive bench families over 10× and 100× generated corpora, the
  *    generator a scaled bench mode reuses
  *
  * The closed r9–r17 diagnostic arms were removed after their verdicts
  * were dated in SCALING.md; each section names the commit that still
  * reproduces it.
  *
  * Usage: runMain graft.ScaleSoak [family | family:v1,v2,... ...]
  * (default: cc salt kmeans pagerank). An unknown family or malformed
  * grid fails before any session starts. Prints one line per
  * measurement: family size path seconds.
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

  /** r11: per-shard cost of the WHOLE bucketed funnel (6 stages, 4
    * stores — [[graft.streaming.CurateIngest.writeShard]] with
    * [[graft.streaming.Funnel.full]] on the bucketed layout)
    * as every store grows. The flatness claim: scrub probe + fp
    * anti-join + sig collision probe all bucket-aligned, only the
    * arriving shard shuffles, compaction append/bucket ticks
    * delta-sized. */
  def fullFunnel(spark: SparkSession, nShards: Int, docsPerShard: Long,
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
  def bench10x(spark: SparkSession, nDocs: Long, nEmbs: Long): Unit = {
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
  def bench100x(spark: SparkSession, nDocs: Long): Unit = {
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

  /** One requested soak: a family and the grid it runs. */
  final case class Run(family: String, grid: Seq[Long])

  /** Each family's default grid; `family:v1,v2,...` replaces it. */
  private val DefaultGrids: Map[String, Seq[Long]] = Map(
    // straddle DefaultBroadcastMaxNodes = 10M
    "pagerank" -> Seq(1000000L, 4000000L, 10000000L, 20000000L),
    // straddle smallGraphEdges = 2M, finer grid around the crossover
    // the first soak run located between 0.5M and 2M
    "cc" -> Seq(500000L, 1000000L, 2000000L, 4000000L, 8000000L),
    "salt" -> Seq(5000000L, 10000000L, 20000000L),
    "kmeans" -> Seq(20000L, 50000L),
    "fullfunnel" -> Seq(8L, 50000L), // nShards, docsPerShard
    "bench10x" -> Seq(5000L, 2000L), // nDocs, nEmbs
    "bench100x" -> Seq(5000L))       // nDocs

  /** Families whose grid is a list of sizes of any length; the others
    * take exactly their default grid's positional parameters. */
  private val SizeListFamilies = Set("pagerank", "cc", "salt", "kmeans")

  /** Parses and validates the whole command line before any session
    * exists: each argument is `family` or `family:v1,v2,...` (positive
    * longs), no arguments runs the four gate families. Throws
    * IllegalArgumentException, listing the known families, on an
    * unknown name or a malformed grid. */
  def families(args: Seq[String]): Seq[Run] = {
    val names = if (args.isEmpty) Seq("cc", "salt", "kmeans", "pagerank")
      else args
    names.map { arg =>
      val (family, grid) = arg.span(_ != ':')
      require(DefaultGrids.contains(family),
        s"unknown soak family '$family'; known families: " +
          DefaultGrids.keys.toSeq.sorted.mkString(", "))
      if (grid.isEmpty) Run(family, DefaultGrids(family))
      else {
        val values = grid.drop(1).split(",", -1).toSeq.map(_.toLongOption)
        val arity = DefaultGrids(family).size
        require(values.forall(_.exists(_ > 0)) &&
          (SizeListFamilies(family) || values.size == arity),
          s"bad soak grid '$arg': expected " +
            (if (SizeListFamilies(family)) "positive sizes s1,s2,..."
             else s"$arity positive values like " +
               DefaultGrids(family).mkString(",")))
        Run(family, values.flatten)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val runs = families(args.toSeq)
    // heap banner: build.sbt forks with -Xmx${SPARK_DRIVER_MEM:-8g},
    // and a soak silently run at the 8 GB default produces a DIFFERENT
    // MEMORY REGIME (r16: fullfunnel died shard-over-shard on hash-
    // relation OOM at 8 GB while the r13 tables were measured at
    // 48 GB+). Every soak log carries the heap so a regime mismatch is
    // attributable from the table alone; big families want
    // SPARK_DRIVER_MEM=48g+.
    val maxHeapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    println(s"[soak] heap maxGB=$maxHeapGb " +
      s"(SPARK_DRIVER_MEM=${sys.env.getOrElse("SPARK_DRIVER_MEM", "unset, 8g default")})")
    if (maxHeapGb < 30)
      println("[soak] WARNING: heap < 30 GB — large-corpus arms will " +
        "spill/OOM in a regime the committed tables were not measured in")
    val spark = Engine.sessionBuilder(Engine.envCores(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // `families` validated every name and grid arity
    runs.foreach(run => (run: @unchecked) match {
      case Run("pagerank", sizes) => pagerank(spark, sizes)
      case Run("cc", sizes) => cc(spark, sizes)
      case Run("salt", sizes) => salt(spark, sizes)
      case Run("kmeans", sizes) => kmeans(spark, sizes)
      case Run("fullfunnel", Seq(nShards, docsPerShard)) =>
        fullFunnel(spark, nShards.toInt, docsPerShard)
      case Run("bench10x", Seq(nDocs, nEmbs)) => bench10x(spark, nDocs, nEmbs)
      case Run("bench100x", Seq(nDocs)) => bench100x(spark, nDocs)
    })
    spark.stop()
  }
}
