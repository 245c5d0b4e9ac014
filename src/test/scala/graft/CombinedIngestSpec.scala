package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ClusterRefresh, CombinedIngest, CurateIngest, Funnel,
  QualityRefresh, Store, StoreSides}
import graft.streaming.StoreLayout.{Bucketed, Flat}

/** The one-stream multi-leg soak: curation, cluster refresh, quality
  * model and BM25 index appends all share one file stream's
  * micro-batches, the whole topology is killed mid-stream and
  * restarted, and at the end EVERY store must equal both (a) the same
  * stores from an uninterrupted golden run and (b) its own flat batch
  * twin. This is the deployment shape the per-leg recovery specs
  * approximate one store at a time. */
class CombinedIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def enDoc(tail: String): String =
    ("the cat and the dog walked over a bridge and the sun rose " * 4) + tail

  // distinct stopword-rich bodies, far apart in shingle space
  private val bodyB = "the ship sailed over the sea and the wind blew from the north " * 4
  private val bodyC = "a bird flew over the hills and the rain fell on the green grass " * 4
  private val bodyD = "the horse ran through the field and the moon rose over the lake " * 4
  private val bodyE = "many rivers run to the ocean where the tide turns and the boats drift home " * 4
  private val bodyF = "the spark and the join ran over the window with the hash once more " * 4
  private val bodyG = "a spark of the hash hit the join while the window held the line " * 4

  private val base = enDoc("")
  private val nearA0 = base + "zzz qqq 11111 22222 33333"
  private val nearA1 = base + "zzz qqq 11111 22222 99999" // ≈ nearA0
  private val nearA2 = base + "zzz qqq 11111 88888 99999" // ≈ nearA1
  private val nearC = bodyC + "extra tail words"          // ≈ bodyC
  private val nearD1 = bodyD + "extra tail words"         // ≈ bodyD
  private val nearD2 = bodyD + "extra tail words and then more" // ≈ nearD1

  // six id-ordered shards (shardSize=150), with planted cross-shard
  // exact dups, a transitive near-dup chain, a second near-dup pair,
  // an INTRA-batch near-dup pair continued by a later chain arrival,
  // and junk docs that fail the gate (the quality model's neg class)
  private val shards: Seq[Seq[(Long, String)]] = Seq(
    Seq(10L -> nearA0, 20L -> bodyB, 30L -> "zzz qqq www eee flux"),
    Seq(160L -> bodyB /* exact dup → drop */, 170L -> bodyC,
      180L -> nearA1 /* ≈10 → strict drop, pair */),
    Seq(310L -> bodyD, 315L -> nearD1 /* intra-batch pair: dropsBest
      drops one of {310,315}, the pair must still be recorded */,
      320L -> "qqq www capacitor zzz"),
    Seq(460L -> bodyE,
      470L -> nearA2 /* ≈180's tombstone → drop, chain pair */),
    Seq(610L -> bodyF, 620L -> nearC /* ≈170 → drop, pair */),
    Seq(760L -> bodyG, 765L -> nearD2 /* ≈315's tombstone → drop;
      chain through the intra-batch-dropped doc */,
      770L -> "eee www resistor qqq"))
  private val allRows = shards.flatten
  private def allDocs: DataFrame = allRows.toDF("doc_id", "text")
    .withColumn("n_chars", length(col("text")).cast("long"))

  private def keptSet(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet
  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
  private def scoresOf(weights: DataFrame, prior: Long): Map[Long, Long] =
    graft.text.QualityModel.scoreWith(allDocs, weights, prior)
      .select("doc_id", "nb_score_micro").as[(Long, Long)].collect().toMap
  private def searchOf(root: String): Seq[(Long, Double, Int)] =
    graft.text.SparseIndex.search(CombinedIngest.bm25Index(spark, root),
      Seq("spark", "join", "window", "hash"))
      .as[(Long, Double, Int)].collect().toSeq

  test("shared tokenization: one Generate-explode per batch; gate/counts/postings equal the text-scan forms without re-tokenizing") {
    import graft.text.{QualityModel, SparseIndex, TextAnalysis}
    val batch = Seq(
      10L -> nearA0, 20L -> bodyB,
      30L -> "zzz qqq www eee flux",
      40L -> "the, cat. And a! dog a.the the", // punct-attached stopwords
      50L -> "",                               // token-less doc
      60L -> "el gato que la casa el la que")  // non-admitted language
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    def planOf(df: DataFrame): String = {
      df.queryExecution.toRdd.count() // EXECUTED, not planned
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    def noRetokenize(df: DataFrame, what: String): Unit = {
      val plan = planOf(df)
      // regexp_count compiles to size(regexp_extract_all(...)) — the
      // per-TOKEN counts are the shared design, so the gate bans only
      // explode subtrees and regex scans over the text column itself
      assert(!plan.contains("Generate explode") &&
        !"""regexp_extract_all\(text#""".r.findFirstIn(plan).isDefined,
        s"$what re-tokenized the batch:\n$plan")
    }
    // THE one tokenization: exactly one explode subtree in the frame…
    val tokens0 = SparseIndex.postingsOf(batch.select($"doc_id", $"text"))
    val tokPlan = planOf(tokens0)
    assert(tokPlan.linesIterator.count(_.contains("Generate explode")) == 1,
      s"expected exactly 1 tokenization, got:\n$tokPlan")
    val tokens = tokens0.localCheckpoint()
    // …and ZERO in anything derived from it
    val signals0 = TextAnalysis.docSignals(batch, tokens)
    noRetokenize(signals0, "doc signals")
    val signals = signals0.localCheckpoint()
    // signals equal the text-scan forms doc-by-doc (incl. the
    // token-less doc and punct-attached stopwords)
    val fromTokens = signals.select("doc_id", "quality_pm", "lang_pred")
      .as[(Long, Long, String)].collect().toSet
    val fromText = Tables.spread(batch).select(col("doc_id"),
        TextAnalysis.qualityExpr.as("q"), TextAnalysis.langPred.as("l"))
      .as[(Long, Long, String)].collect().toSet
    assert(fromTokens == fromText,
      s"signals diverged:\n$fromTokens\nvs\n$fromText")
    // gate: same rows, all columns, no text scans
    val gated0 = CurateIngest.gateFromSignals(signals)
    noRetokenize(gated0, "gate")
    val cols = Seq("doc_id", "text", "n_chars", "quality_pm", "lang_pred",
      "fingerprint")
    assert(gated0.select(cols.head, cols.tail: _*).collect().toSet ==
      CurateIngest.gateShard(batch).select(cols.head, cols.tail: _*)
        .collect().toSet)
    // classifier sufficient statistics: exact row equality
    val (cls, dstats) = QualityModel.classCountsFromTokens(tokens, signals)
    noRetokenize(cls, "class counts")
    noRetokenize(dstats, "doc stats")
    val (clsT, dstatsT) = QualityModel.classCounts(batch)
    assert(cls.as[(String, Long, Long)].collect().toSet ==
      clsT.as[(String, Long, Long)].collect().toSet)
    assert(dstats.as[(Long, Long)].collect().toSet ==
      dstatsT.as[(Long, Long)].collect().toSet)
    // scoring from the frame (the drift leg's path) equals the
    // explode-scoring form, bit for bit, with no text scan
    val (wgt, prior) = QualityModel.modelFromCounts(clsT, 4L, 2L)
    val wPinned = wgt.localCheckpoint()
    val fromFrameScores = QualityModel.scoreWithTokens(
      batch, tokens, wPinned, prior)
    noRetokenize(fromFrameScores, "frame scoring")
    assert(fromFrameScores.select("doc_id", "n_tokens", "nb_score_micro",
        "nb_pos").as[(Long, Long, Long, Int)].collect().toSet ==
      QualityModel.scoreWith(batch, wPinned, prior)
        .select("doc_id", "n_tokens", "nb_score_micro", "nb_pos")
        .as[(Long, Long, Long, Int)].collect().toSet)
    // postings: the kept restriction of the shared frame equals
    // tokenizing only the kept docs
    val keptIds = Seq(10L, 20L).toDF("doc_id")
    val fromFrame = tokens.join(keptIds, Seq("doc_id"))
    noRetokenize(fromFrame, "postings")
    assert(fromFrame.select("doc_id", "token", "tf", "dl")
      .as[(Long, String, Long, Int)].collect().toSet ==
      SparseIndex.postingsOf(batch.select($"doc_id", $"text")
          .join(keptIds, Seq("doc_id")))
        .as[(Long, String, Long, Int)].collect().toSet)
  }

  test("gopher on: ONE positional text scan; tf frame and repetition signals both derive from it") {
    import graft.text.{Repetition, SparseIndex}
    // round-trip through parquet: a LOCAL relation constant-folds the
    // projection (ConvertToLocalRelation) and the plan gate would see
    // an empty LocalTableScan instead of the real scan shape
    val work = java.nio.file.Files.createTempDirectory("posframe").toString
    Seq(
      10L -> nearA0, 20L -> bodyB,
      30L -> "zzz qqq www eee flux",
      40L -> "line one\nline one\n\npar two\n\npar two", // dup segments
      50L -> "")                                         // token-less doc
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$work/batch")
    val batch = spark.read.parquet(s"$work/batch")
    def planOf(df: DataFrame): String = {
      df.queryExecution.toRdd.count() // EXECUTED, not planned
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val textScan = """regexp_extract_all\(text#""".r
    // THE one text scan: the positional frame holds the single
    // regexp_extract_all over the text column and no explode at all
    val pb0 = Repetition.positionalBase(batch)
    val pbPlan = planOf(pb0)
    assert(textScan.findAllIn(pbPlan).size == 1 &&
      !pbPlan.contains("Generate explode"), s"positional frame:\n$pbPlan")
    val pb = pb0.localCheckpoint()
    // the tf frame explodes the PINNED ws array — zero text regexes —
    // and equals tokenizing the text directly, doc by doc
    val tokens0 = SparseIndex.postingsFromBase(pb)
    val tokPlan = planOf(tokens0)
    assert(textScan.findFirstIn(tokPlan).isEmpty,
      s"tf frame re-scanned text:\n$tokPlan")
    assert(tokens0.as[(Long, String, Long, Int)].collect().toSet ==
      SparseIndex.postingsOf(batch.select($"doc_id", $"text"))
        .as[(Long, String, Long, Int)].collect().toSet)
    // the repetition signals explode the same pinned arrays — zero
    // text regexes — and equal the direct text-scan form, doc by doc
    // (incl. the dup-segment doc and the token-less doc)
    val rep0 = Repetition.signalsFromBase(pb)
    val repPlan = planOf(rep0)
    assert(textScan.findFirstIn(repPlan).isEmpty,
      s"repetition leg re-scanned text:\n$repPlan")
    assert(rep0.collect().toSet ==
      Repetition.repetitionSignals(batch).collect().toSet)
    // the survivor restriction the gate applies commutes: per-doc
    // signals over a restricted base == full signals, restricted
    val survivors = Seq(10L, 40L, 50L).toDF("doc_id")
    assert(Repetition.signalsFromBase(
        pb.join(survivors, Seq("doc_id"), "left_semi")).collect().toSet ==
      rep0.join(survivors, Seq("doc_id"), "left_semi").collect().toSet)
  }

  /** One parquet FILE per shard, mtimes increasing so the file
    * source's (timestamp, path) order is the id order. */
  private def writeShardFiles(work: String): java.io.File = {
    val src = new java.io.File(s"$work/src"); src.mkdirs()
    shards.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$work/tmp$i"
      rows.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"shard$i%02d.parquet")
      assert(part.renameTo(dst))
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    src
  }

  private def shardStream(src: java.io.File): DataFrame =
    spark.readStream
      .schema("doc_id LONG, text STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1).parquet(src.toString)

  test("kill+restart mid-stream: every store equals the uninterrupted twin and its batch twin") {
    val work = java.nio.file.Files.createTempDirectory("combined").toString
    val src = writeShardFiles(work)
    def start(root: String) = CombinedIngest.start(
      shardStream(src), root, s"$root/chk", compactEvery = Some(2L))

    // interrupted run: kill after ≥2 committed batches, restart, drain
    val r1 = s"$work/r1"
    val q1 = start(r1)
    var waited = 0
    while (q1.recentProgress.length < 2 && waited < 600) {
      Thread.sleep(100); waited += 1
    }
    q1.stop()
    val q1b = start(r1)
    q1b.processAllAvailable(); q1b.stop()
    assert(q1b.exception.isEmpty, s"restarted stream died: ${q1b.exception}")

    // golden uninterrupted run over the same shards
    val r2 = s"$work/r2"
    val q2 = start(r2)
    q2.processAllAvailable(); q2.stop()
    assert(q2.exception.isEmpty, s"golden stream died: ${q2.exception}")

    // ---- store-for-store: interrupted == golden
    val kept1 = keptSet(Flat.inventory(spark, Store.Kept, r1))
    assert(kept1 == keptSet(Flat.inventory(spark, Store.Kept, r2)))
    val labels1 = labelsOf(ClusterRefresh.latestLabels(spark, s"$r1/labels"))
    assert(labels1 ==
      labelsOf(ClusterRefresh.latestLabels(spark, s"$r2/labels")))
    val (w1, p1) = QualityRefresh.modelState(spark, s"$r1/counts",
      s"$r1/dstats")
    val (w2, p2) = QualityRefresh.modelState(spark, s"$r2/counts",
      s"$r2/dstats")
    assert(p1 == p2 && scoresOf(w1, p1) == scoresOf(w2, p2))
    val search1 = searchOf(r1)
    assert(search1 == searchOf(r2))

    // ---- batch twins
    // curation: the deterministic strict loop over the same shards
    assert(kept1 == keptSet(CurateIngest.incrCurateStrict(allDocs,
      maxId = 900L)))
    // the intra-batch pair keeps exactly one of {310, 315} (dropsBest
    // by quality); everything else is pinned
    assert((kept1 & Set(310L, 315L)).size == 1, s"kept $kept1")
    assert(kept1 -- Set(310L, 315L) ==
      Set(10L, 20L, 170L, 460L, 610L, 760L), s"kept $kept1")
    // clusters: the deferred chain merged transitively, the pair
    // trail rebuilds the same labeling
    assert(labels1(10L) == labels1(180L) && labels1(180L) == labels1(470L))
    assert(labels1(170L) == labels1(620L) &&
      labels1(170L) != labels1(10L), s"labels $labels1")
    // the INTRA-batch pair reached the pairs store (batch self-probe):
    // {310, 315} cluster together, and the later arrival 765 chains
    // through 315's tombstone into the same cluster
    assert(labels1(310L) == labels1(315L) &&
      labels1(315L) == labels1(765L) &&
      labels1(310L) != labels1(10L), s"labels $labels1")
    assert(labels1 == labelsOf(graft.dedup.Clusters.connectedComponents(
      ClusterRefresh.pairState(spark, s"$r1/pairs").drop("batch_id"))))
    // quality model: bit-equal to batch training on everything seen
    val batchScores = graft.text.QualityModel.nbQuality(allDocs)
      .select("doc_id", "nb_score_micro").as[(Long, Long)].collect().toMap
    assert(scoresOf(w1, p1) == batchScores)
    // BM25: the store-backed index scores the kept corpus exactly as
    // the flat batch scorer does
    val keptDocs = allDocs.join(
      Flat.inventory(spark, Store.Kept, r1).select("doc_id"),
      Seq("doc_id"))
    val batchBm25 = graft.text.CorpusStats.bm25(keptDocs)
      .as[(Long, Double, Int)].collect().toSeq
    assert(search1 == batchBm25 && search1.nonEmpty,
      s"bm25 $search1 vs $batchBm25")
    // compaction ran mid-stream on every store: trees are bounded
    assert(new java.io.File(s"$r2/postings/batch_id=-1").exists,
      "postings never compacted")
    assert(new java.io.File(s"$r2/counts/batch_id=-1").exists,
      "counts never compacted")
  }

  test("drift leg: an injected shift fires the store-read alert after kill+restart; quiet batches stay quiet") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DriftMonitor
    val work = java.nio.file.Files.createTempDirectory("combineddrift").toString
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    def good(i: Long) = mk(i,
      s"the cat and the dog walked over a bridge $i and the sun rose " * 4)
    def junk(i: Long) = mk(i,
      s"zzz qqq www ${java.lang.Long.toHexString(i * 2654435761L)} flux")
    def de(i: Long) = mk(i,
      s"der hund und die katze lief ueber das feld $i und der mond " * 12)
    // batches 0-3: stable 4-good/1-junk mix; batch 4: junk-heavy AND
    // German-heavy — both axes must fire there and only there
    val batches: Seq[Seq[DocEv]] = Seq(
      (0L to 3L).map(good) :+ junk(4L),
      (10L to 13L).map(good) :+ junk(14L),
      (20L to 23L).map(good) :+ junk(24L),
      (30L to 33L).map(good) :+ junk(34L),
      Seq(good(40L), junk(41L), junk(42L), junk(43L), junk(44L),
        junk(45L), de(46L), de(47L), de(48L)))
    val ms = MemoryStream[DocEv]
    val root = s"$work/r"
    def start() = CombinedIngest.start(ms.toDF(), root, s"$root/chk")
    // feed 2 batches, kill, restart against the same checkpoint, drain
    val q1 = start()
    try {
      ms.addData(batches(0): _*); q1.processAllAvailable()
      ms.addData(batches(1): _*); q1.processAllAvailable()
    } finally q1.stop() // crash here
    val q2 = start()
    try {
      batches.drop(2).foreach { b =>
        ms.addData(b: _*); q2.processAllAvailable()
      }
      assert(q2.exception.isEmpty, s"stream died: ${q2.exception}")
    } finally q2.stop()
    // the alert fires FROM THE STORE, for the injected batch only
    for (axis <- Seq(DriftMonitor.LangAxis, DriftMonitor.ScoreAxis)) {
      val alerts = DriftMonitor.driftAlerts(spark, s"$root/drift", axis)
        .select("batch_id").as[Long].collect().toSet
      assert(alerts == Set(4L), s"$axis alerts: $alerts")
      // and the quiet batches are present in the read but quiet
      val psis = DriftMonitor.driftRead(spark, s"$root/drift", axis)
        .select("batch_id", "psi").as[(Long, Double)].collect().toMap
      assert(psis.keySet.contains(3L) && psis(3L) < 0.25,
        s"$axis psis: $psis")
    }
    // golden uninterrupted run: the drift store is byte-identical
    val ms2 = MemoryStream[DocEv]
    val root2 = s"$work/r2"
    val qg = CombinedIngest.start(ms2.toDF(), root2, s"$root2/chk")
    try {
      batches.foreach { b => ms2.addData(b: _*); qg.processAllAvailable() }
    } finally qg.stop()
    def driftRows(r: String): Set[(String, String, Long, Long)] =
      spark.read.parquet(s"$r/drift")
        .select("axis", "key", "cnt", "batch_id")
        .as[(String, String, Long, Long)].collect().toSet
    assert(driftRows(root) == driftRows(root2),
      "kill+restart drift store diverged from the golden run")
  }

  test("drift re-freeze: a new scorer generation silences a persistent shift; kill+restart preserves the generation discipline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DriftMonitor
    val work = java.nio.file.Files.createTempDirectory("refreeze").toString
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    def good(i: Long) = mk(i,
      s"the cat and the dog walked over a bridge $i and the sun rose " * 4)
    def junk(i: Long) = mk(i,
      s"zzz qqq www ${java.lang.Long.toHexString(i * 2654435761L)} flux")
    // the corpus PERMANENTLY shifts junk-heavy at batch 4 — under one
    // frozen scorer every later batch would keep a shifted histogram
    def stable(base: Long) = (base to base + 3L).map(good) :+ junk(base + 4L)
    def shifted(base: Long) = Seq(good(base)) ++
      (base + 1L to base + 5L).map(junk)
    val preBatches = Seq(stable(0L), stable(10L), stable(20L), stable(30L),
      shifted(40L))
    val postBatches = Seq(shifted(50L), shifted(60L), shifted(70L))
    val root = s"$work/r"
    val ms = MemoryStream[DocEv]
    def start() = CombinedIngest.start(ms.toDF(), root, s"$root/chk")
    val q1 = start()
    try {
      preBatches.foreach { b => ms.addData(b: _*); q1.processAllAvailable() }
      assert(q1.exception.isEmpty, s"stream died: ${q1.exception}")
    } finally q1.stop()
    // the shift fired on the gen-0 scorer at batch 4
    def scoreAlerts(): Set[Long] =
      DriftMonitor.driftAlerts(spark, s"$root/drift", DriftMonitor.ScoreAxis)
        .select("batch_id").as[Long].collect().toSet
    assert(scoreAlerts() == Set(4L), s"pre-refreeze alerts: ${scoreAlerts()}")
    // operator action: re-baseline on the post-shift mix
    val refDocs = preBatches.last.toDF()
    val gen = DriftMonitor.refreeze(spark, s"$root/drift", refDocs,
      s"$root/counts", s"$root/dstats")
    assert(gen.contains(1L), s"refreeze returned $gen")
    // continue the stream (one batch), crash, restart, drain the rest:
    // the restarted topology must keep binning under generation 1
    val q2 = start()
    try {
      ms.addData(postBatches.head: _*); q2.processAllAvailable()
    } finally q2.stop() // crash
    val q3 = start()
    try {
      postBatches.tail.foreach { b =>
        ms.addData(b: _*); q3.processAllAvailable()
      }
      assert(q3.exception.isEmpty, s"restarted stream died: ${q3.exception}")
    } finally q3.stop()
    // the persistent shift is QUIET under the new generation: batch 5
    // has no same-generation predecessor (silent), batches 6-7 compare
    // within generation 1 and match its baseline — the only alert ever
    // is the original transition
    assert(scoreAlerts() == Set(4L), s"post-refreeze alerts: ${scoreAlerts()}")
    val psis = DriftMonitor.driftRead(spark, s"$root/drift",
        DriftMonitor.ScoreAxis)
      .select("batch_id", "psi").as[(Long, Double)].collect().toMap
    assert(!psis.contains(5L),
      s"first post-refreeze batch should have no same-gen predecessor: $psis")
    assert(Seq(6L, 7L).forall(b => psis.contains(b) && psis(b) < 0.25),
      s"generation-1 batches not quiet: $psis")
    // the generation rows survived the crash: batches 5-7 binned under
    // gen 1, batches 1-4 under gen 0 (batch 0 froze gen 0)
    val genRows = spark.read.parquet(s"$root/drift")
      .filter(col("axis") === "gen")
      .select("batch_id", "cnt").as[(Long, Long)].collect().toMap
    assert(genRows.filterKeys(_ >= 5L).values.toSet == Set(1L) &&
      genRows.filterKeys(k => k >= 0L && k < 5L).values.toSet == Set(0L),
      s"gen rows: $genRows")
  }

  test("drift replay stickiness: a batch replayed across a re-freeze re-bins under its original generation") {
    import graft.streaming.DriftMonitor
    val work = java.nio.file.Files.createTempDirectory("stickygen").toString
    val root = s"$work/r"
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    def good(i: Long) = mk(i,
      s"the cat and the dog walked over a bridge $i and the sun rose " * 4)
    def junk(i: Long) = mk(i,
      s"zzz qqq www ${java.lang.Long.toHexString(i * 2654435761L)} flux")
    def stable(b: Long) = (b to b + 3L).map(good) :+ junk(b + 4L)
    val batches = Seq(stable(0L), stable(10L), stable(20L))
    batches.zipWithIndex.foreach { case (b, i) =>
      CombinedIngest.processBatch(b.toDF(), i.toLong, root)
    }
    def driftRows(bid: Long): Set[(String, String, Long)] =
      spark.read.parquet(s"$root/drift").filter(col("batch_id") === bid)
        .select("axis", "key", "cnt")
        .as[(String, String, Long)].collect().toSet
    val before = driftRows(2L)
    assert(before.exists(_._1 == "gen"), s"no gen row pre-replay: $before")
    // the operator re-baselines BETWEEN the batch's first write and
    // its crash-replay (the interleaving ADVICE r12 flagged)
    val gen = DriftMonitor.refreeze(spark, s"$root/drift",
      batches.last.toDF(), s"$root/counts", s"$root/dstats")
    assert(gen.contains(1L), s"refreeze returned $gen")
    // the replay lands AFTER the re-freeze: its rows must converge to
    // the first write (gen-0 binning), not re-bin under generation 1
    CombinedIngest.processBatch(batches.last.toDF(), 2L, root)
    assert(driftRows(2L) == before,
      "replayed batch diverged from its first write across the re-freeze")
    // while a FRESH batch after the re-freeze bins under generation 1
    CombinedIngest.processBatch(stable(30L).toDF(), 3L, root)
    val gen3 = driftRows(3L).collect { case ("gen", _, g) => g }
    assert(gen3 == Set(1L), s"fresh batch gen rows: $gen3")
  }

  test("drift replay stickiness: a pre-generation batch (lang rows only) replayed after a re-freeze stays score-free") {
    import graft.streaming.DriftMonitor
    val work = java.nio.file.Files.createTempDirectory("stickynogen").toString
    val root = s"$work/r"
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    def good(i: Long) = mk(i,
      s"the cat and the dog walked over a bridge $i and the sun rose " * 4)
    def stable(b: Long) = (b to b + 4L).map(good)
    // batch 0 runs with NO model state (modelStateBefore(0) is empty):
    // its drift partition is lang rows ONLY — no gen row, no sentinel
    CombinedIngest.processBatch(stable(0L).toDF(), 0L, root)
    def driftRows(bid: Long): Set[(String, String, Long)] =
      spark.read.parquet(s"$root/drift").filter(col("batch_id") === bid)
        .select("axis", "key", "cnt")
        .as[(String, String, Long)].collect().toSet
    val before = driftRows(0L)
    assert(before.nonEmpty && before.forall(_._1 == "lang"),
      s"batch 0 should be lang-only: $before")
    // batch 1 freezes generation 0; the operator then re-baselines
    CombinedIngest.processBatch(stable(10L).toDF(), 1L, root)
    val gen = DriftMonitor.refreeze(spark, s"$root/drift",
      stable(10L).toDF(), s"$root/counts", s"$root/dstats")
    assert(gen.contains(1L), s"refreeze returned $gen")
    // replaying batch 0 AFTER generations exist must not score it
    // under a generation frozen later (ADVICE r13): its own partition
    // without a gen row is sticky "no scoring" — rows converge to the
    // first write exactly
    CombinedIngest.processBatch(stable(0L).toDF(), 0L, root)
    assert(driftRows(0L) == before,
      "pre-generation batch diverged from its first write on replay")
  }

  test("gopher-gated topology: a quality-passing boilerplate doc never reaches the stores") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val work = java.nio.file.Files.createTempDirectory("combinedgopher").toString
    implicit val ctx = spark.sqlContext
    val clean = (0 until 30)
      .map(i => f"the w$i%02da a x$i%02db").mkString(" ")
    val boiler = "the cat and the dog " * 40 // passes quality, fails Gopher
    val ms = MemoryStream[DocEv]
    val root = s"$work/r"
    val q = CombinedIngest.start(ms.toDF(), root, s"$root/chk",
      gopherGate = true)
    try {
      ms.addData(DocEv(10L, clean, clean.length.toLong),
        DocEv(20L, boiler, boiler.length.toLong))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(keptSet(Flat.inventory(spark, Store.Kept, root)) ==
        Set(10L))
      // the gate ran BEFORE the signature store: no tombstone either
      assert(Flat.state(spark, Store.Sig, root, 99L).compact
        .select("doc_id").as[Long].collect().toSet == Set(10L))
    } finally q.stop()
  }

  test("gopher-quality-gated topology: a bullet-formatted quality-passing doc never reaches the stores") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val work = java.nio.file.Files.createTempDirectory("combinedshape").toString
    implicit val ctx = spark.sqlContext
    // clean: 120 words, exactly at the mean-word-length floor (300
    // cpm), two stop words from the pinned list — passes every rule
    val clean = (0 until 30)
      .map(i => f"the w$i%02da a x$i%02db").mkString(" ")
    // listy: quality-PASSING (stopword-rich, no punct) and
    // repetition-clean (unique words), but every line is a bullet —
    // exactly the shape only the Table A1 left column catches
    val listy = (0 until 30)
      .map(i => f"- the l$i%02dc a m$i%02dd").mkString("\n")
    // corpus-appropriate stop list (the synthetic register has only
    // the/a of the published function words)
    val stops = Seq("the", "a", "to", "of", "and", "that", "have", "with")
    val ms = MemoryStream[DocEv]
    val root = s"$work/r"
    val q = CombinedIngest.start(ms.toDF(), root, s"$root/chk",
      gopherQualityStops = Some(stops))
    try {
      ms.addData(DocEv(10L, clean, clean.length.toLong),
        DocEv(20L, listy, listy.length.toLong))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(keptSet(Flat.inventory(spark, Store.Kept, root)) ==
        Set(10L))
      // gated BEFORE the signature store — no tombstone either
      assert(Flat.state(spark, Store.Sig, root, 99L).compact
        .select("doc_id").as[Long].collect().toSet == Set(10L))
      // …while the plain heuristic gate would have admitted it
      val d = Seq(10L -> clean, 20L -> listy).toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
      assert(keptSet(CurateIngest.gateShard(d)) == Set(10L, 20L))
    } finally q.stop()
  }

  test("bucketed combined mode: kill+restart equality, batch twins, exchange-free store joins") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val work = java.nio.file.Files.createTempDirectory("combinedbkt").toString
    val src = writeShardFiles(work)
    def start(root: String, prefix: String) = CombinedIngest.start(
      shardStream(src), root, s"$root/chk", Bucketed(prefix),
      compactEvery = Some(2L))
    val r1 = s"$work/r1"; val px1 = "cbm1"
    val r2 = s"$work/r2"; val px2 = "cbm2"
    try {
      // interrupted run: kill after ≥2 committed batches, restart, drain
      val q1 = start(r1, px1)
      var waited = 0
      while (q1.recentProgress.length < 2 && waited < 600) {
        Thread.sleep(100); waited += 1
      }
      q1.stop()
      val q1b = start(r1, px1)
      q1b.processAllAvailable(); q1b.stop()
      assert(q1b.exception.isEmpty, s"restarted stream died: ${q1b.exception}")
      // golden uninterrupted run
      val q2 = start(r2, px2)
      q2.processAllAvailable(); q2.stop()
      assert(q2.exception.isEmpty, s"golden stream died: ${q2.exception}")
      // compaction produced the bucket tables, folded partitions gone
      assert(spark.catalog.tableExists(s"${px2}_fp") &&
        spark.catalog.tableExists(s"${px2}_sig") &&
        spark.catalog.tableExists(s"${px2}_postings"))
      assert(!new java.io.File(s"$r2/fps/batch_id=0").exists)
      assert(!new java.io.File(s"$r2/postings/batch_id=0").exists)
      // ---- interrupted == golden, and == the batch twins
      val kept1 = keptSet(
        Bucketed(px1).inventory(spark, Store.Kept, r1))
      assert(kept1 == keptSet(
        Bucketed(px2).inventory(spark, Store.Kept, r2)))
      assert(kept1 == keptSet(CurateIngest.incrCurateStrict(allDocs,
        maxId = 900L)))
      val labels1 = labelsOf(ClusterRefresh.latestLabels(spark, s"$r1/labels"))
      assert(labels1 ==
        labelsOf(ClusterRefresh.latestLabels(spark, s"$r2/labels")))
      assert(labels1(310L) == labels1(315L) &&
        labels1(315L) == labels1(765L) &&
        labels1(10L) == labels1(180L) && labels1(180L) == labels1(470L) &&
        labels1(170L) == labels1(620L) && labels1(310L) != labels1(10L),
        s"labels $labels1")
      assert(labels1 == labelsOf(graft.dedup.Clusters.connectedComponents(
        ClusterRefresh.pairState(spark, s"$r1/pairs").drop("batch_id"))))
      val (w1, pr1) = QualityRefresh.modelState(spark, s"$r1/counts",
        s"$r1/dstats")
      assert(scoresOf(w1, pr1) == graft.text.QualityModel.nbQuality(allDocs)
        .select("doc_id", "nb_score_micro").as[(Long, Long)].collect().toMap)
      // BM25 bucketed read model == the flat batch scorer on kept docs
      val search1 = graft.text.SparseIndex.search(
        CombinedIngest.bm25Index(spark, r1, Bucketed(px1)),
        Seq("spark", "join", "window", "hash"))
        .as[(Long, Double, Int)].collect().toSeq
      val keptDocs = allDocs.join(
        Bucketed(px1).inventory(spark, Store.Kept, r1)
          .select("doc_id"), Seq("doc_id"))
      val batchBm25 = graft.text.CorpusStats.bm25(keptDocs)
        .as[(Long, Double, Int)].collect().toSeq
      assert(search1 == batchBm25 && search1.nonEmpty,
        s"bm25 $search1 vs $batchBm25")
      // ---- plan gates: the combined batch's store joins, constructed
      // exactly as processBatchBucketed constructs them (shared-token
      // gate input), must read the bucket tables with NO store-side
      // exchange — SMJ shape pinned (no auto-broadcast, no AQE)
      val prevAB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAQE = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        def bucketedNoExchange(
            sides: Seq[org.apache.spark.sql.execution.SparkPlan],
            what: String): Unit =
          assert(sides.exists { r =>
            r.collect { case e: Exchange => e }.isEmpty &&
              r.collect { case s: FileSourceScanExec if s.bucketedScan => s }
                .nonEmpty
          }, s"$what: no exchange-free bucketed store side in\n${sides.mkString("\n---\n")}")
        val next = Seq(900L -> (bodyD + " nine hundred"))
          .toDF("doc_id", "text")
          .withColumn("n_chars", length(col("text")).cast("long"))
        val tokens = graft.text.SparseIndex.postingsOf(
          next.select($"doc_id", $"text")).localCheckpoint()
        val gated = CurateIngest.gateFromSignals(
          graft.text.TextAnalysis.docSignals(next, tokens)).localCheckpoint()
        val StoreSides(fpC, Some(fpD)) = Bucketed(px2).state(spark, Store.Fp, r2, 6L)
        val probe = Funnel.fresh(gated,
          StoreSides(fpC, Some(fpD)))
        probe.queryExecution.toRdd.count() // EXECUTED, not planned
        bucketedNoExchange(probe.queryExecution.executedPlan.collect {
          case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" =>
            j.right
        }, "fp anti-join")
        val StoreSides(sigC, Some(sigD)) = Bucketed(px2).state(spark, Store.Sig, r2, 6L)
        val bands = CurateIngest.sigBands(gated.select($"doc_id", $"text"))
          .localCheckpoint()
        val probe2 = Funnel.collisions(bands, StoreSides(sigC, Some(sigD)), 0.5)
        probe2.queryExecution.toRdd.count()
        bucketedNoExchange(probe2.queryExecution.executedPlan.collect {
          case j: SortMergeJoinExec if j.joinType.sql == "INNER" => j.right
        }, "sig collision join")
        // the cluster leg's detection probe: bucketed table on the left
        val det = CurateIngest.crossShardNearDupsFromSigs(sigC, bands)
        det.queryExecution.toRdd.count()
        bucketedNoExchange(det.queryExecution.executedPlan.collect {
          case j: SortMergeJoinExec if j.joinType.sql == "INNER" => j.left
        }, "detection probe")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAB)
        spark.conf.set("spark.sql.adaptive.enabled", prevAQE)
      }
    } finally Seq(px1, px2).foreach(p =>
      Seq("fp", "sig", "kept", "postings").foreach(k =>
        spark.sql(s"DROP TABLE IF EXISTS ${p}_$k")))
  }
}
