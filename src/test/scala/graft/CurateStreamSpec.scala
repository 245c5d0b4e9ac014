package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CurateIngest, Funnel, Store, StoreSides}
import graft.streaming.StoreLayout.{Bucketed, Flat}

case class DocEv(doc_id: Long, text: String, n_chars: Long)

/** Shard-at-a-time corpus ingestion: the streamed pipeline must equal
  * the deterministic loop (and thus the flat q_curate_incr oracle),
  * drop cross-shard exact duplicates first-wins, absorb a crash-
  * replayed batch bit-exactly, and surface deferred cross-shard
  * near-dups through the detection query. */
class CurateStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def enDoc(tail: String): String =
    ("the cat and the dog walked over a bridge and the sun rose " * 4) + tail

  def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

  private def keptSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  // distinct per-doc bodies: long, stopword-rich, English — but far
  // apart in 4-gram shingle space so only PLANTED duplicates cluster
  private val bodyA = "the cat and the dog walked over the bridge and the sun rose " * 4
  private val bodyB = "the ship sailed over the sea and the wind blew from the north " * 4
  private val bodyC = "a bird flew over the hills and the rain fell on the green grass " * 4
  private val bodyD = "the horse ran through the field and the moon rose over the lake " * 4

  test("cross-shard exact dup drops; first arrival wins; loop == one-shard batch on dup-free input") {
    val d = docs(
      (10L, bodyA),
      (20L, bodyB),                              // shard 0 original
      (170L, bodyB),                             // shard 1 exact copy → drop
      (180L, bodyC),
      (320L, bodyD),
      (330L, "el la que el la que"))             // gated out (lang)
    val out = CurateIngest.incrCurate(d)
    val kept = keptSet(out)
    assert(kept == Set(10L, 20L, 180L, 320L), s"kept $kept")
    // shard_id rides along as doc_id div shardSize
    val shards = out.select("doc_id", "shard_id").as[(Long, Long)]
      .collect().toMap
    assert(shards(320L) == 2L && shards(20L) == 0L)
    // with no cross-shard interaction the loop equals plain curation
    val dupFree = docs((10L, bodyA), (170L, bodyC),
      (320L, ("different prose about the sea and a ship " * 6)))
    assert(keptSet(CurateIngest.incrCurate(dupFree)) ==
      keptSet(graft.text.Curate.curate(dupFree)))
  }

  test("streamed ingestion == deterministic loop; replayed batch is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("curatestream").toString
    implicit val ctx = spark.sqlContext
    val shard0 = Seq(DocEv(10L, bodyA, 0L),
      DocEv(20L, bodyB, 0L)).map(e => e.copy(n_chars = e.text.length.toLong))
    val shard1 = Seq(DocEv(170L, bodyB, 0L), // exact copy of 20 → must drop
      DocEv(180L, bodyC, 0L))
      .map(e => e.copy(n_chars = e.text.length.toLong))
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk")
    try {
      ms.addData(shard0: _*); q.processAllAvailable()
      ms.addData(shard1: _*); q.processAllAvailable()
      val streamed = keptSet(Flat.inventory(spark, Store.Kept, dir))
      assert(streamed == Set(10L, 20L, 180L), s"streamed $streamed")
      // the loop over the same id-ordered shards agrees row-for-row
      val loop = CurateIngest.incrCurate(
        docs(shard0.map(e => (e.doc_id, e.text)) ++
          shard1.map(e => (e.doc_id, e.text)): _*))
      assert(keptSet(loop) == streamed)
      // crash-replay batch 1: its partitions rewrite with identical
      // content — fpState(beforeBatch) pins the pre-batch store view
      CurateIngest.writeShard(
        shard1.toDF(), batchId = 1L, dir)
      val replayed = keptSet(Flat.inventory(spark, Store.Kept, dir))
      assert(replayed == streamed, "replay changed the survivors")
    } finally q.stop()
  }

  test("kill + restart from checkpoint: ingestion resumes without loss or duplication") {
    val dir = java.nio.file.Files.createTempDirectory("curaterestart").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[DocEv]
    def start() = CurateIngest.start(ms.toDF(), dir, s"$dir/chk")
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val q1 = start()
    try {
      ms.addData(mk(10L, bodyA), mk(20L, bodyB))
      q1.processAllAvailable()
    } finally q1.stop() // crash here
    // restart against the SAME checkpoint; new data includes an exact
    // copy of a pre-crash survivor, which the restored store must drop
    val q2 = start()
    try {
      ms.addData(mk(170L, bodyB), mk(180L, bodyC))
      q2.processAllAvailable()
      val kept = Flat.inventory(spark, Store.Kept, dir)
        .select("doc_id").as[Long].collect().toList
      assert(kept.sorted == List(10L, 20L, 180L),
        s"loss or duplication across restart: $kept")
      assert(kept.distinct.size == kept.size, "duplicated survivor rows")
    } finally q2.stop()
  }

  test("an all-gated-out batch does not kill the stream") {
    val dir = java.nio.file.Files.createTempDirectory("curateempty").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk")
    try {
      // batch 0: everything fails the language gate → empty partitions
      ms.addData(DocEv(1L, "el la que el la que", 19L))
      q.processAllAvailable()
      // batch 1 must still process (schema inference over the file-less
      // store directory used to throw and kill the query here)
      ms.addData(DocEv(10L, bodyA, bodyA.length.toLong))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(keptSet(Flat.inventory(spark, Store.Kept, dir)) ==
        Set(10L))
    } finally q.stop()
  }

  test("crossShardNearDups reports pairs in both id orientations") {
    // the LATER shard carries the LOWER id — arrival order is allowed
    // to differ from id order, and the candidate canonicalizes as
    // (lower, higher), so the detection must accept both orientations
    val base = enDoc("")
    val earlier = docs((300L, base + "zzz qqq 12345"))
    val later = docs((50L, base + "zzz qqq 12399"))
    val pairs = CurateIngest.crossShardNearDups(earlier, later)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((50L, 300L)), s"orientation lost: $pairs")
  }

  test("shardMixDrift: an injected language skew spikes the shard's PSI") {
    // shards 0-1: uniform en; shard 2: the mix flips to de
    val en = ("the cat and the dog walked over the bridge and the sun rose " * 4)
    // 10 repeats: ≥100 tokens maxes the length part, so the de docs
    // clear the quality floor WITHOUT English stopwords (the floor is
    // length 400 + punct 300 = 700 ≥ 600)
    val de = ("der hund und die katze gehen über die brücke und der wind weht " * 10)
    val rows = (0L until 450L).map { i =>
      (i, if (i >= 300L && i % 2 == 0) de + i else en + i)
    }
    val d = docs(rows: _*)
    val psi = graft.streaming.CurateIngest.shardMixDrift(d)
      .select("shard_id", "psi").as[(Long, Double)].collect().toMap
    assert(math.abs(psi(1L)) < 0.01, s"stable shards must not alert: $psi")
    assert(psi(2L) > 0.5, s"the flipped shard must spike: $psi")
  }

  test("qualityScoreDrift: an injected quality shift spikes the score-decile PSI") {
    // shards 0-1: 1-in-4 junk; shard 2: the ratio flips to 3-in-4 —
    // the accept rate still moves, but the SCORE DISTRIBUTION is what
    // the calibration read alerts on (deciles drain from the top bins)
    // scores must SPREAD within every shard (repeat counts vary the
    // token totals), or whole classes tie on one score and the
    // deterministic doc_id tie-break turns ntile bins shard-ordered
    val sentence = "the cat and the dog walked over the bridge and the sun rose "
    val junk = "zzz qqq www eee flux capacitor resistor blorp "
    val rows = (0L until 450L).map { i =>
      val isJunk = if (i < 300L) i % 4 == 0 else i % 4 != 0
      val reps = 4 + (i % 7).toInt
      (i, (if (isJunk) junk else sentence) * reps +
        (s"$i " * (1 + (i % 13).toInt)))
    }
    val d = docs(rows: _*)
    val psi = graft.streaming.CurateIngest.qualityScoreDrift(d)
      .select("shard_id", "psi").as[(Long, Double)].collect().toMap
    assert(math.abs(psi(1L)) < 0.05, s"stable shards must not alert: $psi")
    assert(psi(2L) > 0.25, s"the shifted shard must cross the PSI action threshold: $psi")
    assert(psi(2L) > 10 * math.abs(psi(1L)), s"no separation: $psi")
    // the production binning (sketch-derived boundaries, map-side
    // assignment, no global sort) must tell the same story: quiet
    // shards quiet, the shifted shard over the action threshold
    val psiS = graft.streaming.CurateIngest.qualityScoreDriftSketch(d)
      .select("shard_id", "psi").as[(Long, Double)].collect().toMap
    assert(math.abs(psiS(1L)) < 0.05, s"sketch binning false-alerted: $psiS")
    assert(psiS(2L) > 0.25, s"sketch binning missed the shift: $psiS")
  }

  test("gopher gate: a planted boilerplate doc is rejected with the repetitious reason") {
    // clean: alternating stopword glue + unique words — passes quality
    // (stopword-rich, 60 tokens) with no repeated n-gram
    val clean = (0 until 30)
      .map(i => f"the w$i%02da a x$i%02db").mkString(" ")
    // boilerplate: quality-PASSING (stopword-rich, long, no punct) but
    // dominated by one repeated bigram chain — exactly what the
    // heuristic gate cannot see and the Gopher rules exist to catch
    val boiler = "the cat and the dog " * 40
    val d = docs((10L, clean), (20L, boiler))
    // the ingest gate drops it before any store work…
    val gated = CurateIngest.gateShardGopher(d)
    assert(keptSet(gated) == Set(10L), s"gated ${keptSet(gated)}")
    // …while the plain heuristic gate would have admitted it
    assert(keptSet(CurateIngest.gateShard(d)) == Set(10L, 20L))
    // and the batch funnel audit reports the dedicated reject reason
    val verdicts = graft.text.Curate.curateGopherAudit(d)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(verdicts == Map(10L -> "kept", 20L -> "repetitious"),
      s"verdicts $verdicts")
  }

  test("incrCurateFullStrict: each cross-shard stage isolated by its knob") {
    // four stopword-rich sentence pools with disjoint content words, no
    // internal repetition (so the scrub only cuts what we plant)
    def pool(ws: Seq[String]): String = ws.grouped(2).zipWithIndex.map {
      case (Seq(a, b), i) =>
        s"the $a went over the old $b and the ${a}s came back to the $b"
      case (Seq(a), _) => s"the $a stood by the other $a all day long"
    }.mkString(". ") + "."
    val baseB = pool(Seq("ship", "harbor", "sailor", "mast", "anchor", "tide"))
    val baseC = pool(Seq("miller", "field", "baker", "oven", "farmer", "cart"))
    val baseD = pool(Seq("teacher", "school", "pupil", "desk", "writer", "book"))
    val benchDoc = pool(Seq("falcon", "cliff", "otter", "river", "badger", "den"))
    // 76-char boilerplate block >= the k=40 scrub threshold
    val boiler = "this footer is the same legal boilerplate repeated " +
      "on every single page here ok"
    // < 40-char chunks re-ordered: no shared 40-char span survives for
    // the scrub to cut, but the shingle multiset (→ MinHash) and the
    // distinct 8-grams (→ contamination ratio) are ~3/4 preserved
    def reshuffle(t: String): String =
      t.split(" ").grouped(5).map(_.mkString(" ")).toSeq.reverse.mkString(" ")
    val d = docs(
      (1L, benchDoc),                // bench stand-in (id < 20), kept on merits
      (10L, baseB + " " + boiler),   // first owner of the boilerplate
      (170L, baseC),                 // shard 1
      (180L, baseB + " " + boiler),  // exact copy of 10 → scrubbed to EMPTY
      (320L, reshuffle(baseC) + " zq"),   // shard 2: near-dup of 170
      (330L, reshuffle(benchDoc)),        // shard 2: benchmark leak
      (470L, baseD))                 // shard 3: clean
    def run(minEstJ: Double, maxContamPm: Long): Set[Long] =
      CurateIngest.incrCurateFullStrict(d, minEstJaccard = minEstJ,
          maxContamPm = maxContamPm)
        .select("doc_id").as[Long].collect().toSet
    // all stages on: 180 dies at the gate (its every span is owned by
    // doc 10, the scrub empties it — the drop only the scrub∘gate
    // composition produces), 320 dies against the signature store,
    // 330 dies as a leak (or as a near-dup of 1 — either way gone)
    val full = run(0.5, 700)
    assert(full == Set(1L, 10L, 170L, 470L), s"kept $full")
    // near-dup knob off → exactly 320 comes back (the sig store was
    // its killer); 330 still dies: the contamination stage
    val noNd = run(2.0, 700)
    assert(noNd == Set(1L, 10L, 170L, 320L, 470L), s"kept $noNd")
    // contamination knob off too → exactly 330 comes back; 180 never
    // does (no knob disables the scrub∘gate composition)
    val noC = run(2.0, 1001)
    assert(noC == Set(1L, 10L, 170L, 320L, 330L, 470L), s"kept $noC")
    // dup-free corpus: the loop equals the flat batch funnel
    val clean = docs((10L, baseB), (170L, baseC), (330L, baseD))
    val loopC = CurateIngest.incrCurateFullStrict(clean)
      .select("doc_id").as[Long].collect().toSet
    val batchC = graft.text.Curate.curateFull(clean)
      .select("doc_id").as[Long].collect().toSet
    assert(loopC == batchC, s"loop $loopC vs batch $batchC")
  }

  test("full-funnel stream: kill+restart+replay equals the deterministic loop") {
    // same planted corpus as the knob test, streamed in id order with
    // a crash between shards and a manual replay of the last batch
    def pool(ws: Seq[String]): String = ws.grouped(2).zipWithIndex.map {
      case (Seq(a, b), i) =>
        s"the $a went over the old $b and the ${a}s came back to the $b"
      case (Seq(a), _) => s"the $a stood by the other $a all day long"
    }.mkString(". ") + "."
    val baseB = pool(Seq("ship", "harbor", "sailor", "mast", "anchor", "tide"))
    val baseC = pool(Seq("miller", "field", "baker", "oven", "farmer", "cart"))
    val baseD = pool(Seq("teacher", "school", "pupil", "desk", "writer", "book"))
    val benchDoc = pool(Seq("falcon", "cliff", "otter", "river", "badger", "den"))
    val boiler = "this footer is the same legal boilerplate repeated " +
      "on every single page here ok"
    def reshuffle(t: String): String =
      t.split(" ").grouped(5).map(_.mkString(" ")).toSeq.reverse.mkString(" ")
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val shards = Seq(
      Seq(mk(1L, benchDoc), mk(10L, baseB + " " + boiler)),
      Seq(mk(170L, baseC), mk(180L, baseB + " " + boiler)),
      Seq(mk(320L, reshuffle(baseC) + " zq"), mk(330L, reshuffle(benchDoc))),
      Seq(mk(470L, baseD)))
    val all = docs(shards.flatten.map(e => (e.doc_id, e.text)): _*)
    val bench = graft.dedup.Dedup.shingles(
        all.filter(col("doc_id") < 20L), 8)
      .select(col("sh")).distinct().localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("fullfunnel").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[DocEv]
    def start() = CurateIngest.start(ms.toDF(), dir, s"$dir/chk",
      Funnel.full(bench, maxContamPm = 700), compactEvery = Some(2L))
    val q1 = start()
    try {
      shards.take(2).foreach { s => ms.addData(s: _*); q1.processAllAvailable() }
    } finally q1.stop() // crash between shards 1 and 2
    val q2 = start()
    try {
      shards.drop(2).foreach { s => ms.addData(s: _*); q2.processAllAvailable() }
      assert(q2.exception.isEmpty, s"stream died: ${q2.exception}")
      val streamed = keptSet(Flat.inventory(spark, Store.Kept, dir))
      val loop = keptSet(CurateIngest.incrCurateFullStrict(all,
        maxContamPm = 700))
      assert(streamed == loop && streamed == Set(1L, 10L, 170L, 470L),
        s"streamed $streamed vs loop $loop")
      // crash-replay of the LAST batch: all four partitions rewrite
      // with identical content (every store read is pre-batch pinned)
      CurateIngest.writeShard(shards(3).toDF(), batchId = 3L, dir,
        Funnel.full(bench, maxContamPm = 700))
      val replayed = keptSet(Flat.inventory(spark, Store.Kept, dir))
      assert(replayed == streamed, "replay changed the survivors")
      // the gram compaction tick fired mid-stream
      assert(spark.read.parquet(s"$dir/grams")
        .filter(col("batch_id") === -1L).count() > 0, "grams not folded")
    } finally q2.stop()

    // BUCKETED mode on the same shards: kill+restart equality again,
    // every store join bucket-aligned (the per-join plan shapes are
    // gated by the bucketed-compaction and gram-store tests)
    val bdir = java.nio.file.Files.createTempDirectory("fullfunnelb").toString
    val prefix = "cifb"
    val ms2 = MemoryStream[DocEv]
    def startB() = CurateIngest.start(ms2.toDF(), bdir, s"$bdir/chk",
      Funnel.full(bench, maxContamPm = 700), Bucketed(prefix), compactEvery = Some(2L))
    val b1 = startB()
    try {
      shards.take(2).foreach { s => ms2.addData(s: _*); b1.processAllAvailable() }
    } finally b1.stop()
    val b2 = startB()
    try {
      shards.drop(2).foreach { s => ms2.addData(s: _*); b2.processAllAvailable() }
      assert(b2.exception.isEmpty, s"bucketed stream died: ${b2.exception}")
      val streamedB = keptSet(
        Bucketed(prefix).inventory(spark, Store.Kept, bdir))
      assert(streamedB == Set(1L, 10L, 170L, 470L), s"bucketed $streamedB")
      assert(spark.catalog.tableExists(s"${prefix}_gram") &&
        spark.catalog.tableExists(s"${prefix}_fp"), "bucket tables missing")
    } finally {
      b2.stop()
      Seq("gram", "fp", "sig", "kept").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
  }

  test("gopher stage in the incremental full funnel: boilerplate dies at the repetition gate, plain and bucketed") {
    // clean docs: alternating stopword glue + unique words (quality-
    // passing, repetition-free); boilerplate: quality-PASSING but
    // gram-dominated — and it stays gram-dominated after the scrub
    // stage trims its self-repeats (the scrubbed residue is still one
    // repeated bigram chain), so only the gopher stage can catch it
    val clean = (0 until 30).map(i => f"the w$i%02da a x$i%02db").mkString(" ")
    val clean2 = (0 until 30).map(i => f"the y$i%02dc a z$i%02dd").mkString(" ")
    val boiler = "the cat and the dog " * 40
    val d = docs((10L, clean), (20L, boiler), (170L, clean2))
    // the 6-stage loop admits the boilerplate (every other stage is
    // blind to repetition)…
    assert(keptSet(CurateIngest.incrCurateFullStrict(d)) ==
      Set(10L, 20L, 170L))
    // …the 7-stage loop kills exactly it
    assert(keptSet(CurateIngest.incrCurateFullStrict(d, gopherGate = true)) ==
      Set(10L, 170L))
    val bench = graft.dedup.Dedup.shingles(
        d.filter(col("doc_id") < 20L), 8)
      .select(col("sh")).distinct().localCheckpoint()
    val shards = Seq(
      Seq(DocEv(10L, clean, clean.length.toLong),
        DocEv(20L, boiler, boiler.length.toLong)),
      Seq(DocEv(170L, clean2, clean2.length.toLong)))
    implicit val ctx = spark.sqlContext
    // plain stream with the gate on: the doc never reaches the stores
    val dir = java.nio.file.Files.createTempDirectory("gopherfull").toString
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk",
      Funnel.full(bench, gopherGate = true))
    try {
      shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(keptSet(Flat.inventory(spark, Store.Kept, dir)) ==
        Set(10L, 170L))
      // gated BEFORE the signature store: no tombstone for the
      // boilerplate either
      assert(Flat.state(spark, Store.Sig, dir, 99L).compact
        .select("doc_id").as[Long].collect().toSet == Set(10L, 170L))
    } finally q.stop()
    // bucketed stream, same planting
    val bdir = java.nio.file.Files.createTempDirectory("gopherfullb").toString
    val prefix = "gfb"
    val ms2 = MemoryStream[DocEv]
    val qb = CurateIngest.start(ms2.toDF(), bdir, s"$bdir/chk",
      Funnel.full(bench, gopherGate = true), Bucketed(prefix), compactEvery = Some(1L))
    try {
      shards.foreach { s => ms2.addData(s: _*); qb.processAllAvailable() }
      assert(qb.exception.isEmpty, s"bucketed stream died: ${qb.exception}")
      assert(keptSet(
        Bucketed(prefix).inventory(spark, Store.Kept, bdir)) ==
        Set(10L, 170L))
    } finally {
      qb.stop()
      Seq("gram", "fp", "sig", "kept").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
  }

  test("anonymize stage: planted PII never reaches any persisted store, plain and bucketed") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.StringType
    val email = "jane.doe@ex-mail.com"
    val fragments = Seq("ex-mail.com", "10.0.0.99", "555) 123-4567")
    val clean = (0 until 30).map(i => f"the w$i%02da a x$i%02db").mkString(" ")
    val withPii =
      clean + s" contact $email or 10.0.0.99 or (555) 123-4567 now"
    val maskedPii = clean + " contact |||EMAIL_ADDRESS||| or " +
      "|||IP_ADDRESS||| or |||PHONE_NUMBER||| now"
    // the Dolma mask itself (oracle-pinned by q_pii_scrub) produces
    // exactly the literal the store assertions below expect
    assert(docs((1L, withPii))
      .select(graft.text.CorpusStats.piiMask(col("text"))).as[String]
      .head() == maskedPii)
    val clean2 = (0 until 30).map(i => f"the y$i%02dc a z$i%02dd").mkString(" ")
    val d = docs((10L, withPii), (170L, clean2))
    def md5Of(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // grep EVERY string column of a persisted store for a PII fragment
    def hits(df: DataFrame, needle: String): Long = {
      val sc = df.schema.fields
        .filter(_.dataType == StringType).map(_.name)
      if (sc.isEmpty) 0L
      else df.filter(sc.map(c => col(c).contains(needle)).reduce(_ || _))
        .count()
    }
    def assertCleanStores(paths: Seq[String]): Unit =
      paths.filter(p => new java.io.File(p).exists()).foreach { p =>
        val df = spark.read.parquet(p)
        fragments.foreach { f =>
          assert(hits(df, f) == 0L, s"raw PII '$f' found in store $p")
        }
      }
    val bench = graft.dedup.Dedup.shingles(d.filter(col("doc_id") < 0L), 8)
      .select(col("sh")).distinct().localCheckpoint()
    val shards = Seq(
      Seq(DocEv(10L, withPii, withPii.length.toLong)),
      Seq(DocEv(170L, clean2, clean2.length.toLong)))
    implicit val ctx = spark.sqlContext
    // plain full-funnel stream, anonymize ON: the PII doc SURVIVES
    // (masked, not dropped), its fp is md5(masked), and no store's
    // string columns carry a PII fragment
    val dir = java.nio.file.Files.createTempDirectory("anonfull").toString
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk",
      Funnel.full(bench, anonymize = true))
    try {
      shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(keptSet(Flat.inventory(spark, Store.Kept, dir)) ==
        Set(10L, 170L))
      assertCleanStores(Seq(s"$dir/grams", s"$dir/fps", s"$dir/sigs",
        s"$dir/kept"))
      // the fingerprint store holds md5 of the MASKED text — the mask
      // ran BEFORE the fingerprint stage, not after
      val fps = spark.read.parquet(s"$dir/fps")
        .select("fingerprint").as[String].collect().toSet
      assert(fps.contains(md5Of(maskedPii)),
        "fp store missing the masked-text fingerprint")
      assert(!fps.contains(md5Of(withPii)),
        "fp store holds the RAW-text fingerprint — mask ran too late")
    } finally q.stop()
    // control (teeth): with the knob OFF the raw fingerprint and the
    // raw email fragment DO land in the stores
    val cdir = java.nio.file.Files.createTempDirectory("anonctrl").toString
    val msc = MemoryStream[DocEv]
    val qc = CurateIngest.start(msc.toDF(), cdir, s"$cdir/chk",
      Funnel.full(bench))
    try {
      shards.foreach { s => msc.addData(s: _*); qc.processAllAvailable() }
      val fpsC = spark.read.parquet(s"$cdir/fps")
        .select("fingerprint").as[String].collect().toSet
      assert(fpsC.contains(md5Of(withPii)),
        "control run should fingerprint the raw text")
    } finally qc.stop()
    // bucketed full-funnel stream, anonymize ON: bucket tables AND
    // delta paths all clean, survivor set unchanged
    val bdir = java.nio.file.Files.createTempDirectory("anonfullb").toString
    val prefix = "anb"
    val ms2 = MemoryStream[DocEv]
    val qb = CurateIngest.start(ms2.toDF(), bdir, s"$bdir/chk",
      Funnel.full(bench, anonymize = true), Bucketed(prefix), compactEvery = Some(1L))
    try {
      shards.foreach { s => ms2.addData(s: _*); qb.processAllAvailable() }
      assert(qb.exception.isEmpty, s"bucketed stream died: ${qb.exception}")
      assert(keptSet(
        Bucketed(prefix).inventory(spark, Store.Kept, bdir)) ==
        Set(10L, 170L))
      assertCleanStores(Seq(s"$bdir/grams", s"$bdir/fps", s"$bdir/sigs",
        s"$bdir/kept"))
      Seq("gram", "fp", "sig", "kept").foreach { t =>
        if (spark.catalog.tableExists(s"${prefix}_$t"))
          fragments.foreach { f =>
            assert(hits(spark.table(s"${prefix}_$t"), f) == 0L,
              s"raw PII '$f' found in bucket table ${prefix}_$t")
          }
      }
    } finally {
      qb.stop()
      Seq("gram", "fp", "sig", "kept").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"))
    }
    // combined topology: the POSTINGS store is the one store that
    // persists raw token strings — with the knob on, the email arrives
    // as the |||EMAIL_ADDRESS||| token and never as a raw address
    val rdir = java.nio.file.Files.createTempDirectory("anoncomb").toString
    graft.streaming.CombinedIngest.processBatch(d, 0L, rdir,
      anonymize = true)
    val toks = spark.read.parquet(s"$rdir/postings")
      .select("token").as[String].collect().toSet
    fragments.foreach(f => assert(!toks.exists(_.contains(f)),
      s"raw PII '$f' reached the postings store"))
    assert(toks.contains("|||EMAIL_ADDRESS|||"),
      "masked email token missing from postings — PII doc dropped?")
    assertCleanStores(Seq(s"$rdir/fps", s"$rdir/sigs", s"$rdir/kept",
      s"$rdir/postings", s"$rdir/drift"))
    // control: knob off, the raw email IS a postings token
    val rdirC = java.nio.file.Files.createTempDirectory("anoncombc").toString
    graft.streaming.CombinedIngest.processBatch(d, 0L, rdirC)
    val toksC = spark.read.parquet(s"$rdirC/postings")
      .select("token").as[String].collect().toSet
    assert(toksC.contains(email),
      "control combined run should post the raw email token")
  }

  test("incrCurateFullStrict: empty corpus yields the empty survivor set") {
    val got = CurateIngest.incrCurateFullStrict(docs())
    assert(got.columns.toSeq ==
      Seq("doc_id", "lang_pred", "quality_pm", "n_chars"))
    assert(got.isEmpty)
  }

  test("qualityScoreDriftSketch: empty corpus yields the empty drift table, not an NPE") {
    // percentile_approx over zero rows returns null bounds
    val got = CurateIngest.qualityScoreDriftSketch(docs())
    assert(got.columns.toSeq == Seq("shard_id", "psi", "n_bins"))
    assert(got.isEmpty)
  }

  test("strict leg: tombstones make the cross-shard drop transitive; no retraction on merges") {
    val dir = java.nio.file.Files.createTempDirectory("curatestrict").toString
    implicit val ctx = spark.sqlContext
    val base = enDoc("")
    val a = base + "zzz qqq 11111 22222 33333"
    val b = base + "zzz qqq 11111 22222 99999" // ≈ a, later shard → drop
    val c = base + "zzz qqq 11111 88888 99999" // ≈ b
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk", Funnel.strict())
    try {
      ms.addData(mk(10L, a)); q.processAllAvailable()
      ms.addData(mk(170L, b)); q.processAllAvailable()
      // distinct doc in a later shard is untouched
      ms.addData(mk(470L, bodyD)); q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      val kept = keptSet(Flat.inventory(spark, Store.Kept, dir))
      assert(kept == Set(10L, 470L), s"cross-shard near-dup kept: $kept")
      // the DROPPED doc's signature rows are in the store — tombstones,
      // not just survivors
      val sigs = Flat.state(spark, Store.Sig, dir, Long.MaxValue).compact
        .select("doc_id").as[Long].collect().toSet
      assert(sigs.contains(170L), s"tombstone missing: $sigs")
      // no retraction: a replayed batch leaves the survivors unchanged
      CurateIngest.writeShard(Seq(mk(170L, b)).toDF(), 1L, dir, Funnel.strict())
      assert(keptSet(Flat.inventory(spark, Store.Kept, dir)) == kept)
    } finally q.stop()
    // transitivity through the tombstone, pinned at function level: a
    // signature store holding ONLY the dropped doc B still kills C —
    // Jaccard's triangle inequality means a 3-doc stream can't isolate
    // this case (catchable neighbors force j(A,C) ≥ 2θ−1), but an
    // out-of-order arrival or a borderline banding miss can, and the
    // store must already carry the tombstone when it does
    val sigB = CurateIngest.sigBands(docs((170L, b)))
    val keptC = Funnel.step(docs((320L, c)), Funnel.strict(),
      Map(Store.Fp -> StoreSides(docs((0L, "")).select(md5(col("text"))
        .as("fingerprint")).limit(0)), Store.Sig -> StoreSides(sigB))).kept()
    assert(keptSet(keptC).isEmpty,
      "near-copy of a TOMBSTONED doc must drop")
  }

  test("compact-mid-stream: compacted ingestion output is byte-identical to the uncompacted run") {
    val base = enDoc("")
    val a = base + "zzz qqq 11111 22222 33333"
    val b = base + "zzz qqq 11111 22222 99999" // ≈ a → strict drop
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val shards = Seq(
      Seq(mk(10L, a), mk(20L, bodyB)),
      Seq(mk(170L, b), mk(180L, bodyC)),   // near-copy + fresh
      Seq(mk(320L, bodyB), mk(330L, bodyD)), // exact copy of 20 + fresh
      Seq(mk(470L, bodyA)))
    def run(compactEvery: Option[Long]): (String, Set[Long], Set[String], Set[Long]) = {
      val dir = java.nio.file.Files.createTempDirectory("curatecompact").toString
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[DocEv]
      val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk", Funnel.strict(), compactEvery = compactEvery)
      try {
        shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
        assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      } finally q.stop()
      (dir,
        keptSet(Flat.inventory(spark, Store.Kept, dir)),
        Flat.state(spark, Store.Fp, dir, Long.MaxValue).compact
          .as[String].collect().toSet,
        Flat.state(spark, Store.Sig, dir, Long.MaxValue).compact
          .select("doc_id").as[Long].collect().toSet)
    }
    val (dirC, keptC, fpsC, sigsC) = run(compactEvery = Some(1L))
    val (_, keptU, fpsU, sigsU) = run(compactEvery = None)
    assert(keptC == keptU, s"kept diverged: $keptC vs $keptU")
    assert(fpsC == fpsU, "fingerprint store diverged under compaction")
    assert(sigsC == sigsU, "signature store diverged under compaction")
    // the layout actually compacted: everything below the last batch
    // lives in the single batch_id=-1 partition
    val fs = new org.apache.hadoop.fs.Path(s"$dirC/fps")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dirC/fps"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    assert(parts == Set("batch_id=-1", s"batch_id=${shards.size - 1}"),
      s"store tree not compacted: $parts")
    // a crash-replayed LAST batch (the only replayable one) is still a
    // no-op against the compacted stores
    implicit val ctx = spark.sqlContext
    CurateIngest.writeShard(shards.last.toDF(), shards.size - 1L, dirC, Funnel.strict())
    assert(keptSet(Flat.inventory(spark, Store.Kept, dirC)) == keptC,
      "replay after compaction changed the survivors")
    // compaction is idempotent: re-running it (the crash-recovery
    // instruction) changes nothing
    Flat.compact(spark, dirC, Seq(Store.Fp, Store.Kept, Store.Sig), upToBatch = shards.size - 1L)
    assert(keptSet(Flat.inventory(spark, Store.Kept, dirC)) == keptC)
    assert(Flat.state(spark, Store.Fp, dirC, Long.MaxValue).compact
      .as[String].collect().toSet == fpsC)
  }

  test("signature retention: a near-copy of a doc older than the window is re-admitted") {
    val base = enDoc("")
    val a = base + "zzz qqq 11111 22222 33333"
    val b = base + "zzz qqq 11111 22222 99999" // ≈ a
    val dir = java.nio.file.Files.createTempDirectory("curateretain").toString
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    // batches 0-2: a arrives, then two unrelated shards
    Seq(Seq(mk(10L, a)), Seq(mk(170L, bodyB)), Seq(mk(320L, bodyC)))
      .zipWithIndex.foreach { case (s, i) =>
        CurateIngest.writeShard(s.toDF(), i.toLong, dir, Funnel.strict())
      }
    // compact at batch 3 with a 2-batch signature window: a's signature
    // rows (src_batch 0 < 3 - 2) age out; fingerprints never do
    Flat.compact(spark, dir, Seq(Store.Fp, Store.Kept, Store.Sig), upToBatch = 3L, sigRetentionBatches = Some(2L))
    assert(Flat.state(spark, Store.Sig, dir, Long.MaxValue).compact
      .select("doc_id").as[Long].collect().toSet == Set(170L, 320L),
      "aged signature rows must drop at compaction")
    // the near-copy of the aged-out doc is re-admitted (documented
    // policy); an EXACT copy still drops (fingerprints are forever)
    CurateIngest.writeShard(Seq(mk(470L, b), mk(480L, a)).toDF(), 3L, dir, Funnel.strict())
    val kept = keptSet(Flat.inventory(spark, Store.Kept, dir))
    assert(kept == Set(10L, 170L, 320L, 470L),
      s"retention semantics broken: $kept")
  }

  test("deferredClusters: deferred pairs fold into per-shard clusters == batch CC") {
    val base = enDoc("")
    // shard A: a near-dup pair (10≈20); shard B: a near-copy of A's
    // cluster (260) plus an unrelated pair (300≈310) — the deferred
    // bridge 260 must merge into cluster 10 WITHOUT re-clustering A
    val d = docs(
      (10L, base + "zzz qqq 11111 22222 33333"),
      (20L, base + "zzz qqq 11111 22222 99999"),
      (260L, base + "zzz qqq 11111 88888 99999"),
      (300L, bodyD + "tail one two three"),
      (310L, bodyD + "tail one two nine"))
    val got = CurateIngest.deferredClusters(d)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val batch = graft.dedup.Clusters.dupClusters(d)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == batch, s"deferred fold diverged: $got vs $batch")
    assert(got(260L) == got(10L) && got(300L) != got(10L),
      s"bridge must merge, unrelated must not: $got")
  }

  test("deferred cross-shard near-dups are visible to the detection query") {
    val base = enDoc("")
    val a = docs((10L, base + "zzz qqq 12345"))
    val b = docs((170L, base + "zzz qqq 12399")) // near-copy, later shard
    // the default leg keeps BOTH (near-dup runs within shard only —
    // emitted survivors are immutable)...
    val kept = keptSet(CurateIngest.incrCurate(
      a.unionByName(b)))
    assert(kept == Set(10L, 170L))
    // ...the strict leg enforces: the later near-copy drops
    assert(keptSet(CurateIngest.incrCurateStrict(a.unionByName(b))) ==
      Set(10L))
    // ...and the monitoring query reports exactly the deferred pair
    val pairs = CurateIngest.crossShardNearDups(a, b)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 170L)))
  }

  test("bucketed compaction: streamed strict ingestion equals the loop; store joins have no store-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val dir = java.nio.file.Files.createTempDirectory("curatebucket").toString
    val prefix = "cib"
    implicit val ctx = spark.sqlContext
    val base = enDoc("")
    val a = base + "zzz qqq 11111 22222 33333"
    val b = base + "zzz qqq 11111 22222 99999" // ≈ a → strict drop
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val shards = Seq(
      Seq(mk(10L, a), mk(20L, bodyB)),
      Seq(mk(170L, bodyB), mk(180L, bodyC)), // 170 exact copy → drop
      Seq(mk(330L, b), mk(340L, bodyD)),     // near copy → strict drop
      Seq( // post-compaction shard: both distinct in shingle space
        mk(470L, "many rivers run to the ocean where the tide turns and the boats drift home " * 4),
        mk(480L, "seven stars glow in the night sky while the owl hunts over the silent wood " * 4)))
    val ms = MemoryStream[DocEv]
    val q = CurateIngest.start(ms.toDF(), dir, s"$dir/chk", Funnel.strict(),
      Bucketed(prefix), compactEvery = Some(2L)) // compaction fires mid-stream at batch 2
    try {
      shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      // compaction ran: the bucketed tables exist, folded partitions gone
      assert(spark.catalog.tableExists(s"${prefix}_fp") &&
        spark.catalog.tableExists(s"${prefix}_sig"))
      assert(!new java.io.File(s"$dir/fps/batch_id=0").exists)
      // streamed result == the deterministic strict loop (same shards)
      val streamed = keptSet(
        Bucketed(prefix).inventory(spark, Store.Kept, dir))
      val loop = keptSet(CurateIngest.incrCurateStrict(
        docs(shards.flatten.map(e => (e.doc_id, e.text)): _*)))
      assert(streamed == loop && streamed == Set(10L, 20L, 180L, 340L,
        470L, 480L), s"streamed $streamed vs loop $loop")
      // plan gate: the NEXT shard's store joins — pin the SMJ shape
      // (no auto-broadcast, no AQE rewrite) and require the store side
      // to be the bucketed scan with NO exchange beneath it
      val prevAB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAQE = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        def storeSideBucketedNoExchange(sides: Seq[org.apache.spark.sql.execution.SparkPlan],
                                        what: String): Unit =
          assert(sides.exists { r =>
            r.collect { case e: Exchange => e }.isEmpty &&
              r.collect { case s: FileSourceScanExec if s.bucketedScan => s }
                .nonEmpty
          }, s"$what: no exchange-free bucketed store side in\n${sides.mkString("\n---\n")}")
        val next = docs((500L, bodyD + " five hundred"))
        val StoreSides(fpC, Some(fpD)) = Bucketed(prefix).state(spark, Store.Fp, dir, 4L)
        val probe = Funnel.fresh(
          CurateIngest.gateShard(next),
          StoreSides(fpC, Some(fpD)))
        probe.queryExecution.toRdd.count() // EXECUTED, not planned
        storeSideBucketedNoExchange(
          probe.queryExecution.executedPlan.collect {
            case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" =>
              j.right
          }, "fp anti-join")
        val StoreSides(sigC, Some(sigD)) = Bucketed(prefix).state(spark, Store.Sig, dir, 4L)
        val bands = CurateIngest.sigBands(
          CurateIngest.gateShard(next).select($"doc_id", $"text"))
          .localCheckpoint()
        val probe2 = Funnel.collisions(bands, StoreSides(sigC, Some(sigD)), 0.5)
        probe2.queryExecution.toRdd.count()
        storeSideBucketedNoExchange(
          probe2.queryExecution.executedPlan.collect {
            case j: SortMergeJoinExec if j.joinType.sql == "INNER" => j.right
          }, "sig collision join")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAB)
        spark.conf.set("spark.sql.adaptive.enabled", prevAQE)
      }
    } finally {
      q.stop()
      Seq("fp", "sig", "kept").foreach(k =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$k"))
    }
  }

  test("plain→bucketed migration: split readers fail fast on a batch_id=-1 sentinel; one bucketed compaction folds it") {
    val dir = java.nio.file.Files.createTempDirectory("curatemigrate").toString
    val prefix = "cim"
    val base = enDoc("")
    val a = base + "zzz qqq 11111 22222 33333"
    val aNear = base + "zzz qqq 11111 22222 99999" // ≈ a → strict drop
    // plain strict ingestion of two shards, then PLAIN compaction —
    // all folded state now lives in batch_id=-1 sentinel partitions
    CurateIngest.writeShard(docs((10L, a), (20L, bodyB)), 0L, dir, Funnel.strict())
    CurateIngest.writeShard(docs((170L, bodyB), (180L, bodyC)), 1L, dir, Funnel.strict())
    Flat.compact(spark, dir, Seq(Store.Fp, Store.Kept, Store.Sig), upToBatch = 2L)
    assert(new java.io.File(s"$dir/fps/batch_id=-1").exists)
    try {
      // the bucketed readers cannot see the sentinel — silently losing
      // the folded state would re-admit its duplicates, so they refuse
      intercept[IllegalArgumentException] {
        Bucketed(prefix).state(spark, Store.Fp, dir, 2L)
      }
      intercept[IllegalArgumentException] {
        Bucketed(prefix).state(spark, Store.Sig, dir, 2L)
      }
      intercept[IllegalArgumentException] {
        Bucketed(prefix).inventory(spark, Store.Kept, dir)
      }
      // the migration: ONE bucketed compaction folds the sentinel rows
      // into the bucket tables and deletes the sentinels
      Bucketed(prefix).compact(spark, dir,
        Seq(Store.Fp, Store.Kept, Store.Sig), upToBatch = 2L)
      assert(!new java.io.File(s"$dir/fps/batch_id=-1").exists &&
        !new java.io.File(s"$dir/sigs/batch_id=-1").exists &&
        !new java.io.File(s"$dir/kept/batch_id=-1").exists)
      // migrated state is live: the next bucketed shard still drops an
      // exact copy (fp store) and a near copy (sig store) of migrated
      // docs, and the kept read model carries the pre-migration docs
      CurateIngest.writeShard(
        docs((330L, bodyB), (340L, aNear), (350L, bodyD)), 2L, dir, Funnel.strict(), Bucketed(prefix))
      val kept = keptSet(
        Bucketed(prefix).inventory(spark, Store.Kept, dir))
      assert(kept == Set(10L, 20L, 180L, 350L), s"kept $kept")
    } finally Seq("fp", "sig", "kept").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$k"))
  }

  test("store-probing detection: executed plan over persisted signatures tokenizes nothing") {
    val base = enDoc("")
    val a = docs((10L, base + "zzz qqq 12345"), (20L, bodyB))
    val b = docs((170L, base + "zzz qqq 12399"), (180L, bodyC))
    // strict ingestion already persisted these rows (sigBands is the
    // store's write unit); the detection read probes them from disk
    val dir = java.nio.file.Files.createTempDirectory("sigprobe").toString
    CurateIngest.sigBands(a).write.parquet(s"$dir/sa")
    CurateIngest.sigBands(b).write.parquet(s"$dir/sb")
    val det = CurateIngest.crossShardNearDupsFromSigs(
      spark.read.parquet(s"$dir/sa"), spark.read.parquet(s"$dir/sb"))
    det.queryExecution.toRdd.count() // EXECUTED, not planned
    val plan = det.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the SparseIndexSpec standard, tightened to ZERO: no shingle
    // explode and no signature recomputation anywhere in detection
    assert(!plan.toLowerCase.contains("minhashsigs"),
      s"detection recomputed signatures:\n$plan")
    assert(!plan.contains("Generate"),
      s"detection tokenized text:\n$plan")
    // and the store probe returns exactly what the text form computes
    val fromStore = det.select("a_id", "b_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val fromText = CurateIngest.crossShardNearDups(a, b)
      .select("a_id", "b_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fromStore == fromText && fromStore.nonEmpty,
      s"store probe diverged: $fromStore vs $fromText")
  }
}
