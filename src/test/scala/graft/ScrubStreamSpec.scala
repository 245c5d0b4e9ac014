package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.SpanScrub
import graft.streaming.{ScrubIngest, Store, StoreLayout, StoreSides}

/** Incremental ExactSubstr: the shard-looped / streamed span scrub
  * must be indistinguishable from the flat batch scrub when shards
  * arrive in doc_id order, across crash, replay and compaction. */
class ScrubStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("doc_id", "text")

  // k=40 scrub: shared spans must be >=40 chars. boiler is a 76-char
  // block planted into several docs; the rest of each text is novel.
  private val boiler =
    "this footer is the same legal boilerplate repeated on every single page here"
  private def novel(seed: String): String =
    s"entirely $seed prose where the $seed author wrote about the " +
      s"$seed harbor and the $seed mountain for many long days on end"

  private def fullScrub(df: org.apache.spark.sql.DataFrame) =
    SpanScrub.spanScrub(df).orderBy("doc_id").collect().toSeq

  test("incrScrub == batch spanScrub on planted cross-shard boilerplate") {
    val d = docs(
      (10L, novel("alpha") + " " + boiler),          // shard 0: first owner
      (20L, novel("beta")),
      (170L, novel("gamma") + " " + boiler),         // shard 1: cut here
      (180L, boiler + " " + novel("delta")),         // shard 1: cut here too
      (320L, novel("epsilon") + " " + boiler + " " + boiler), // self-repeat
      (330L, "short"))                               // < k chars: untouched
    val incr = SpanScrub.incrScrub(d).orderBy("doc_id").collect().toSeq
    assert(incr == fullScrub(d))
    // the cut actually happened: doc 170 lost the boilerplate bytes
    val cut = incr.find(_.getLong(0) == 170L).get
    assert(cut.getAs[Long]("cut_chars") >= boiler.length - 39,
      s"boilerplate not cut: $cut")
  }

  test("incrScrub == batch spanScrub on the sf0.001 corpus") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    assert(SpanScrub.incrScrub(base).orderBy("doc_id").collect().toSeq
      == fullScrub(base))
  }

  test("streamed scrub == loop; replayed batch is a no-op; compaction invisible") {
    val dir = java.nio.file.Files.createTempDirectory("scrubstream").toString
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val shards = Seq(
      Seq(mk(10L, novel("alpha") + " " + boiler), mk(20L, novel("beta"))),
      Seq(mk(170L, novel("gamma") + " " + boiler)),
      Seq(mk(320L, boiler + " " + novel("delta"))))
    val ms = MemoryStream[DocEv]
    val q = ScrubIngest.start(ms.toDF(), dir, s"$dir/chk",
      compactEvery = Some(2L))
    try {
      shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      val streamed = ScrubIngest.scrubbedState(spark, dir)
        .orderBy("doc_id").collect().toSeq
      val all = docs(shards.flatten.map(e => (e.doc_id, e.text)): _*)
      assert(streamed == fullScrub(all), "streamed != batch scrub")
      // crash-replay the last batch: partitions rewrite identically
      // (gramState(beforeBatch) pins the pre-batch store view)
      ScrubIngest.writeShard(shards(2).toDF(), batchId = 2L, dir)
      val replayed = ScrubIngest.scrubbedState(spark, dir)
        .orderBy("doc_id").collect().toSeq
      assert(replayed == streamed, "replay changed the output")
      // the compaction tick actually folded: one sentinel partition
      val folded = spark.read.parquet(s"$dir/grams")
        .filter(col("batch_id") === -1L).count()
      assert(folded > 0, "no compacted gram partition")
    } finally q.stop()
  }

  test("bucketed gram store: streamed == batch; probe has no store-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = java.nio.file.Files.createTempDirectory("scrubbucket").toString
    val prefix = "sis"
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val shards = Seq(
      Seq(mk(10L, novel("alpha") + " " + boiler), mk(20L, novel("beta"))),
      Seq(mk(170L, novel("gamma") + " " + boiler)),
      Seq(mk(320L, boiler + " " + novel("delta"))), // post-compaction cut
      Seq(mk(470L, novel("epsilon"))))
    val ms = MemoryStream[DocEv]
    val q = ScrubIngest.start(ms.toDF(), dir, s"$dir/chk",
      StoreLayout.Bucketed(prefix), compactEvery = Some(2L))
    try {
      shards.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      // compaction ran mid-stream: table exists, folded partitions gone
      assert(spark.catalog.tableExists(s"${prefix}_gram"))
      assert(!new java.io.File(s"$dir/grams/batch_id=0").exists)
      val streamed = ScrubIngest.scrubbedState(spark, dir)
        .orderBy("doc_id").collect().toSeq
      val all = docs(shards.flatten.map(e => (e.doc_id, e.text)): _*)
      assert(streamed == fullScrub(all), "bucketed streamed != batch")
      // the POST-compaction shard really cut against the bucket table
      assert(streamed.find(_.getLong(0) == 320L).get
        .getAs[Long]("cut_chars") > 0)
      // plan gate: the next shard's store probe — the compact-table
      // join must be a SHUFFLED-HASH join (append-mode buckets are
      // unsorted: an SMJ would re-sort the store every shard) whose
      // store side is the bucketed scan with NO exchange and NO sort
      val prevAB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAQE = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val StoreSides(gC, Some(gD)) = StoreLayout.Bucketed(prefix)
          .state(spark, Store.Gram, dir, 4L)
        // the exact frame scrubShardSplit pins behind its checkpoint
        val probe = SpanScrub.storeProbe(
          SpanScrub.fpGrams(docs((500L, novel("zeta") + " " + boiler)), 40),
          gC, gD)
        probe.queryExecution.toRdd.count() // EXECUTED, not planned
        val storeSides = probe.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.joinType.sql == "INNER" => j.right
        }
        assert(storeSides.nonEmpty, "no shuffled-hash store probe in " +
          probe.queryExecution.executedPlan.toString)
        assert(storeSides.exists { r =>
          r.collect { case e: Exchange => e }.isEmpty &&
            r.collect { case s: org.apache.spark.sql.execution.SortExec => s }
              .isEmpty &&
            r.collect { case s: FileSourceScanExec if s.bucketedScan => s }
              .nonEmpty
        }, s"store side not an exchange-free sort-free bucketed scan:\n${
          storeSides.mkString("\n---\n")}")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAB)
        spark.conf.set("spark.sql.adaptive.enabled", prevAQE)
      }
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_gram")
    }
  }

  test("gram-store file hygiene: crossing the files-per-bucket threshold folds the table; content and probe plan unchanged") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val buckets = 4
    val seeds = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val all = docs(seeds.zipWithIndex.map { case (s, i) =>
      (i * 150L + 10L, novel(s) + " " + boiler) }: _*).localCheckpoint()
    // drive the tick loop directly (compactEvery = 1): every tick
    // appends ~`buckets` files, so file counts climb until the
    // threshold fires the fold
    def run(px: String, maxFiles: Int): (String, Seq[Long]) = {
      val d = java.nio.file.Files.createTempDirectory(s"hyg$px").toString
      val counts = seeds.indices.map { b =>
        val shard = all.filter(col("doc_id") >= b * 150L &&
          col("doc_id") < (b + 1) * 150L)
        val layout = StoreLayout.Bucketed(px, buckets, maxFiles)
        ScrubIngest.writeShard(shard, b.toLong, d, layout)
        if (b > 0)
          layout.compact(spark, d, Seq(Store.Gram), upToBatch = b.toLong)
        StoreLayout.tableDataFiles(spark, s"${px}_gram")
      }
      (d, counts)
    }
    val prefix = "hyg"; val ctl = "hygctl"
    try {
      val (hd, hygCounts) = run(prefix, maxFiles = 2)
      val (cd, ctlCounts) = run(ctl, maxFiles = Int.MaxValue)
      // control: appends only, file count never shrinks and ends past
      // the hygiene bound — the unbounded growth the threshold exists for
      assert(ctlCounts.last > buckets.toLong * 2, s"control $ctlCounts")
      assert(ctlCounts.zip(ctlCounts.tail).forall { case (a, b) => b >= a })
      // hygiene: the rewrite FIRED (a tick where the count drops back
      // to one file per bucket) and the count stays bounded
      assert(hygCounts.zip(hygCounts.tail).exists { case (a, b) =>
        b < a && b <= buckets.toLong }, s"hygiene never fired: $hygCounts")
      assert(hygCounts.last <= buckets.toLong * 2 + buckets,
        s"hygiene unbounded: $hygCounts")
      // the fold lost nothing: gram content identical to the control
      def gramSet(d: String, px: String): Set[Long] = {
        val StoreSides(gC, Some(gD)) =
          StoreLayout.Bucketed(px).state(spark, Store.Gram, d, 99L)
        gC.unionByName(gD).select("gram").as[Long].collect().toSet
      }
      assert(gramSet(hd, prefix) == gramSet(cd, ctl),
        "hygiene rewrite changed the gram store")
      // and the scrub output is still the flat batch answer
      assert(ScrubIngest.scrubbedState(spark, hd)
        .orderBy("doc_id").collect().toSeq == fullScrub(all))
      // probe plan after the rewrite: still a shuffled-hash join over
      // an exchange-free, sort-free bucketed scan
      val prevAB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAQE = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val StoreSides(gC, Some(gD)) = StoreLayout.Bucketed(prefix)
          .state(spark, Store.Gram, hd, 99L)
        val probe = SpanScrub.storeProbe(
          SpanScrub.fpGrams(docs((900L, novel("eta") + " " + boiler)), 40),
          gC, gD)
        probe.queryExecution.toRdd.count() // EXECUTED, not planned
        val storeSides = probe.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.joinType.sql == "INNER" => j.right
        }
        assert(storeSides.exists { r =>
          r.collect { case e: Exchange => e }.isEmpty &&
            r.collect { case s: org.apache.spark.sql.execution.SortExec => s }
              .isEmpty &&
            r.collect { case s: FileSourceScanExec if s.bucketedScan => s }
              .nonEmpty
        }, s"post-rewrite store side degraded:\n${storeSides.mkString("\n")}")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAB)
        spark.conf.set("spark.sql.adaptive.enabled", prevAQE)
      }
    } finally Seq(prefix, ctl).foreach(p =>
      spark.sql(s"DROP TABLE IF EXISTS ${p}_gram"))
  }

  test("an all-short batch does not kill the scrub stream") {
    // docs under k=40 chars produce no grams at all: the batch writes
    // an empty gram partition and passes every text through untouched
    val dir = java.nio.file.Files.createTempDirectory("scrubshort").toString
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[DocEv]
    val q = ScrubIngest.start(ms.toDF(), dir, s"$dir/chk")
    try {
      ms.addData(DocEv(10L, "tiny", 4L), DocEv(20L, "also tiny", 9L))
      q.processAllAvailable()
      val t30 = novel("omega") + " " + boiler
      ms.addData(DocEv(30L, t30, t30.length.toLong))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      val out = ScrubIngest.scrubbedState(spark, dir)
        .orderBy("doc_id").collect().toSeq
      assert(out.map(_.getLong(0)) == Seq(10L, 20L, 30L))
      assert(out.forall(_.getAs[Long]("cut_chars") == 0L))
      assert(out.head.getAs[String]("text_clean") == "tiny")
    } finally q.stop()
  }

  test("empty corpus: incrScrub returns the empty result, not an error") {
    val got = SpanScrub.incrScrub(docs())
    assert(got.columns.toSeq ==
      Seq("doc_id", "n_cut_spans", "cut_chars", "text_clean"))
    assert(got.isEmpty)
  }

  test("kill + restart: the restored gram store still cuts pre-crash spans") {
    val dir = java.nio.file.Files.createTempDirectory("scrubrestart").toString
    implicit val ctx = spark.sqlContext
    val mk = (id: Long, t: String) => DocEv(id, t, t.length.toLong)
    val ms = MemoryStream[DocEv]
    def start() = ScrubIngest.start(ms.toDF(), dir, s"$dir/chk")
    val q1 = start()
    try {
      ms.addData(mk(10L, novel("alpha") + " " + boiler))
      q1.processAllAvailable()
    } finally q1.stop() // crash
    val q2 = start()
    try {
      ms.addData(mk(170L, novel("gamma") + " " + boiler))
      q2.processAllAvailable()
      val out = ScrubIngest.scrubbedState(spark, dir)
        .orderBy("doc_id").collect().toSeq
      val batch = fullScrub(docs(
        (10L, novel("alpha") + " " + boiler),
        (170L, novel("gamma") + " " + boiler)))
      assert(out == batch, "restart lost the gram store")
      assert(out.find(_.getLong(0) == 170L).get.getAs[Long]("cut_chars") > 0,
        "pre-crash boilerplate not cut after restart")
    } finally q2.stop()
  }
}
