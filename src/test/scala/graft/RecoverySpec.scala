package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once evidence for the streaming path: a checkpointed query
  * over the generator source is killed mid-stream and restarted; the
  * file sink must end with exactly totalRows rows, no duplicates, no
  * gaps (W8 checkpointing + the file sink's transactional log). Also
  * pins the large-state scale path: the same pipeline runs under the
  * RocksDB state store provider (bounded executor memory at 100 TB
  * state; HDFS-backed default keeps every key on-heap). */
class RecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("restart from checkpoint resumes without loss or duplication") {
    val out = java.nio.file.Files.createTempDirectory("graft_recov").toString
    val total = 40000L
    def start() = spark.readStream
      .format("graft.sources.EventGen")
      .option("totalRows", total).option("rowsPerBatch", 5000)
      .load()
      .select($"event_id", $"event_type")
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .start()
    // phase 1: let at least one batch commit, then kill mid-stream
    val q1 = start()
    var waited = 0
    while (q1.recentProgress.length < 2 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q1.stop()
    val afterKill = spark.read.parquet(s"$out/data").count()
    assert(afterKill < total, s"nothing left to recover (got $afterKill)")
    // phase 2: restart from the same checkpoint, drain to completion
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == total)
    assert(rows.select($"event_id").distinct().count() == total,
      "duplicate event_ids after recovery")
  }

  test("replayed micro-batch leaves the storage table unchanged (idempotent sink)") {
    val path = java.nio.file.Files.createTempDirectory("graft_idem").toString + "/t"
    val timeCol = "window_start_ms"
    val base = 1714867200000L
    val b0 = Seq((base, "view", 5L), (base + 60000L, "click", 3L))
      .toDF("window_start_ms", "event_type", "event_count")
    graft.streaming.Pipelines.writeStorageBatch(b0, 7L, path, timeCol)
    val once = spark.read.parquet(path).collect().toSet
    assert(once.size == 2)
    // crash between parquet commit and checkpoint commit → Spark calls
    // foreachBatch AGAIN with the same batchId and the same data; the
    // dynamic partition overwrite must make that a no-op
    graft.streaming.Pipelines.writeStorageBatch(b0, 7L, path, timeCol)
    assert(spark.read.parquet(path).collect().toSet == once,
      "replay of the same batch id duplicated rows")
    // a NEW batch id appends alongside, never clobbers
    val b1 = Seq((base + 120000L, "view", 9L))
      .toDF("window_start_ms", "event_type", "event_count")
    graft.streaming.Pipelines.writeStorageBatch(b1, 8L, path, timeCol)
    val after = spark.read.parquet(path)
    assert(after.count() == 3)
    assert(after.select($"window_start_ms", $"event_type", $"event_count")
      .distinct().count() == 3)
  }

  test("storage date compaction: one part per date, rows identical, idempotent") {
    import graft.streaming.Pipelines
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val key = Seq("window_start_ms", "event_type")
    val base = 1714867200000L // 2024-05-05 UTC
    val day2 = base + 86400000L
    // three micro-batches: two land on day 1, one on day 2
    Pipelines.writeStorageBatch(Seq((base, "view", 5L), (base + 60000L, "click", 3L))
      .toDF("window_start_ms", "event_type", "event_count"), 1L, path, key.head)
    Pipelines.writeStorageBatch(Seq((base + 120000L, "view", 2L))
      .toDF("window_start_ms", "event_type", "event_count"), 2L, path, key.head)
    Pipelines.writeStorageBatch(Seq((day2, "view", 7L))
      .toDF("window_start_ms", "event_type", "event_count"), 3L, path, key.head)
    def data = spark.read.parquet(path)
      .select($"window_start_ms", $"event_type", $"event_count")
    def batchDirs(date: String) =
      new java.io.File(s"$path/p_date=$date").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
    val pre = data.collect().toSet
    assert(batchDirs("2024-05-05") == Seq("batch_id=1", "batch_id=2"))
    Pipelines.compactStorageDate(spark, path, java.time.LocalDate.of(2024, 5, 5), key)
    // one merged part, data unchanged, other dates untouched
    assert(batchDirs("2024-05-05") == Seq("batch_id=-1"))
    assert(batchDirs("2024-05-06") == Seq("batch_id=3"))
    assert(data.collect().toSet == pre, "compaction changed table contents")
    // idempotent: a second compaction is a no-op rewrite
    Pipelines.compactStorageDate(spark, path, java.time.LocalDate.of(2024, 5, 5), key)
    assert(data.collect().toSet == pre)
    assert(batchDirs("2024-05-05") == Seq("batch_id=-1"))
  }

  test("full topology restart: three sinks recover with no duplicate rows") {
    import graft.streaming.Pipelines
    val src = "/root/testdata/sf0.001"
    // baseline: one uninterrupted run
    val ref = java.nio.file.Files.createTempDirectory("graft_topo_ref").toString
    Pipelines.runAll(spark, src, ref).foreach(_.awaitTermination(120000))
    // interrupted run: stop all three queries as soon as each has
    // committed at least one batch, then restart from the checkpoints
    val out = java.nio.file.Files.createTempDirectory("graft_topo").toString
    val qs1 = Pipelines.runAll(spark, src, out)
    var waited = 0
    while (qs1.exists(_.recentProgress.isEmpty) && waited < 600) {
      Thread.sleep(100); waited += 1
    }
    qs1.foreach(_.stop())
    Pipelines.runAll(spark, src, out).foreach(_.awaitTermination(120000))
    for ((table, keys) <- Seq(
        ("event_metrics", Seq("window_start_ms", "event_type")),
        ("session_metrics", Seq("start_ms", "user_id")),
        ("performance_metrics", Seq("window_start_ms", "category")))) {
      val got = spark.read.parquet(s"$out/$table")
      val base = spark.read.parquet(s"$ref/$table")
      assert(got.count() == base.count(),
        s"$table: ${got.count()} rows after restart vs ${base.count()} uninterrupted")
      val dups = got.groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
        .count().filter($"count" > 1).count()
      assert(dups == 0, s"$table has $dups duplicated keys after restart")
    }
  }

  test("pipeline runs under the RocksDB state store provider") {
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val events = spark.readStream
        .format("graft.sources.EventGen")
        .option("totalRows", 20000).option("rowsPerBatch", 10000)
        .load()
      val agg = events.withWatermark("ts", "10 seconds")
        .groupBy(window($"ts", "60 seconds"), $"event_type")
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName("rocks_agg").start()
      try {
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.length == 1)
        val total = spark.table("rocks_agg")
          .groupBy($"window", $"event_type").agg(max($"n").as("n"))
          .agg(sum($"n")).head().getLong(0)
        assert(total == 20000L)
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
