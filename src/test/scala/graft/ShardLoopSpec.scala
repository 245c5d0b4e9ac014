package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SpanScrub
import graft.streaming.{CurateIngest, ShardLoop}

/** The shard driver's invariants: its shard-count bound is checked
  * before any Spark work, and a failing concurrent leg cancels its
  * siblings instead of waiting on them. */
class ShardLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Jobs started while `body` runs; a tagged marker job after it
    * flushes the (ordered) listener bus up to that point. */
  private def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            Option(e.properties.getProperty("spark.job.tags"))
              .exists(_.contains("shardloop-marker"))) marker.countDown()
        else seen.add(e)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.addJobTag("shardloop-marker")
      try spark.range(1).count()
      finally spark.sparkContext.removeJobTag("shardloop-marker")
      assert(marker.await(30, TimeUnit.SECONDS), "listener bus stalled")
    } finally spark.sparkContext.removeSparkListener(l)
    seen.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }

  test("shard-count guard: past MaxShards every loop refuses before any Spark job") {
    val docs = Seq((1L, "text", 4L)).toDF("doc_id", "text", "n_chars")
    val over = ShardLoop.MaxShards + 1L
    val loops: Seq[() => Any] = Seq(
      () => CurateIngest.incrCurate(docs, shardSize = 1, maxId = over),
      () => CurateIngest.incrCurateStrict(docs, shardSize = 1, maxId = over),
      () => CurateIngest.incrCurateFullStrict(docs, shardSize = 1,
        maxId = over),
      () => SpanScrub.incrScrub(docs, shardSize = 1, maxId = over))
    val jobs = jobsDuring(loops.foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("MaxShards"), e.getMessage)
    })
    assert(jobs.isEmpty, s"guard ran after Spark work: $jobs")
    // the bound itself is admitted (the scrub loop builds lazily)
    SpanScrub.incrScrub(docs, shardSize = 1, maxId = ShardLoop.MaxShards)
  }

  test("inParallel: a failing thunk surfaces at once and cancels its sibling's running job") {
    val running = new CountDownLatch(1)
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        running.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Engine.inParallel(
          () => spark.sparkContext.parallelize(0 until 4, 4).map { i =>
            // a minute of work that a task kill ends early
            val tc = TaskContext.get()
            val end = System.currentTimeMillis() + 60000L
            while (System.currentTimeMillis() < end && !tc.isInterrupted())
              Thread.sleep(20)
            i
          }.count(),
          () => {
            assert(running.await(30, TimeUnit.SECONDS), "long job never ran")
            throw new IllegalStateException("boom")
          })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == "boom")
      assert(secs < 15, f"failure surfaced after $secs%.1f s")
      // the sibling's job was cancelled, not left to run out its minute
      val deadline = System.nanoTime() + 15e9.toLong
      while (ends.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!ends.isEmpty, "long job never ended")
      assert(ends.peek().jobResult != JobSucceeded,
        "long job ran to completion instead of being cancelled")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
