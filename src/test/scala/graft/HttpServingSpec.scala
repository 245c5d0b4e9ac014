package graft

import java.net.{HttpURLConnection, URI}

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MetricsStore
import graft.serving.MetricsHttpServer

/** Real HTTP round-trips against the serving surface: topology writes
  * the metric tables, the server snapshots them, a plain HTTP client
  * reads the reference's routes (metrics.py:13-31, health.py:6-19). */
class HttpServingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val storePath: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_http").toString
    val qs = graft.streaming.Pipelines.runAll(spark, "/root/testdata/sf0.001", out)
    qs.foreach(_.awaitTermination(120000))
    out
  }

  def get(port: Int, path: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = scala.io.Source.fromInputStream(is, "UTF-8").mkString
    is.close()
    (code, body)
  }

  test("serving surface: health, readiness gate, metrics routes") {
    val server = new MetricsHttpServer(new MetricsStore(spark, storePath))
    val port = server.start()
    try {
      assert(get(port, "/healthz") == ((200, """{"status":"ok"}""")))
      // not refreshed yet → not ready, reads 503
      assert(get(port, "/readyz")._1 == 503)
      assert(get(port, "/metrics/event/latest")._1 == 503)

      server.refresh()
      assert(get(port, "/readyz") == ((200, """{"status":"ready"}""")))

      val (c1, latest) = get(port, "/metrics/event/latest")
      assert(c1 == 200 && latest.contains("\"window_start_ms\""))
      assert(latest.contains("view_count") || latest.contains("_count"))

      val (c2, wins) = get(port, "/metrics/event/windows?limit=3")
      assert(c2 == 200 && wins.startsWith("""{"windows":["""))
      assert(wins.split("window_start_ms").length - 1 == 3)

      val (c3, perf) = get(port, "/metrics/performance/windows?limit=2")
      assert(c3 == 200 && perf.split("window_start_ms").length - 1 == 2)

      val (c4, ov) = get(port, "/metrics/overview")
      assert(c4 == 200)
      assert(ov.contains("\"event_latest\":{") &&
             ov.contains("\"performance_latest\":{"))

      val (c5, drift) = get(port, "/metrics/drift?limit=4")
      assert(c5 == 200 && drift.startsWith("{\"drift\":["))
      assert(drift.contains("\"drift_ppm\""))

      // alerts route serves the threshold-gated subset of the drift rows
      val (c6, alerts) = get(port, "/metrics/alerts?limit=5")
      assert(c6 == 200 && alerts.startsWith("{\"alerts\":["))
      if (alerts != "{\"alerts\":[]}")
        assert(alerts.contains("\"kind\":\"mix_drift\"") &&
               alerts.contains("\"threshold_ppm\""))

      // prefix-matching must not alias routes (FastAPI 404 semantics)
      assert(get(port, "/metrics/event/latestXYZ")._1 == 404)
      assert(get(port, "/healthzz")._1 == 404)

      // read-only routes reject writes (FastAPI 405 semantics)
      assert(method(port, "/healthz", "POST") == 405)
      assert(method(port, "/metrics/overview", "DELETE") == 405)
      assert(method(port, "/metrics/event/windows", "PUT") == 405)
      assert(method(port, "/healthz", "HEAD") == 200) // HEAD rides GET
    } finally server.stop()
  }

  def method(port: Int, path: String, m: String): Int = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    conn.setRequestMethod(m)
    val code = conn.getResponseCode
    conn.disconnect()
    code
  }

  test("limit parameter clamps to the snapshot bound") {
    val server = new MetricsHttpServer(new MetricsStore(spark, storePath),
      maxWindows = 5)
    val port = server.start()
    try {
      server.refresh()
      val (_, wins) = get(port, "/metrics/event/windows?limit=9999")
      assert(wins.split("window_start_ms").length - 1 <= 5)
      val (_, none) = get(port, "/metrics/event/windows?limit=0")
      assert(none == """{"windows":[]}""")
    } finally server.stop()
  }

  test("auto-refresh: micro-batch progress drives the serving snapshot") {
    val out = java.nio.file.Files.createTempDirectory("graft_http_live").toString
    val server = new MetricsHttpServer(new MetricsStore(spark, out))
    val port = server.start()
    val listener = server.attachAutoRefresh(spark)
    try {
      assert(get(port, "/readyz")._1 == 503)
      val qs = graft.streaming.Pipelines.runAll(spark, "/root/testdata/sf0.001", out)
      qs.foreach(_.awaitTermination(120000))
      // the refresh runs on its own thread after the progress event
      val deadline = System.currentTimeMillis() + 30000
      while (get(port, "/readyz")._1 != 200 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(get(port, "/readyz")._1 == 200, "snapshot never refreshed")
      val (c, latest) = get(port, "/metrics/event/latest")
      assert(c == 200 && latest.contains("\"window_start_ms\""))
    } finally {
      server.detachAutoRefresh(spark, listener)
      server.stop()
    }
  }

  test("auto-refresh coalesces: a burst of progress events runs at most 2 refreshes") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val gate = new CountDownLatch(1)
    val refreshes = new AtomicInteger
    // a slow, counting store: every refresh blocks until the burst is over
    val store = new MetricsStore(spark, "/nonexistent-metrics-store") {
      override def windows(limit: Int): org.apache.spark.sql.DataFrame = {
        refreshes.incrementAndGet()
        gate.await(60, TimeUnit.SECONDS)
        spark.range(1).toDF("window_start_ms")
      }
    }
    val server = new MetricsHttpServer(store)
    val qName = "event_metrics"
    val listener = server.attachAutoRefresh(spark)
    // registered after the server's listener, so the bus has handed it
    // every event this one has seen
    val progressSeen = new AtomicInteger
    val counter = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == qName) progressSeen.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(counter)
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = ms.toDF().writeStream.format("memory").queryName(qName).start()
    try {
      (1 to 8).foreach { i => ms.addData(i.toLong); q.processAllAvailable() }
      val deadline = System.currentTimeMillis() + 30000
      while (progressSeen.get < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(progressSeen.get >= 8)
      gate.countDown()
      Thread.sleep(2000) // let any queued refresh run
      assert(refreshes.get >= 1 && refreshes.get <= 2,
        s"${refreshes.get} refreshes for ${progressSeen.get} progress events")
    } finally {
      gate.countDown()
      server.detachAutoRefresh(spark, listener)
      spark.streams.removeListener(counter)
      q.stop()
    }
  }

  // -- push-fed windows -------------------------------------------------

  /** Events file `k` of a synthetic feed: 150 s of the four served types
    * from 2024-01-01, one event every 500 ms. The file source globs on the
    * file name, so the single part file is moved into place (file 0 at
    * the source root, where the stream reads its schema). */
  private def landEvents(src: java.nio.file.Path, k: Int): Unit = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + k * 150000L
    val tmp = java.nio.file.Files.createTempDirectory("graft_http_ev").resolve("out")
    (0 until 300).map { i =>
      (k * 1000L + i, new java.sql.Timestamp(t0 + i * 500L), (i * 7 + k) % 13L,
        types((i + k) % types.size), (i * 31 + k) % 97 * 1.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    val dest = if (k == 0) src.resolve("events.parquet") else src.resolve(s"k=$k/events.parquet")
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part, dest)
  }

  private val windowRoutes =
    Seq("/metrics/event/windows?limit=999", "/metrics/performance/windows?limit=999")

  /** Both windows bodies of a fresh server's cold `refresh()` over `path`. */
  private def coldBodies(path: String, maxWindows: Int): Seq[String] = {
    val cold = new MetricsHttpServer(new MetricsStore(spark, path), maxWindows = maxWindows)
    val port = cold.start()
    try { cold.refresh(); windowRoutes.map(get(port, _)._2) } finally cold.stop()
  }

  test("served performance rows carry only the table's own columns") {
    val server = new MetricsHttpServer(new MetricsStore(spark, storePath))
    val port = server.start()
    try {
      server.refresh()
      val (c, perf) = get(port, "/metrics/performance/windows?limit=120")
      assert(c == 200 && perf.contains("\"avg_value\""))
      assert(!perf.contains("p_date") && !perf.contains("batch_id"), perf.take(300))
    } finally server.stop()
  }

  test("a failing store read is counted and the previous windows stay served") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_broken").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(storePath), new java.io.File(dir))
    val server = new MetricsHttpServer(new MetricsStore(spark, dir))
    val port = server.start()
    try {
      server.refresh()
      assert(server.refreshFailures == 0L)
      val before = get(port, "/metrics/event/windows?limit=120")
      assert(before._1 == 200)
      val date = new java.io.File(s"$dir/event_metrics").list().filter(_.startsWith("p_date=")).min
      val junk = java.nio.file.Paths.get(s"$dir/event_metrics/$date/batch_id=999/part-00000-junk.parquet")
      java.nio.file.Files.createDirectories(junk.getParent)
      java.nio.file.Files.write(junk, "not a parquet file".getBytes("UTF-8"))
      // the merge of the broken batch fails, and so does its cold fallback
      server.applyCommitted("event_metrics", 999L)
      val afterMerge = server.refreshFailures
      assert(afterMerge >= 2L)
      assert(get(port, "/metrics/event/windows?limit=120") == before)
      server.refresh()
      assert(server.refreshFailures > afterMerge)
      assert(get(port, "/metrics/event/windows?limit=120") == before)
    } finally server.stop()
  }

  test("a missing store is not a failure") {
    val server = new MetricsHttpServer(new MetricsStore(spark, "/nonexistent-metrics-store"))
    val empty = java.nio.file.Files.createTempDirectory("graft_http_empty").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$empty/event_metrics"))
    val emptyServer = new MetricsHttpServer(new MetricsStore(spark, empty))
    try {
      server.refresh()
      emptyServer.refresh()
      emptyServer.applyCommitted("event_metrics", 0L)
      assert(server.refreshFailures == 0L && emptyServer.refreshFailures == 0L)
    } finally { server.stop(); emptyServer.stop() }
  }

  // restated for early publication: after each batch the servers equal a
  // cold refresh of the store once the batch that stores what it closed
  // is stored too (test name kept so its id is stable)
  test("push-fed windows equal a cold refresh after every batch, on replay and on restart") {
    import graft.serving.MetricsHttpServer.{closingWatermarkMs, eventTime}
    val src = java.nio.file.Files.createTempDirectory("graft_http_src")
    val full = java.nio.file.Files.createTempDirectory("graft_http_full").toString
    // several landed files, each run to completion: (table, batch id, its
    // (watermark, newest event time)) in commit order
    val batches = (0 until 5).flatMap { k =>
      landEvents(src, k)
      val qs = graft.streaming.Pipelines.runAll(spark, src.toString, full)
      qs.foreach(_.awaitTermination(120000))
      Seq("event_metrics", "performance_metrics").flatMap { t =>
        qs.find(_.name == t).get.recentProgress.map(p => (t, p.batchId, eventTime(p))).distinct
      }
    }
    assert(batches.map(_._1).toSet == Set("event_metrics", "performance_metrics"))
    // `grown` holds exactly what the store held after each commit: batch
    // N's partitions are copied in, then the servers apply batch N. The
    // checkpoint (state) is the finished one: a state read of batch N
    // sees the state N committed, whatever came after.
    val grown = java.nio.file.Files.createTempDirectory("graft_http_grown").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$full/_chk"),
      new java.io.File(s"$grown/_chk"))
    def commit(table: String, id: Long): Unit =
      new java.io.File(s"$full/$table").listFiles().filter(_.getName.startsWith("p_date="))
        .map(d => new java.io.File(d, s"batch_id=$id")).filter(_.isDirectory).foreach { d =>
          org.apache.commons.io.FileUtils.copyDirectory(d,
            new java.io.File(s"$grown/$table/${d.getParentFile.getName}/${d.getName}"))
        }
    val maxWindows = 5 // fewer than the feed's windows: merges evict
    val pushed = new MetricsHttpServer(new MetricsStore(spark, grown), maxWindows = maxWindows)
    var restarted: Option[MetricsHttpServer] = None
    val servers = () => Seq(pushed) ++ restarted
    val ports = scala.collection.mutable.Map(pushed -> pushed.start())
    var early = 0
    try {
      batches.zipWithIndex.foreach { case ((table, id, et), i) =>
        commit(table, id)
        // a new server over a store that already holds data: its first
        // event seeds it
        if (i == batches.size / 2) {
          val s = new MetricsHttpServer(new MetricsStore(spark, grown), maxWindows = maxWindows)
          ports(s) = s.start()
          restarted = Some(s)
        }
        // an event batch that moved the watermark publishes the windows it
        // closed before the next batch stores them: the servers must then
        // equal the store once that closing batch is stored too
        val closes = table == "event_metrics" &&
          et.exists { case (wm, maxEv) => closingWatermarkMs(wm, maxEv) > wm }
        val storedOnly = if (closes) coldBodies(grown, maxWindows) else Nil
        if (closes) commit(table, id + 1)
        val cold = coldBodies(grown, maxWindows)
        if (closes && storedOnly != cold) early += 1
        for (replay <- 0 to 1; s <- servers()) {
          s.applyCommitted(table, id, et)
          val bodies = windowRoutes.map(get(ports(s), _)._2)
          assert(bodies == cold, s"$table batch $id (replay $replay)")
        }
      }
      assert(early > 0, "no batch published a window before its closing batch was stored")
      // an old batch id merged again changes nothing either
      val (t0, id0, et0) = batches.head
      servers().foreach { s =>
        s.applyCommitted(t0, id0, et0)
        assert(windowRoutes.map(get(ports(s), _)._2) == coldBodies(grown, maxWindows))
        assert(s.refreshFailures == 0L)
      }
      val perf = get(ports(pushed), "/metrics/performance/windows?limit=999")._2
      assert(perf.contains("\"category\"") && !perf.contains("p_date") && !perf.contains("batch_id"))
      assert(get(ports(pushed), "/metrics/event/windows?limit=999")._2
        .split("window_start_ms").length - 1 == maxWindows)
    } finally servers().foreach(_.stop())
  }

  test("with the server attached to a running topology, every window is served with " +
    "one JSON body, the one its stored batch gives") {
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("graft_http_early_src")
    val out = java.nio.file.Files.createTempDirectory("graft_http_early_out").toString
    landEvents(src, 0)
    val server = new MetricsHttpServer(new MetricsStore(spark, out))
    val port = server.start()
    val listener = server.attachAutoRefresh(spark)
    val qs = graft.streaming.Pipelines.runAll(spark, src.toString, out,
      Trigger.ProcessingTime("500 milliseconds"))
    // every body each window was served with, polled while files land
    val seen = scala.collection.mutable.Map.empty[Long, Set[String]]
    val window = "\\{\"window_start_ms\":(\\d+)[^}]*\\}".r
    def poll(): Unit = {
      val (c, body) = get(port, "/metrics/event/windows?limit=120")
      if (c == 200) window.findAllMatchIn(body).foreach { m =>
        val w = m.group(1).toLong
        seen(w) = seen.getOrElse(w, Set.empty[String]) + m.matched
      }
    }
    def pollUntil(done: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!done && System.currentTimeMillis() < deadline) { poll(); Thread.sleep(20) }
    }
    try {
      pollUntil(seen.nonEmpty)
      (1 to 3).foreach { k =>
        val before = seen.size
        landEvents(src, k)
        pollUntil(seen.size > before + 1)
      }
    } finally {
      qs.foreach(_.stop())
      server.detachAutoRefresh(spark, listener)
      server.stop()
    }
    assert(server.refreshFailures == 0L)
    val stored = new MetricsStore(spark, out)
    val json = stored.windows(120).toJSON.collect()
      .map(j => window.findFirstMatchIn(j).get).map(m => m.group(1).toLong -> m.matched).toMap
    assert(seen.size > 4, seen.keys)
    seen.foreach { case (w, bodies) =>
      assert(bodies.size == 1, s"window $w was served as $bodies")
      // the newest windows may still wait for their closing batch
      json.get(w).foreach(j => assert(bodies.head == j, s"window $w"))
    }
    assert(seen.keys.count(json.contains) >= 4)
  }

  test("after the cold refresh, further batches' windows are served without a store-wide read") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("graft_http_live_src")
    val out = java.nio.file.Files.createTempDirectory("graft_http_live_out").toString
    landEvents(src, 0)
    val windowsCalls = new AtomicInteger
    val store = new MetricsStore(spark, out) {
      override def windows(limit: Int): org.apache.spark.sql.DataFrame = {
        windowsCalls.incrementAndGet()
        super.windows(limit)
      }
    }
    val server = new MetricsHttpServer(store)
    val port = server.start()
    val listener = server.attachAutoRefresh(spark)
    val qs = graft.streaming.Pipelines.runAll(spark, src.toString, out,
      Trigger.ProcessingTime("500 milliseconds"))
    /** The newest served window start, once it is newer than `than`. */
    def newestAfter(than: Long): Long = {
      val deadline = System.currentTimeMillis() + 60000
      var newest = than
      while (newest <= than && System.currentTimeMillis() < deadline) {
        val (c, body) = get(port, "/metrics/event/windows?limit=1")
        if (c == 200) newest = "\"window_start_ms\":(\\d+)".r
          .findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(than)
        if (newest <= than) Thread.sleep(100)
      }
      assert(newest > than, s"no window newer than $than was served")
      newest
    }
    try {
      var newest = newestAfter(Long.MinValue)
      val K = 3
      (1 to K).foreach { k =>
        landEvents(src, k)
        newest = newestAfter(newest)
      }
      assert(windowsCalls.get == 1,
        s"store.windows ran ${windowsCalls.get} times for the cold refresh and $K merged files")
      assert(server.refreshFailures == 0L)
    } finally {
      qs.foreach(_.stop())
      server.detachAutoRefresh(spark, listener)
      server.stop()
    }
  }
}
