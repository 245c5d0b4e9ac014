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
    val qName = "refresh_burst"
    val listener = server.attachAutoRefresh(spark, qName)
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
}
