package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.{Engine, SparkEntry}
import graft.operators.{MetricsStore, PerformanceTracker}
import graft.serving.MetricsHttpServer
import graft.streaming.Pipelines

/** The process under test: the deployed topology of `RunPipelines` with
  * its serve port — `Pipelines.runAll` into parquet stores, plus
  * `MetricsHttpServer` with `attachAutoRefresh` — driven from outside by
  * `run.py` and `load.py`.
  *
  * Protocol (stdin commands, `@@ <json>` lines on stdout):
  *  1. set up [[SetupReps]] times on `<work>/setup/src` (then, for
  *     `backfill`, on `backlog` run one unserved pass over
  *     `<work>/run/src` into `<work>/run/pass`), start the measured server
  *     and print `{"event":"server","port":P,"trigger_ms":T}`;
  *  2. on `go`, start `runAll` on `<work>/run/src` — a processing-time
  *     trigger of [[LiveTriggerMs]] for `live`, `Trigger.AvailableNow` for
  *     `backfill` — and print `started` (live) or `pass_done` (backfill);
  *  3. on `stop`, stop each query between batches and write
  *     `<work>/jvm.json`: progress of every batch (rows read, watermark),
  *     set-up times, peak memory and, traced, the per-layer counters.
  */
object Harness {
  val oracleQueries = Map("event_metrics" -> "q_event_agg",
    "session_metrics" -> "q_sessions", "performance_metrics" -> "q_perf")
  /** Set-ups per run: the first is cold, the second warm. */
  val SetupReps = 2
  /** `live`'s processing-time trigger. Shorter triggers keep the four cores
    * saturated with snapshot refreshes (README follow-up 3). */
  val LiveTriggerMs = 10000L

  def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def emit(fields: (String, Any)*): Unit = {
    println("@@ " + json(fields.toMap))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val live = o("mode") == "live"
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val spark = Engine.sessionBuilder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val setupS = (1 to SetupReps).map { r =>
      setUp(spark, s"$work/setup/src", s"$work/setup/out$r")
    }
    // backfill measures capacity over two whole passes of the run's backlog,
    // each from an empty checkpoint: this unserved one and the served one
    val unservedS = if (live) None else Some {
      require(in.readLine() == "backlog", "expected backlog")
      val t0 = System.nanoTime()
      Pipelines.runAll(spark, s"$work/run/src", s"$work/run/pass").foreach(_.awaitTermination())
      (System.nanoTime() - t0) / 1e9
    }

    val tracer = if (traced) Some(Tracer.attach(spark, cores)) else None
    val heap = if (traced) Some(HeapAfterGc.install()) else None
    val outDir = s"$work/run/out"
    val server = new MetricsHttpServer(new MetricsStore(spark, outDir))
    val port = server.start()
    val refreshL = server.attachAutoRefresh(spark)
    emit("event" -> "server", "port" -> port, "trigger_ms" -> LiveTriggerMs)

    val res = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "oracle_sql" -> oracleQueries.map { case (t, q) => t -> SparkEntry.oracleSql(q) },
      "exact_avg_sql" -> PerformanceTracker.exactAvgSql())
    unservedS.foreach(s => res("unserved_pass_s") = s)
    require(in.readLine() == "go", "expected go")
    val tGo = System.currentTimeMillis()
    res("go_ms") = tGo
    val trigger = if (live) Trigger.ProcessingTime(LiveTriggerMs) else Trigger.AvailableNow()
    val qs = Pipelines.runAll(spark, s"$work/run/src", outDir, trigger)
    if (live) emit("event" -> "started")
    else {
      qs.foreach(_.awaitTermination())
      res("pass_end_ms") = System.currentTimeMillis()
      emit("event" -> "pass_done")
    }

    require(in.readLine() == "stop", "expected stop")
    val tStop = System.currentTimeMillis()
    res("stop_ms") = tStop
    res("stopped_between_batches") = stopBetweenBatches(qs, 60000L)
    // complete after stop: the stream thread records each batch before it ends
    val progress = qs.flatMap(_.recentProgress)
    res("final_wm_ms") = qs.map(q => q.name -> Option(q.lastProgress).map(watermarkMs).orNull).toMap
    res("query_errors") = qs.flatMap(q => q.exception.map(e => s"${q.name}: ${e.getMessage}"))
    server.detachAutoRefresh(spark, refreshL)
    res("progress") = progress.map { p =>
      Map("q" -> p.name, "batch" -> p.batchId, "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> p.durationMs.getOrDefault("triggerExecution", 0L).longValue,
        "rows" -> p.numInputRows, "wm_ms" -> watermarkMs(p))
    }
    // the heap is fixed and pre-touched, so the rest of the peak resident
    // set is the memory the program holds besides its heap
    res("peak_nonheap_rss_mb") = peakRssMb() -
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / (1024.0 * 1024.0)

    tracer.foreach { t =>
      t.detach(spark)
      val layers = scala.collection.mutable.LinkedHashMap[String, Any]()
      layers ++= t.summary(tGo, tStop)
      layers ++= Tracer.streaming(progress)
      layers("engine.peak_heap_after_gc_mb") = heap.get.peakBytes / (1024.0 * 1024.0)
      // direct timed reads of the store and the snapshot after the stream stops
      val store = new MetricsStore(spark, outDir)
      layers("store.windows_ms") = medianMs(3)(store.windows(120).collect())
      layers("store.overview_ms") = medianMs(3)(store.overview.collect())
      layers("store.mix_drift_ms") = medianMs(3)(store.mixDrift.collect())
      layers("serving.refresh_ms") = medianMs(3)(server.refresh())
      res("trace") = layers
    }
    server.stop()
    if (traced) {
      // single-threaded baseline: the same job on a one-core session
      spark.stop()
      val one = Engine.sessionBuilder(1).getOrCreate()
      one.sparkContext.setLogLevel("ERROR")
      val t0 = System.nanoTime()
      Pipelines.runAll(one, s"$work/baseline/src", s"$work/baseline/out").foreach(_.awaitTermination())
      res("baseline_one_core_s") = (System.nanoTime() - t0) / 1e9
      one.stop()
    }
    Files.write(Paths.get(s"$work/jvm.json"), json(res.toMap).getBytes(UTF_8))
    emit("event" -> "done")
    // everything is written; skip the session's shutdown work
    Runtime.getRuntime.halt(0)
  }

  /** One set-up: start the three queries on a small static input with
    * `RunPipelines`' own trigger, time until each has completed its first
    * batch, then stop them. */
  def setUp(spark: SparkSession, src: String, out: String): Double = {
    val t0 = System.nanoTime()
    val qs = Pipelines.runAll(spark, src, out)
    while (qs.exists(_.lastProgress == null)) {
      qs.flatMap(_.exception).headOption.foreach(e => throw e)
      Thread.sleep(5)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    Engine.inParallel(qs.map(q => () => q.stop()): _*)
    sec
  }

  def watermarkMs(p: StreamingQueryProgress): java.lang.Long =
    Option(p.eventTime).flatMap(m => Option(m.get("watermark")))
      .map(w => Long.box(Instant.parse(w).toEpochMilli)).orNull

  /** Stop each query while it is between batches, so no batch is cut
    * short; its last batch's watermark then bounds the windows it stored. */
  def stopBetweenBatches(qs: Seq[StreamingQuery], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    qs.forall { q =>
      while (q.status.isTriggerActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
      val idle = !q.status.isTriggerActive
      q.stop()
      idle && q.exception.isEmpty
    }
  }

  def medianMs(n: Int)(f: => Any): Double = {
    val xs = (1 to n).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    xs.sorted.apply(n / 2)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

/** The largest heap in use right after any collection since it was
  * installed: it moves with what the program holds (state, snapshots,
  * collected results) and with old-generation garbage not yet reclaimed,
  * but not with young garbage. */
final class HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile var peakBytes = 0L

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakBytes = peakBytes max used }
    }
}

object HeapAfterGc {
  def install(): HeapAfterGc = {
    val l = new HeapAfterGc
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
    l
  }
}
