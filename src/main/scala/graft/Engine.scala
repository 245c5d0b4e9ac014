package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows how a graft session should be configured —
  * every driver main builds through here, so the tuning the engine
  * depends on cannot drift between the correctness, benchmark, and
  * pipeline entry points (it did, and the divergence hid a 6 s
  * exact-percentile regression behind one main's missing conf).
  *
  * What the configs are for:
  *  - shuffle width = core count: local mode has no dynamic executors;
  *    200 partitions on a laptop-shaped box is pure task overhead.
  *  - AQE on: runtime coalescing + skew-join splitting are the levers
  *    the 100 TB plans assume.
  *  - initialPartitionNum env lever: AQE coalesces but never SPLITS a
  *    shuffle, so the pre-coalesce width caps reduce parallelism and
  *    per-task sort size. The r11 second-decade soak A/B'd 32 vs 1024
  *    on the spill-regime SpanScrub shuffle and 1024 measured ~1.5×
  *    WORSE (scrub_exact 354→539 s at 500k docs): with 32 concurrent
  *    task slots the total spill volume is set by execution memory,
  *    not partition count, so narrower sort runs bought nothing while
  *    1024 tasks × 1M shuffle blocks added real overhead. Default
  *    therefore stays = cores; SPARK_GRAFT_INITIAL_PARTITIONS exists
  *    for soak A/Bs (on a real cluster the equivalent lever is more
  *    executors, which DOES add memory with the width).
  *  - ObjectHashAggregate fallback threshold: the 128-key default
  *    silently degrades exact-percentile/collect aggregates to
  *    sort-based aggregation on any realistic group count.
  *  - codegen cache: the 100-class JVM default thrashes as soon as a
  *    workload has ~100 codegen stages, recompiling every generated
  *    class per query (static conf — must be set before first use).
  *  - UTC: all oracle comparisons and window math assume it.
  *  - graft extensions: SQL functions + TopK strategy + the opt-in
  *    rewrite rules, available from any session built here.
  */
object Engine {
  def sessionBuilder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** Cores from the driver contract's env var, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** Dedicated pool for driver threads that BLOCK on Spark actions
    * (guide §2.6 overlap): a cached daemon pool, NOT the global
    * ForkJoinPool — Spark actions park their thread for the whole job,
    * and #cores blocked thunks on the global pool starve every other
    * library using it (and can deadlock nested fan-outs on a fixed
    * pool). Thread count is bounded by call-site fan-out (2-4 per
    * operator), never by data. */
  implicit lazy val blockingPool: scala.concurrent.ExecutionContext = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool { r =>
        val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
        t.setDaemon(true); t
      })
  }

  /** Spark-action thunks that fail as one. Every job started by a
    * [[submit]]ted thunk, or by the calling thread inside [[run]],
    * carries this fan-out's job tag (plus the submitting thread's own
    * tags, so nested fan-outs cancel through). The FIRST failure cancels
    * every running job with the tag and is the exception rethrown — by
    * [[await]] at once, whichever future it waits on, and by [[run]]
    * in place of the cancellation its own job then sees — instead of
    * waiting, in submission order, on jobs whose result no longer
    * matters. */
  final class FanOut(sc: org.apache.spark.SparkContext) {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.concurrent.duration.Duration
    private val tag = s"graft-fanout-${java.util.UUID.randomUUID}"
    private val failure = Promise[Nothing]()

    private def withTags[A](tags: Set[String])(body: => A): A = {
      val prev = sc.getJobTags()
      sc.clearJobTags(); tags.foreach(sc.addJobTag)
      try body finally { sc.clearJobTags(); prev.foreach(sc.addJobTag) }
    }

    private def fail(e: Throwable): Unit =
      if (failure.tryFailure(e)) sc.cancelJobsWithTag(tag)

    def submit[A](thunk: () => A): Future[A] = {
      val tags = sc.getJobTags() + tag
      val f = Future(withTags(tags)(thunk()))(blockingPool)
      f.failed.foreach(fail)(ExecutionContext.parasitic)
      f
    }

    def await[A](f: Future[A]): A =
      Await.result(Future.firstCompletedOf(Seq(f, failure.future))(
        ExecutionContext.parasitic), Duration.Inf)

    /** Rethrow the first failure, if any — the caller's checkpoint
      * between driver-side steps that start no job. */
    def check(): Unit = failure.future.value.foreach(_.get)

    def run[A](body: => A): A =
      try withTags(sc.getJobTags() + tag)(body)
      catch { case e: Throwable => fail(e); check(); throw e }
  }

  /** Run independent Spark-action thunks as CONCURRENT jobs and return
    * their results in input order — identical values to calling each
    * thunk sequentially (the scheduler back-fills executors freed by
    * one job's stragglers with the next job's tasks; actions are only
    * sequential because a driver calls them sequentially, guide §2.6).
    * The first thunk failure cancels the others' jobs and rethrows at
    * once ([[FanOut]]). */
  def inParallel[A](thunks: (() => A)*): Seq[A] = {
    val fan = new FanOut(SparkSession.active.sparkContext)
    fan.run(thunks.map(fan.submit(_)).map(fan.await(_)))
  }
}
