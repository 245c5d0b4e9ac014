package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet corpus (TESTDATA.md).
  *
  * All operators take a scale-factor directory (e.g. /root/testdata/sf0.01)
  * and read one parquet file per table. Reads go through the vectorized
  * parquet reader; Catalyst pushes projections/filters into the scan, so
  * callers should NOT pre-select columns here — declare the full plan and
  * let pruning happen at the source.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread rows across all cores when the scan has too few splits.
    *
    * A small parquet file is a single row group = a single task, so any
    * per-row-heavy stage above it (regex, hashing, explode) runs on ONE
    * core. The cheap row shuffle buys full parallelism. Adaptive: when
    * the input already has enough splits (the 100 TB case — thousands of
    * row groups), this is a no-op, so operators that call it don't pay a
    * gratuitous full-corpus shuffle at scale.
    *
    * The partition-count probe must NOT touch `df.rdd` on a plan that
    * contains a shuffle: under AQE, `.rdd` materializes every upstream
    * query stage to finalize the plan, and the probe's result is then
    * thrown away — the caller's action re-executes the whole upstream
    * (measured r16: `curateDocs(scrub)` ran the scrub pipeline TWICE,
    * 4.0 s vs 1.6 s for the scrub itself). A plan that already has an
    * exchange needs no spread anyway — its post-shuffle width is
    * conf-governed (shuffle.partitions = cores here, and AQE's
    * parallelismFirst coalescing keeps ~defaultParallelism partitions) —
    * so the probe is only taken on shuffle-free plans, where `.rdd` is
    * pure planning (no jobs run). */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val hasShuffle = df.queryExecution.sparkPlan.find {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }.isDefined
    if (hasShuffle) df
    else if (df.rdd.getNumPartitions * 2 <= par) df.repartition(par) else df
  }

  /** events.parquet has shipped `ts` as parquet TIMESTAMP(NANOS) —
    * which Spark only reads as a raw long (nanosAsLong) — and, since the
    * corpus regeneration, as TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ. Normalize BOTH to a micros TimestampType so every
    * downstream operator sees one type: nanos are truncated with integer
    * `div` (a double division would lose bits above 2^53), NTZ wall
    * times are re-tagged under the engine's pinned UTC session zone —
    * both exactly what DuckDB's micros TIMESTAMP sees in the same file,
    * so oracle comparisons see identical instants. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Pure-SQL surface: register every corpus table as a temp view (and
    * graft's SQL functions, on a session built without the extension
    * that injects them), so thriftserver/notebook clients run
    * `spark.sql("SELECT … FROM lineitem …")` with zero DataFrame code.
    * `events` keeps its nanos→micros conversion. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n        => load(spark, dir, n).createOrReplaceTempView(n)
    }
    // registering over the injected functions would only log a
    // "replaced" warning for each of them
    val fns = graft.functions.GraftExtensions.functions
    if (!fns.forall { case (name, _, _) => spark.catalog.functionExists(name) })
      graft.functions.GraftExtensions.registerAll(spark)
  }
}
