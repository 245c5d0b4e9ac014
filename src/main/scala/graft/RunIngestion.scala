package graft

import org.apache.spark.sql.functions._

/** Corpus-ingestion coordinator CLI — [[RunPipelines]]'s sibling for
  * the training-data side: stream documents from a parquet directory
  * through the shard-at-a-time curation pipeline
  * ([[graft.streaming.CurateIngest]]), then report survivors and the
  * per-shard language-mix drift. Runs to quiescence (process all
  * available, then stop), so it doubles as a batch backfill of the
  * curated store exactly like RunPipelines does for the metric tables.
  *
  * Usage: runMain graft.RunIngestion <docsPathOrDir> <outDir>
  */
object RunIngestion {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.RunIngestion <docsPathOrDir> <outDir>")
      sys.exit(2)
    }
    val Array(docsPath0, outDir) = args.take(2)
    val spark = Engine.sessionBuilder(Engine.envCores(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the file source needs a DIRECTORY; stage a bare parquet file
    val docsPath = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val p = Paths.get(docsPath0)
      if (Files.isDirectory(p)) docsPath0
      else {
        val d = Paths.get(outDir, "_src")
        Files.createDirectories(d)
        Files.copy(p, d.resolve(p.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
        d.toString
      }
    }
    val schema = spark.read.parquet(docsPath).schema
    val stream = spark.readStream.schema(schema).parquet(docsPath)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val q = graft.streaming.CurateIngest.start(stream, outDir, s"$outDir/chk")
    q.processAllAvailable()
    q.stop()
    val kept = graft.streaming.StoreLayout.Flat.inventory(spark,
      graft.streaming.Store.Kept, outDir)
    println(s"[ingest] survivors=${kept.count()}")
    // drift over the WHOLE input: the q_shard_drift oracle bound
    // (maxId=600) is a fixture constant, not an operational default —
    // derive the bound and an ~8-shard width from the corpus itself
    val docs = spark.read.parquet(docsPath)
    val mxRow = docs.agg(max(col("doc_id"))).head()
    if (!mxRow.isNullAt(0)) {
      val mx = mxRow.getLong(0) + 1
      val drift = graft.streaming.CurateIngest
        .shardMixDrift(docs, shardSize = math.max(1L, (mx + 7) / 8),
          maxId = mx)
        .orderBy(col("shard_id")).collect()
      println(s"[ingest] shard mix drift: ${drift.mkString(", ")}")
    }
    spark.stop()
  }
}
