package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Curate

/** End-to-end curation pipeline: gate semantics and keep-best dedup
  * through the full chain. */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // long English-looking filler so quality/lang gates pass; `tail`
  // differentiates near-duplicates without changing most shingles
  private def enDoc(tail: String): String =
    ("the cat and the dog walked over a bridge and the sun rose " * 4) + tail

  def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("gates: low quality and disallowed language are dropped") {
    val d = docs(
      (1L, enDoc("alpha beta gamma")),
      (2L, "der die und der die und der die und"), // de, short → below floor
      (3L, "el la que el la que")) // es not in default langs
    val kept = Curate.curate(d).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("exact duplicates collapse to the lowest doc_id") {
    val t = enDoc("identical twin text")
    val kept = Curate.curate(docs((7L, t), (3L, t), (9L, t)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("near-duplicate cluster keeps the highest-quality member") {
    // doc 2 carries extra stopword-rich text → higher quality_pm than
    // its near-duplicate 1; distinct doc 5 survives untouched
    val base = enDoc("")
    val d = docs(
      (1L, base + "zzz qqq 12345"),
      (2L, base + "and the cat saw the dog again"),
      (5L, ("completely different prose about the sea and a ship " * 5)))
    val out = Curate.curate(d)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept.contains(5L))
    assert((kept & Set(1L, 2L)).size == 1, s"cluster not collapsed: $kept")
    assert(kept.contains(2L), "keep-best should prefer the higher-quality member")
  }

  test("audit: every input gets one verdict, verdicts agree with the pipeline") {
    // twins share NO shingles with the enDoc filler, so exact dedup
    // is the only stage that touches them
    val t = "the river ran through the valley and the wind blew " * 5
    val base = enDoc("")
    val d = docs(
      (1L, base + "zzz qqq 12345"),                 // near-dup of 2, lower quality
      (2L, base + "and the cat saw the dog again"), // near-dup survivor
      (3L, t), (7L, t),                             // exact dup pair → 3 kept
      (4L, "der die und der die und der die und"),  // short german → low_quality
      (5L, ("completely different prose about the sea and a ship " * 5)),
      (6L, "el la que " * 34))   // es, 102 words → clears quality, bad_lang
    val audit = Curate.curateAudit(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    info(s"verdicts: ${audit.toSeq.sortBy(_._1)}")
    // one verdict per input doc
    assert(audit.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // the kept set IS the pipeline's survivor set
    val kept = Curate.curate(d).select("doc_id").as[Long].collect().toSet
    assert(audit.filter(_._2 == "kept").keySet == kept)
    assert(audit(7L) == "exact_dup" && audit(3L) == "kept")
    assert(audit(1L) == "near_dup" && audit(2L) == "kept")
    assert(audit(4L) == "low_quality")
    assert(audit(6L) == "bad_lang")
    assert(audit(5L) == "kept")
  }

  test("output carries curation metadata and respects the floor") {
    val d = docs((1L, enDoc("alpha")), (2L, enDoc("beta gamma delta")))
    val rows = Curate.curate(d).collect()
    assert(rows.nonEmpty)
    assert(Curate.curate(d).columns.toSeq ==
      Seq("doc_id", "lang_pred", "quality_pm", "n_chars"))
    rows.foreach { r =>
      assert(r.getAs[Long]("quality_pm") >= 600L)
      assert(r.getAs[String]("lang_pred") == "en")
    }
  }

  test("full recipe: contamination ratio gate drops only high-overlap docs") {
    // doc 1 is the "benchmark" (benchMaxId = 2): a LONG eval set of
    // distinct sentences. doc 10 leaks a contiguous slice of it —
    // every one of its 8-grams appears in the benchmark (ratio ~1)
    // while its Jaccard vs the full benchmark is low (|slice|/|set|),
    // so near-dedup does NOT collapse the pair and only the ratio
    // gate can catch it. doc 20 is distinct prose → kept; the
    // benchmark stand-in itself passes through on its own merits.
    val sentences = Seq(
      "the cat saw the dog near the old bridge and the sun rose slowly",
      "a ship sailed over the quiet sea while the wind pushed the sails",
      "the miller ground the grain and the baker made the bread at dawn",
      "a small bird flew over the green field and sang in the tall tree",
      "the river ran past the stone mill and turned the ancient wheel",
      "the farmer walked the long road to the market with a heavy cart",
      "a child read the worn book under the lamp while the rain fell",
      "the clock on the tower struck nine and the town went to sleep")
    val benchText = sentences.mkString(". ") + "."
    // 5-word (~28-char) chunks of 3 benchmark sentences, re-ordered:
    // no shared contiguous span reaches the k=40 span-scrub threshold
    // (each junction is novel — reversed order never reproduces an
    // original adjacency), so stage 0 leaves the doc intact, while
    // ~3/4 of its distinct 8-grams still come from the benchmark
    val chunks = sentences.take(3).flatMap(
      _.split(" ").grouped(5).map(_.mkString(" ")))
    val leaked = chunks.reverse.mkString(" ") + "."
    val d = docs(
      (1L, benchText),
      (10L, leaked),
      (20L, "completely different prose about a harbor and a whale " +
        "where the captain told the crew a story of the deep cold water " +
        "and the first mate wrote the log while the lighthouse burned"))
    val full = Curate.curateFull(d, benchMaxId = 2, maxContamPm = 700)
      .select("doc_id").as[Long].collect().toSet
    assert(full.contains(20L), s"clean doc dropped: $full")
    assert(!full.contains(10L), s"leaked doc survived: $full")
    assert(full.contains(1L), "benchmark stand-in should pass on its merits")
    // the gate, not an earlier dedup stage, is what removed doc 10
    val scrub = Curate.curateScrubbed(d)
      .select("doc_id").as[Long].collect().toSet
    assert(scrub.contains(10L), "leaked doc must survive the gate-free recipe")
  }

  test("fp-wire funnel is bit-equal to the exact-substring funnel") {
    // the q_curate_full_fp parity pin, locally: the whole 6-stage
    // funnel with the scrub exchange on the 8-byte rolling-hash key
    // must reproduce the exact-key funnel row for row (a fp collision
    // would cut a span the exact key keeps and show up here)
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Curate.curateFullExact(base).orderBy("doc_id").collect()
    val fp = Curate.curateFull(base).orderBy("doc_id").collect()
    assert(exact.nonEmpty)
    assert(fp.toSeq == exact.toSeq)
  }

  test("full-funnel audit: one verdict per input; 'kept' is exactly curateFull's survivor set; leaks get 'contaminated'") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val verdicts = Curate.curateFullAudit(base)
      .select("doc_id", "verdict").as[(Long, String)].collect()
    assert(verdicts.length == base.count(), "not one verdict per doc")
    val kept = verdicts.filter(_._2 == "kept").map(_._1).toSet
    val full = Curate.curateFull(base)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == full && kept.nonEmpty,
      s"audit kept ${kept.size} != funnel survivors ${full.size}")
    // the contamination stage gets its own reason: re-run the leak
    // scenario (sentences re-chunked below the scrub threshold) and
    // the leaked doc must die as 'contaminated', not as a dedup
    val sentences = Seq(
      "the cat saw the dog near the old bridge and the sun rose slowly",
      "a ship sailed over the quiet sea while the wind pushed the sails",
      "the miller ground the grain and the baker made the bread at dawn",
      "a small bird flew over the green field and sang in the tall tree")
    val benchText = sentences.mkString(". ") + "."
    // ONE bench sentence, re-chunked twice at different widths: the
    // char-4-gram jaccard vs the 4-sentence bench doc is 0.26 (well
    // below the 0.5 near-dup gate — a 3-of-4-sentence leak measures
    // 0.64 and dies as near_dup instead, computed offline), while 70%
    // of the leaked doc's OWN char 8-grams still come from the
    // benchmark — only the contamination stage can catch this shape
    def revChunk(s: String, w: Int): String =
      s.split(" ").grouped(w).map(_.mkString(" ")).toSeq.reverse.mkString(" ")
    val leaked =
      revChunk(sentences.head, 7) + " " + revChunk(sentences.head, 6) + "."
    val d = docs((1L, benchText), (10L, leaked),
      (20L, "completely different prose about a harbor and a whale " +
        "where the captain told the crew a story of the deep cold water"))
    val v = Curate.curateFullAudit(d, benchMaxId = 2, maxContamPm = 600)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v(10L) == "contaminated" && v(20L) == "kept" && v(1L) == "kept",
      s"verdicts $v")
  }

  test("scrub-first curation: text only shrinks, floor still holds") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curate.curateScrubbed(base).collect()
    assert(out.nonEmpty)
    val orig = base.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      // the scrub stage can only remove bytes, never add them
      assert(r.getAs[Long]("n_chars") <= orig(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} grew after scrubbing")
      assert(r.getAs[Long]("quality_pm") >= 600L)
    }
  }
}
