package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Repetition-based quality signals — the COMPLETE Gopher rule set
  * (Rae et al. 2021, "Scaling Language Models", Table A1), the
  * repetition half of the heuristic filter stack that Dolma and
  * FineWeb also ship: a document dominated by one repeated n-gram, or
  * whose text is largely covered by n-grams / lines / paragraphs that
  * appear more than once, is boilerplate or spam and gets filtered
  * before training.
  *
  * Signals per document (integer ppm):
  *  - `top{2,3,4}_ppm` — characters covered by occurrences of the
  *    single most frequent word n-gram (ties broken lexicographically
  *    smallest, so both engines pick the same gram).
  *  - `dup{5..10}_ppm` — characters covered by word n-grams occurring
  *    more than once (all six Table A1 duplicate-n-gram rules).
  *  - `dup_line_ppm` / `dup_para_ppm` — characters covered by LINES /
  *    PARAGRAPHS whose text occurs more than once in the document
  *    (Table A1's duplicate-line / duplicate-paragraph CHARACTER
  *    fractions). Lines split on newline, paragraphs on a blank line;
  *    empty segments contribute zero either way.
  *  - `dup_line_frac_ppm` / `dup_para_frac_ppm` — the SEGMENT-COUNT
  *    fractions (Table A1's duplicate-line / duplicate-paragraph
  *    fraction rules): occurrences belonging to a repeated line /
  *    paragraph value, over the total segment count.
  *
  * Character coverage is OCCURRENCE-WEIGHTED (count × gram length,
  * capped at the document length): sliding-window occurrences overlap,
  * and the exact char-interval union Gopher describes is not
  * expressible as a relational aggregate — the occurrence-weighted
  * form is the standard relational surrogate, monotone in the same
  * signal, and deterministic across engines. The verdict column
  * applies Gopher's published Table A1 thresholds to the surrogate:
  * top{2,3,4} > 0.20/0.18/0.16, dup{5..10} > 0.15/0.14/0.13/0.12/
  * 0.11/0.10, dup-line/para chars > 0.20, dup-line/para fraction
  * > 0.30.
  *
  * Scale shape: every signal is PER-DOCUMENT, so nothing here needs an
  * Exchange at all — [[signalsFromBase]] sorts each document's gram
  * array and sweeps a run-length state machine over it in ONE native
  * expression per rule family ([[graft.functions.GramRunStats]],
  * r14), making the whole operator a narrow projection: zero shuffle,
  * zero explode, zero pin, embarrassingly parallel at any corpus size
  * (10M docs in 235 s, zero spill — SCALING.md r14 repdeep). Two
  * equality twins are kept: [[signalsFromBaseHof]] (the r13 `aggregate`
  * HOF fold — same algorithm, interpreted per element, measured ~10×
  * the native cost) and the earlier exploded form
  * ([[signalsFromBaseExploded]]: one (doc, n, gram) shuffle of ~9× the
  * corpus token count, a per-(doc, n) window top-1) — both compute the
  * same integers, the exploded one paying a corpus-sized exchange for
  * a per-doc statistic (measured: SCALING.md r13/r14).
  *
  * Reference: services/processing has no repetition filtering; this
  * extends the LLM-pipeline mandate's text-quality family.
  */
object Repetition {

  private val topRules = Seq(2 -> 200000L, 3 -> 180000L, 4 -> 160000L)
  private val dupRules = Seq(5 -> 150000L, 6 -> 140000L, 7 -> 130000L,
    8 -> 120000L, 9 -> 110000L, 10 -> 100000L)
  // line (101) / paragraph (102) segments ride the same exploded frame
  // as the word n-grams, tagged with out-of-band n values
  private val LineN = 101
  private val ParaN = 102
  private val SegCharPpm = 200000L // dup-line/para character fraction 0.20
  private val SegCntPpm = 300000L  // dup-line/para count fraction 0.30

  /** The POSITIONAL token frame of a document batch: (doc_id, text,
    * ws = ordered `\S+` token array, lines, paras, c = char length) —
    * ONE scan of `text` from which both this object's n-gram signals
    * ([[signalsFromBase]]) and the tf-collapsed postings frame
    * ([[SparseIndex.postingsFromBase]]) derive, so a topology that
    * needs order-sensitive AND bag-of-words views of a batch
    * tokenizes once ([[graft.streaming.CombinedIngest]]'s shared-scan
    * entry). Callers pin it (`localCheckpoint`) before fanning out. */
  def positionalBase(docs: DataFrame,
                     forceSpread: Boolean = false): DataFrame = {
    // Width guarantee, GATED (r14): everything downstream of this
    // frame is EXCHANGE-FREE narrow work (the r13 fold, GopherQuality's
    // array arithmetic), so input skew — a one-file micro-batch, a
    // range-contiguous shard (4/32 non-empty partitions, ~1.9× fold
    // wall; SCALING.md r14 "repdiag4: the positional-frame skew
    // table") — would ride through to every consumer with nothing
    // left to spread it. But the exchange must only fire when it can
    // help: repartitioning DOWN would
    // replace size-bounded (~128 MB) file splits with corpus/cores
    // tasks — an unbounded-task-size hazard at 100 TB — and on an
    // already-wide, already-balanced input it is a full-text shuffle
    // for nothing (measured a pure loss at 1M docs, SCALING.md r14
    // repwide). So: widen UPWARD only (partitions < cores), and let
    // the one caller that actually observed non-empty-partition skew
    // at full partition count — the combined topology's micro-batch
    // path, where a range-contiguous shard arrives as 4/32 non-empty
    // partitions — request the exchange explicitly via `forceSpread`
    // (its batches are bounded by the trigger, so the shuffle is
    // micro-batch-sized, never corpus-sized).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val wide =
      if (forceSpread || docs.rdd.getNumPartitions < par)
        docs.repartition(par)
      else docs
    wide.select(col("doc_id"), col("text"),
        expr("regexp_extract_all(text, '\\\\S+', 0)").as("ws"),
        expr("filter(split(text, '\\\\n'), x -> x <> '')").as("lines"),
        expr("filter(split(text, '\\\\n\\\\n'), x -> x <> '')").as("paras"),
        length(col("text")).cast("long").as("c"))
  }

  /** One row per document with every Table A1 signal + the combined
    * `gopher_pass` verdict.
    *
    * NO pin here (r14): [[signalsFromBase]] consumes the positional
    * frame exactly once, so the old corpus-sized `localCheckpoint` was
    * pure overhead — worse, it was the operator's one memory-unbounded
    * term (at 10M docs the ~5 KB/doc row-object materialization
    * GC-killed the JVM while the unpinned fold streams at O(row);
    * SCALING.md r14 "repdeep, first attempt"). CollapseProject does NOT
    * inline the regex into the per-family folds (ws is referenced by
    * every rule family, and non-cheap multiply-referenced aliases are
    * kept as their own Project — plan-asserted in CorpusOpsSpec), so
    * the unpinned plan is scan → regex project → stats project in one
    * codegen pass: one text scan, one regex evaluation, zero
    * materialization. Callers that fan the frame out to MULTIPLE
    * consumers pin it themselves ([[graft.streaming.CombinedIngest]]). */
  def repetitionSignals(docs: DataFrame): DataFrame =
    // one tokenization feeds all n branches
    signalsFromBase(positionalBase(docs))

  /** [[repetitionSignals]] over an already-extracted positional frame
    * ([[positionalBase]], pinned by the caller) — no text scan here:
    * every gram and segment derives from the `ws`/`lines`/`paras`
    * arrays, and the whole computation is a NARROW per-row projection
    * (zero shuffle; see the object scaladoc's scale-shape note).
    *
    * Per rule family the document's gram array is sorted and a
    * run-length sweep extracts, in one pass: the longest run with the
    * lexicographically-smallest tie-break (ascending order + strict
    * `>` replacement = Gopher's (cnt DESC, g ASC) top-1), the
    * occurrence-weighted duplicate coverage (runs of length ≥ 2), and
    * the duplicate occurrence count. Since r14 the per-family
    * sort+sweep is ONE native expression
    * ([[graft.functions.GramRunStats]]: build the sliding grams,
    * `Arrays.sort`, run-length in a tight JVM loop) — the previous
    * `aggregate` HOF formulation ([[signalsFromBaseHof]], kept as the
    * equality twin) evaluated INTERPRETED per gram (HOFs are
    * CodegenFallback; a named_struct allocation per element — measured
    * ~0.3 ms/doc, the dominant cost of the whole operator; SCALING.md
    * r14 "repwidediag: de-confounding pin type × width"). */
  def signalsFromBase(base: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.gram_run_stats
    val fams =
      (topRules ++ dupRules).map { case (n, _) =>
        gram_run_stats(col("ws"), n).as(s"n$n") } ++
      Seq(gram_run_stats(col("lines"), 1).as("ln"),
        gram_run_stats(col("paras"), 1).as("pa"))
    signalsFromStats(base.select(
      col("doc_id"), size(col("ws")).cast("long").as("n_words"), col("c"),
      struct(fams: _*).as("rs")))
  }

  /** The r13 higher-order-function form of [[signalsFromBase]] — the
    * same sort + run-length fold written as `aggregate(array_sort(…))`
    * SQL lambdas. Kept as the native expression's equality twin
    * (CorpusOpsSpec pins all three forms on the adversarial corpus):
    * the fold carries the previous element instead of indexing, so an
    * empty gram array never touches the `sequence(1, 0)`
    * descending-array trap. Interpreted per element → ~0.3 ms/doc;
    * production uses the native form. */
  def signalsFromBaseHof(base: DataFrame): DataFrame = {
    // run-length fold over the SORTED gram array `arr`: finalize a run
    // when the next distinct value (or the finish lambda) arrives
    def runStats(arr: String): String =
      s"""aggregate(
         |  array_sort($arr),
         |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
         |    'best_cnt', 0L, 'best_cov', 0L, 'dcov', 0L, 'dcnt', 0L,
         |    'tot', 0L),
         |  (s, x) -> CASE WHEN s.prev IS NULL OR x <> s.prev THEN
         |      named_struct('prev', x, 'run', 1L,
         |        'best_cnt',
         |          CASE WHEN s.run > s.best_cnt THEN s.run
         |               ELSE s.best_cnt END,
         |        'best_cov',
         |          CASE WHEN s.run > s.best_cnt
         |               THEN s.run * length(s.prev) ELSE s.best_cov END,
         |        'dcov', s.dcov + CASE WHEN s.run >= 2
         |               THEN s.run * length(s.prev) ELSE 0L END,
         |        'dcnt', s.dcnt + CASE WHEN s.run >= 2
         |               THEN s.run ELSE 0L END,
         |        'tot', s.tot + 1L)
         |    ELSE named_struct('prev', x, 'run', s.run + 1L,
         |      'best_cnt', s.best_cnt, 'best_cov', s.best_cov,
         |      'dcov', s.dcov, 'dcnt', s.dcnt, 'tot', s.tot + 1L) END,
         |  s -> named_struct(
         |    'top_cov', CASE WHEN s.run > s.best_cnt
         |      THEN s.run * length(s.prev) ELSE s.best_cov END,
         |    'dup_cov', s.dcov + CASE WHEN s.run >= 2
         |      THEN s.run * length(s.prev) ELSE 0L END,
         |    'dup_cnt', s.dcnt + CASE WHEN s.run >= 2
         |      THEN s.run ELSE 0L END,
         |    'tot_cnt', s.tot))""".stripMargin
    def gramsOf(n: Int): String =
      s"""CASE WHEN size(ws) >= $n THEN
         |  transform(sequence(1, size(ws) - ${n - 1}),
         |    i -> concat_ws(' ', slice(ws, i, $n)))
         |ELSE array() END""".stripMargin
    signalsFromStats(base.select(
      col("doc_id"), size(col("ws")).cast("long").as("n_words"), col("c"),
      expr(s"""named_struct(
        ${topRules.map { case (n, _) =>
          s"'n$n', ${runStats(gramsOf(n))}" }.mkString(",")},
        ${dupRules.map { case (n, _) =>
          s"'n$n', ${runStats(gramsOf(n))}" }.mkString(",")},
        'ln', ${runStats("lines")},
        'pa', ${runStats("paras")})""").as("rs")))
  }

  /** The shared ppm/verdict tail over a per-family run-stats frame
    * (doc_id, n_words, c, rs = struct of per-family (top_cov, dup_cov,
    * dup_cnt, tot_cnt)) — both the native and the HOF form feed it, so
    * their equality pin covers exactly the run-stats computation. */
  private def signalsFromStats(stats: DataFrame): DataFrame = {
    // exact integer division (matches DuckDB's '//' even past 2^53)
    val intDiv = (a: Column, b: Column) =>
      call_function("div", a.cast("long"), b.cast("long"))
    def ppmOf(c0: Column): Column =
      least(lit(1000000L), intDiv(coalesce(c0, lit(0L)) * 1000000L,
        greatest(col("c"), lit(1L))))
    def fracPpm(num: Column, den: Column): Column =
      least(lit(1000000L), intDiv(coalesce(num, lit(0L)) * 1000000L,
        greatest(coalesce(den, lit(0L)), lit(1L))))
    val sigCols =
      topRules.map { case (n, _) =>
        ppmOf(col(s"rs.n$n.top_cov")).as(s"top${n}_ppm") } ++
        dupRules.map { case (n, _) =>
          ppmOf(col(s"rs.n$n.dup_cov")).as(s"dup${n}_ppm") } ++
        Seq(ppmOf(col("rs.ln.dup_cov")).as("dup_line_ppm"),
          ppmOf(col("rs.pa.dup_cov")).as("dup_para_ppm"),
          fracPpm(col("rs.ln.dup_cnt"), col("rs.ln.tot_cnt"))
            .as("dup_line_frac_ppm"),
          fracPpm(col("rs.pa.dup_cnt"), col("rs.pa.tot_cnt"))
            .as("dup_para_frac_ppm"))
    val passCond =
      (topRules.map { case (n, t) => col(s"top${n}_ppm") <= t } ++
        dupRules.map { case (n, t) => col(s"dup${n}_ppm") <= t } ++
        Seq(col("dup_line_ppm") <= SegCharPpm,
          col("dup_para_ppm") <= SegCharPpm,
          col("dup_line_frac_ppm") <= SegCntPpm,
          col("dup_para_frac_ppm") <= SegCntPpm)).reduce(_ && _)
    stats.select(col("doc_id") +: col("n_words") +: sigCols: _*)
      .withColumn("gopher_pass", passCond.cast("int"))
  }

  /** The original RELATIONAL form of [[signalsFromBase]] — one
    * (doc, n, gram) exploded frame (a shuffle of ~9× the corpus token
    * count for a per-doc statistic), kept as the narrow form's
    * equality pin and A/B twin. */
  def signalsFromBaseExploded(base: DataFrame): DataFrame = {
    // every n's sliding grams in ONE exploded frame: (doc, n, gram).
    // The short-doc guard is load-bearing: sequence(1, 0) in Spark is
    // the DESCENDING array [1, 0] (not empty), and slice(ws, 0, n)
    // throws — a doc with fewer than n words must yield NO grams.
    val gramArr: Column = array((topRules ++ dupRules).map { case (n, _) =>
      expr(s"""CASE WHEN size(ws) >= $n THEN
              |  transform(sequence(1, size(ws) - ${n - 1}),
              |    i -> struct($n AS n,
              |      concat_ws(' ', slice(ws, i, $n)) AS g))
              |ELSE array() END""".stripMargin)
    }: _*)
    val segArr: Column = expr(
      s"""concat(transform(lines, x -> struct($LineN AS n, x AS g)),
         |       transform(paras, x -> struct($ParaN AS n, x AS g)))""".stripMargin)
    val counts = base
      .select(col("doc_id"), col("c"),
        explode(concat(flatten(gramArr), segArr)).as("p"))
      .groupBy(col("doc_id"), col("c"), col("p.n").as("n"),
        col("p.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    // covered chars, occurrence-weighted; top-1 per (doc, n) for the
    // top-gram signals, cnt >= 2 sums for the duplicate signals; the
    // segment-count fractions ride the same pass (dup_cnt / tot_cnt)
    val covered = (col("cnt") * length(col("g"))).cast("long")
    val wTop = Window.partitionBy(col("doc_id"), col("n"))
      .orderBy(col("cnt").desc, col("g"))
    val perN = counts
      .withColumn("top_cov",
        when(row_number().over(wTop) === 1, covered).otherwise(0L))
      .withColumn("dup_cov",
        when(col("cnt") >= 2, covered).otherwise(0L))
      .groupBy(col("doc_id"), col("c"), col("n"))
      .agg(sum(col("top_cov")).as("top_cov"),
        sum(col("dup_cov")).as("dup_cov"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_cnt"),
        sum(col("cnt")).as("tot_cnt"))
    def pick(n: Int, c0: String): Column =
      sum(when(col("n") === n, col(c0)).otherwise(0L))
    val wideAggs =
      topRules.map { case (n, _) => pick(n, "top_cov").as(s"t$n") } ++
        dupRules.map { case (n, _) => pick(n, "dup_cov").as(s"d$n") } ++
        Seq(pick(LineN, "dup_cov").as("dl"), pick(ParaN, "dup_cov").as("dp"),
          pick(LineN, "dup_cnt").as("dlc"), pick(LineN, "tot_cnt").as("dlt"),
          pick(ParaN, "dup_cnt").as("dpc"), pick(ParaN, "tot_cnt").as("dpt"))
    val wide = perN.groupBy(col("doc_id"), col("c"))
      .agg(wideAggs.head, wideAggs.tail: _*)
    // one row for EVERY doc (a short doc with no 2-grams must still
    // report zeros, not vanish)
    // exact integer division (matches DuckDB's '//' even past 2^53,
    // where a floored double quotient can differ — ADVICE r12)
    val intDiv = (a: Column, b: Column) =>
      call_function("div", a.cast("long"), b.cast("long"))
    def ppmOf(c0: Column): Column =
      least(lit(1000000L), intDiv(coalesce(c0, lit(0L)) * 1000000L,
        greatest(col("c"), lit(1L))))
    def fracPpm(num: Column, den: Column): Column =
      least(lit(1000000L), intDiv(coalesce(num, lit(0L)) * 1000000L,
        greatest(coalesce(den, lit(0L)), lit(1L))))
    val sigCols =
      topRules.map { case (n, _) => ppmOf(col(s"t$n")).as(s"top${n}_ppm") } ++
        dupRules.map { case (n, _) => ppmOf(col(s"d$n")).as(s"dup${n}_ppm") } ++
        Seq(ppmOf(col("dl")).as("dup_line_ppm"),
          ppmOf(col("dp")).as("dup_para_ppm"),
          fracPpm(col("dlc"), col("dlt")).as("dup_line_frac_ppm"),
          fracPpm(col("dpc"), col("dpt")).as("dup_para_frac_ppm"))
    val passCond =
      (topRules.map { case (n, t) => col(s"top${n}_ppm") <= t } ++
        dupRules.map { case (n, t) => col(s"dup${n}_ppm") <= t } ++
        Seq(col("dup_line_ppm") <= SegCharPpm,
          col("dup_para_ppm") <= SegCharPpm,
          col("dup_line_frac_ppm") <= SegCntPpm,
          col("dup_para_frac_ppm") <= SegCntPpm)).reduce(_ && _)
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        col("c"))
      .join(wide.drop("c"), Seq("doc_id"), "left")
      .select(col("doc_id") +: col("n_words") +: sigCols: _*)
      .withColumn("gopher_pass", passCond.cast("int"))
  }

  /** DuckDB twin: list-slice grams per n, the same (cnt DESC, g ASC)
    * top-1, the same occurrence-weighted ppm arithmetic; line (n=101)
    * and paragraph (n=102) segments union into the same counted frame,
    * carrying both the character and the segment-count fractions. */
  def repetitionSignalsSql(source: String = "main.documents"): String = {
    val nsList = (topRules ++ dupRules).map { case (n, _) => s"($n)" }
      .mkString(",")
    def ppm(c0: String): String =
      s"least(1000000, coalesce($c0, 0) * 1000000 // greatest(w.c, 1))"
    def frac(num: String, den: String): String =
      s"least(1000000, coalesce($num, 0) * 1000000 // " +
        s"greatest(coalesce($den, 0), 1))"
    val sigSelect =
      (topRules.map { case (n, _) => s"${ppm(s"t$n")} AS top${n}_ppm" } ++
        dupRules.map { case (n, _) => s"${ppm(s"d$n")} AS dup${n}_ppm" } ++
        Seq(s"${ppm("dl")} AS dup_line_ppm", s"${ppm("dp")} AS dup_para_ppm",
          s"${frac("dlc", "dlt")} AS dup_line_frac_ppm",
          s"${frac("dpc", "dpt")} AS dup_para_frac_ppm")).mkString(",\n       ")
    val passExpr =
      (topRules.map { case (n, t) => s"${ppm(s"t$n")} <= $t" } ++
        dupRules.map { case (n, t) => s"${ppm(s"d$n")} <= $t" } ++
        Seq(s"${ppm("dl")} <= $SegCharPpm", s"${ppm("dp")} <= $SegCharPpm",
          s"${frac("dlc", "dlt")} <= $SegCntPpm",
          s"${frac("dpc", "dpt")} <= $SegCntPpm"))
        .mkString("\n        AND ")
    def pick(n: Int, c0: String): String =
      s"CAST(sum(CASE WHEN n = $n THEN $c0 ELSE 0 END) AS BIGINT)"
    val wideCols =
      (topRules.map { case (n, _) => s"${pick(n, "top_cov")} AS t$n" } ++
        dupRules.map { case (n, _) => s"${pick(n, "dup_cov")} AS d$n" } ++
        Seq(s"${pick(LineN, "dup_cov")} AS dl",
          s"${pick(ParaN, "dup_cov")} AS dp",
          s"${pick(LineN, "dup_cnt")} AS dlc",
          s"${pick(LineN, "tot_cnt")} AS dlt",
          s"${pick(ParaN, "dup_cnt")} AS dpc",
          s"${pick(ParaN, "tot_cnt")} AS dpt")).mkString(",\n         ")
    s"""WITH w AS (
       |  SELECT doc_id, text, regexp_extract_all(text, '\\S+') AS ws,
       |         CAST(length(text) AS BIGINT) AS c
       |  FROM $source),
       |grams AS (
       |  SELECT doc_id, c, t.n,
       |         array_to_string(ws[i:i+t.n-1], ' ') AS g
       |  FROM w, (VALUES $nsList) t(n),
       |       LATERAL unnest(generate_series(1, len(ws) - t.n + 1)) u(i)),
       |segs AS (
       |  SELECT doc_id, c, $LineN AS n, u.g
       |  FROM w, LATERAL unnest(list_filter(string_split(text, chr(10)),
       |                                     x -> x <> '')) u(g)
       |  UNION ALL
       |  SELECT doc_id, c, $ParaN AS n, u.g
       |  FROM w, LATERAL unnest(list_filter(
       |           string_split(text, chr(10) || chr(10)),
       |           x -> x <> '')) u(g)),
       |cnts AS (
       |  SELECT doc_id, c, n, g, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT * FROM grams UNION ALL SELECT * FROM segs)
       |  GROUP BY 1, 2, 3, 4),
       |pern AS (
       |  SELECT doc_id, c, n,
       |         CAST(sum(CASE WHEN rk = 1 THEN cnt * length(g) ELSE 0 END)
       |              AS BIGINT) AS top_cov,
       |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END)
       |              AS BIGINT) AS dup_cov,
       |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)
       |              AS BIGINT) AS dup_cnt,
       |         CAST(sum(cnt) AS BIGINT) AS tot_cnt
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |                                     ORDER BY cnt DESC, g) AS rk
       |        FROM cnts)
       |  GROUP BY 1, 2, 3),
       |wide AS (
       |  SELECT doc_id, c,
       |         $wideCols
       |  FROM pern GROUP BY 1, 2)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |       $sigSelect,
       |       CAST($passExpr AS INT) AS gopher_pass
       |FROM w LEFT JOIN wide ON wide.doc_id = w.doc_id""".stripMargin
  }
}
