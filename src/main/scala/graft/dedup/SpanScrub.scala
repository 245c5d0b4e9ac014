package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Span-level surgical deduplication (the Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better" ExactSubstr
  * operation, re-expressed relationally): instead of dropping whole
  * near-duplicate documents, excise every character span whose k-gram
  * already occurred earlier in the corpus — the FIRST occurrence (by
  * (doc_id, position)) keeps its text, every later occurrence is cut,
  * including self-repeats within one document. Whole-doc dedup
  * ([[Dedup]]) removes redundant documents; this removes the redundant
  * BYTES the whole-doc pass can't see (boilerplate headers, quoted
  * replies, licence blocks) while keeping the surrounding novel text.
  *
  * Relational plan instead of the paper's suffix array: one
  * per-position k-gram explode (the [[graft.text.TextAnalysis.winnowReference]]
  * shape), a first-occurrence window over the gram key, overlapping cut
  * ranges merged per doc by gaps-and-islands, and the survivor text
  * rebuilt from the complement slices. Scale: the explode is O(total
  * chars) rows and its ONE shuffle partitions by gram — [[spanScrubFp]]
  * is the 100 TB variant whose exchange carries the 63-bit
  * [[graft.functions.GramFps]] rolling hash (8-byte keys instead of
  * k-char strings), and everything downstream of the explode is
  * island-count-sized (kB per doc). Ubiquitous grams CANNOT be
  * df-capped here (unlike [[graft.text.TextAnalysis.sharedSpans]],
  * whose cap defuses a self-join quadratic): ExactSubstr's contract is
  * that EVERY later occurrence is a cut, so a boilerplate gram's whole
  * occurrence list must reach one window partition. That skew is
  * linear, not quadratic — the hot task sorts (gram, doc_id, i)
  * triples, ~24 B/occurrence — and measured benign at 1M docs with a
  * 100%-planted 60-char boilerplate prefix (SCALING.md r16
  * "scrubskew: the ExactSubstr hot-gram skew table": boiler/organic =
  * 1.12× wall, 1.06× shuffle, no straggler death). The same table shows the batch form's ABSOLUTE
  * cost honestly: at 1M docs the per-position frame is in the
  * external-sort spill regime (~39 GB shuffle, ~56 GB disk spill,
  * ~6.4 min/M docs steady) — linear in corpus positions and it
  * completes, but the spill is why the shard-at-a-time store form
  * ([[scrubShard]]) — which bounds the window input to one shard's
  * positions — is the production shape at corpus scale. The oracle keeps the exact substring key: collision-free by
  * construction, DuckDB replays it verbatim, and the fp variant is
  * parity-pinned against it (q_span_scrub_fp).
  */
object SpanScrub {

  /** (doc_id, n_cut_spans, cut_chars, text_clean) for every document;
    * untouched docs pass through with 0 cuts. Gram key = the exact
    * k-char substring (collision-free; what DuckDB replays verbatim). */
  def spanScrub(docs: DataFrame, k: Int = 40): DataFrame = {
    val base = graft.Tables.spread(docs).select(col("doc_id"), col("text"))
    // per-position grams; docs shorter than k produce none
    val grams = base
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, length(text) - ${k - 1})")).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"),
        expr(s"substr(text, i, $k)").as("gram"))
    scrubByGram(base, grams, k)
  }

  /** [[spanScrub]] with the promised 100 TB wire shape: the gram key is
    * the 63-bit [[graft.functions.GramFps]] rolling hash, so the ONE
    * corpus-scale exchange (hashpartitioning on `gram`) carries 8-byte
    * Longs instead of k-char strings — ~5× narrower at k = 40. Same
    * explode volume, same windows, same rebuild; only the key narrows.
    * Correctness story: q_span_scrub_fp parity-pins this variant against
    * the exact-substring oracle — a hash collision (p ≈ n²/2⁶² per
    * corpus) would cut a span the exact key keeps and surface as a hash
    * mismatch, so "collision-free on this corpus" is a checked fact, not
    * an assumption. */
  def spanScrubFp(docs: DataFrame, k: Int = 40): DataFrame = {
    val base = graft.Tables.spread(docs).select(col("doc_id"), col("text"))
    scrubByGram(base, fpGrams(base, k), k)
  }

  /** A scrub output as a corpus for the downstream stages: (doc_id,
    * text, n_chars) with the cleaned text under `text` and `n_chars`
    * recounted from it. */
  private[graft] def scrubbedDocs(scrub: DataFrame): DataFrame =
    scrub.select(col("doc_id"), col("text_clean").as("text"),
      length(col("text_clean")).cast("long").as("n_chars"))

  /** Per-position 63-bit rolling-hash grams: (doc_id, i, gram) with i
    * 1-based like the exact variant's substr positions. */
  private[graft] def fpGrams(base: DataFrame, k: Int): DataFrame =
    base
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.gram_fps(col("text"), k))
          .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"), col("gram"))

  /** One shard scrubbed against the accumulated gram-fingerprint store
    * — the ExactSubstr operation made INCREMENTAL, the byte-level
    * sibling of [[graft.streaming.Funnel.fresh]]'s doc-level
    * anti-join. Every shard gram already present in the store is a cut
    * (its first occurrence lives in an earlier shard); within the
    * shard, later occurrences of novel grams are cut by the usual
    * first-occurrence window — shard-sized, so the window sort never
    * sees the corpus. Returns (scrubbed docs in [[spanScrub]]'s output
    * shape, novel first-occurrence grams to append to the store).
    *
    * Equality contract: when shards arrive in doc_id order, the store
    * holds exactly the gram set of earlier docs, so "in store" ⇔
    * "has a global earlier occurrence" and the loop reproduces the
    * batch [[spanScrub]] bit-for-bit (q_scrub_incr pins this against
    * the EXACT-substring oracle, which also checks fp collisions).
    * Scale: the store is the big side (one row per distinct corpus
    * gram) — it joins bucketed-by-gram in the streaming form so only
    * the arriving shard's grams shuffle. */
  def scrubShard(shard: DataFrame, gramStore: DataFrame,
                 k: Int = 40): (DataFrame, DataFrame) = {
    val base = shard.select(col("doc_id"), col("text"))
    val grams = fpGrams(base, k)
    // ONE store probe + ONE first-occurrence window over a single
    // pinned frame, serving BOTH outputs. The previous shape probed
    // the store twice (semi + anti) and, because the two outputs are
    // consumed in different ACTIONS by every caller (the scrubbed text
    // in the result DAG, the novel grams in the store-update
    // checkpoint), re-executed the whole gram window per shard —
    // measured r16: the per-shard store join + window ran 2× in every
    // incremental loop. `__in` marks store membership via a left join;
    // rn is the within-shard occurrence rank. Store-hit occurrences are
    // all cuts; novel occurrences cut from rn>1 (identical to ranking
    // the novel subset alone, since store membership is per-gram).
    // Duplicate store rows (the compaction/replay window) fan out ONLY
    // store-hit rows, whose every copy is a cut regardless of rn, and
    // duplicate cut ranges merge into one island; novel partitions
    // never fan out, so exactly one rn=1 row emits per novel gram —
    // both outputs are value-identical under a duplicated store
    // (pinned in SpanScrubSpec, r17), at the price of a proportionally
    // larger `marked` materialization. The loops here keep the store
    // distinct by construction (novel grams are rn=1-deduped and a
    // stored gram can never be novel again); the split-store streaming
    // form dedupes hits on (doc_id, i) explicitly.
    val wS = Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("i"))
    val marked = grams
      .join(gramStore.withColumn("__in", lit(1)), Seq("gram"), "left")
      .withColumn("rn", row_number().over(wS))
      .localCheckpoint()
    val cuts = marked.filter(col("__in") === 1 || col("rn") > 1)
      .select(col("doc_id"), col("i").as("s"), (col("i") + (k - 1)).as("e"))
    val scrubbed = rebuildFromCuts(base, cuts)
    (scrubbed,
      marked.filter(col("__in").isNull && col("rn") === 1).select(col("gram")))
  }

  /** [[scrubShard]] against a SPLIT store — (bucketed compacted gram
    * table, recent deltas), the bucketed [[graft.streaming.Funnel.fresh]]
    * shape for the scrub store, with two gram-store-specific deviations,
    * both soak-measured (SCALING.md "incremental scrub soak"):
    *
    *  - The delta side is NOT broadcast. Unlike the doc-count-sized
    *    fingerprint deltas, a gram delta is corpus-BYTES-sized (~740
    *    grams per doc — one pre-compaction shard is already hundreds
    *    of MB), and the first soak run showed the broadcast build
    *    dominating then failing as deltas accumulated (45 → 77 →
    *    211 s per shard, stage failures at shard 3). A shuffled join
    *    bounds the delta cost at compactEvery × shard-sized.
    *  - The compact-table probe is a SHUFFLED-HASH inner join with the
    *    SHARD as build side, not an SMJ. Append-mode compaction leaves
    *    multiple files per bucket, which keeps the table's hash
    *    partitioning (no store-side Exchange) but loses per-bucket
    *    sortedness — an SMJ would re-SORT the whole store every shard,
    *    exactly the corpus-scale sort this store exists to avoid. The
    *    hash probe streams the store once per shard with no sort and
    *    no exchange (plan-asserted in ScrubStreamSpec); the shard-side
    *    hash table is ~1M grams per bucket task.
    *
    * The store sides may carry duplicate rows (compaction crash
    * window, append replays) — hit occurrences are deduped on
    * (doc_id, i), shard-sized, and the inner-join form is immune to
    * store-side duplicates beyond that. `hits` is pinned so the store
    * is scanned ONCE per shard (both the cut ranges and the
    * novel-gram complement read it). */
  /** The split-store probe plan itself — the shuffled-hash scan of the
    * bucket table plus the delta semi-join, deduped to occurrences.
    * Factored out so the plan gate can EXECUTE exactly the frame
    * [[scrubShardSplit]] pins (the localCheckpoint there materializes
    * this plan before the caller can inspect it). */
  private[graft] def storeProbe(grams: DataFrame, gramCompact: DataFrame,
                                gramDelta: DataFrame): DataFrame =
    grams.hint("SHUFFLE_HASH").join(gramCompact, Seq("gram"))
      .select(col("doc_id"), col("i"))
      .unionByName(grams.join(gramDelta, Seq("gram"), "left_semi")
        .select(col("doc_id"), col("i")))
      .dropDuplicates("doc_id", "i")

  def scrubShardSplit(shard: DataFrame, gramCompact: DataFrame,
                      gramDelta: DataFrame,
                      k: Int = 40): (DataFrame, DataFrame) = {
    val base = shard.select(col("doc_id"), col("text"))
    val grams = fpGrams(base, k)
    val hits = storeProbe(grams, gramCompact, gramDelta).localCheckpoint()
    val hitCuts = hits
      .select(col("doc_id"), col("i").as("s"), (col("i") + (k - 1)).as("e"))
    val novel = grams.join(hits, Seq("doc_id", "i"), "left_anti")
    val wS = Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("i"))
    val novelRn = novel.withColumn("rn", row_number().over(wS))
    val selfCuts = novelRn.filter(col("rn") > 1)
      .select(col("doc_id"), col("i").as("s"), (col("i") + (k - 1)).as("e"))
    val scrubbed = rebuildFromCuts(base, hitCuts.unionByName(selfCuts))
    (scrubbed, novelRn.filter(col("rn") === 1).select(col("gram")))
  }

  /** The id-ordered incremental scrub as one deterministic loop — the
    * q_scrub_incr engine side, hash-matched against [[spanScrubSql]]
    * (the flat batch oracle: incrementality must be invisible in the
    * output). Shards and the lazily accumulated gram store are
    * [[graft.streaming.ShardLoop]]'s; the unbounded-shard production
    * form is the disk-backed store ([[graft.streaming.ScrubIngest]]). */
  def incrScrub(docs: DataFrame, shardSize: Long = 150,
                maxId: Long = 600, k: Int = 40): DataFrame = {
    import graft.streaming.{ShardLoop, ShardOut, Store}
    ShardLoop.run(docs, shardSize, maxId, Seq(Store.Gram)) { (shard, _, stores) =>
      val (scrubbed, novel) = scrubShard(shard, stores(Store.Gram).compact, k)
      ShardOut(() => scrubbed,
        scala.collection.immutable.ListMap(Store.Gram -> novel))
    }
  }

  /** Shared tail: first-occurrence window over the gram key (string or
    * fingerprint), gaps-and-islands merge, complement-slice rebuild. */
  private def scrubByGram(base: DataFrame, grams: DataFrame,
                          k: Int): DataFrame = {
    // global first occurrence keeps; every later one is a cut range
    val wG = Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("i"))
    val cuts = grams
      .withColumn("rn", row_number().over(wG)).filter(col("rn") > 1)
      .select(col("doc_id"), col("i").as("s"),
        (col("i") + (k - 1)).as("e"))
    rebuildFromCuts(base, cuts)
  }

  /** The scrub's rebuild half, shared by the batch window form and the
    * incremental store form: merge the (doc_id, s, e) cut ranges per
    * doc by gaps-and-islands and re-assemble each survivor text from
    * the complement slices.
    *
    * Shape (r16 rewrite, §2.4 remove-shuffles): ONE aggregate collects
    * each doc's cut ranges into a sorted array, codegen'd HOF folds do
    * the island merge, span stats and the complement-slice rebuild
    * per-row, and ONE left join attaches the result to the corpus —
    * replacing the previous 2-window/4-aggregate/4-join chain (~10
    * exchanges → 2; measured 1.38 → 0.61 s on the sf0.1 cut set,
    * bit-equal output by exceptAll both ways). Per-doc state is the
    * cut array — bounded by the doc's own position count, the same
    * size class as the text column it rides beside.
    *
    * Island-merge equivalence with the old running-max window: cuts
    * are s-sorted; a new island opened at s > pm+1 always has
    * e ≥ s > pm+1, so the fold's last-island e IS the running max —
    * comparing x.s against it decides exactly like the window's pm. */
  private[graft] def rebuildFromCuts(base: DataFrame,
                                     cuts: DataFrame): DataFrame = {
    val merged = cuts.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cs"))
      .select(col("doc_id"), expr(
        """aggregate(cs, cast(array() as array<struct<s:bigint,e:bigint>>),
           (acc, x) -> if(size(acc) > 0 AND x.s <= element_at(acc, -1).e + 1,
             concat(slice(acc, 1, size(acc) - 1),
               array(named_struct('s', element_at(acc, -1).s,
                 'e', greatest(element_at(acc, -1).e, x.e)))),
             concat(acc, array(named_struct('s', x.s, 'e', x.e)))))"""
      ).as("isl"))
    base.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(size(col("isl")), lit(0)).as("n_cut_spans"),
        coalesce(
          expr("aggregate(isl, cast(0 as bigint), (a, x) -> a + x.e - x.s + 1)"),
          lit(0L)).as("cut_chars"),
        when(col("isl").isNull, col("text")).otherwise(expr(
          """aggregate(isl, named_struct('p', cast(0 as bigint), 't', ''),
             (a, x) -> named_struct('p', x.e,
               't', concat(a.t, substr(text, cast(a.p + 1 as int),
                                       cast(x.s - a.p - 1 as int)))),
             a -> concat(a.t, substr(text, cast(a.p + 1 as int))))"""))
          .as("text_clean"))
  }

  def spanScrubSql(k: Int = 40, source: String = "documents"): String =
    s"""WITH grams AS (
       |  SELECT doc_id, i, substring(text, i, $k) AS gram
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, length(text) - ${k - 1})) AS i
       |        FROM $source WHERE length(text) >= $k)),
       |cuts AS (
       |  SELECT doc_id, i AS s, i + ${k - 1} AS e
       |  FROM (SELECT doc_id, i,
       |          row_number() OVER (PARTITION BY gram
       |                             ORDER BY doc_id, i) AS rn
       |        FROM grams)
       |  WHERE rn > 1),
       |marked AS (
       |  SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
       |                ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
       |                AND 1 PRECEDING), 0) + 1
       |              THEN 1 ELSE 0 END AS new_isl
       |  FROM cuts),
       |islands AS MATERIALIZED (
       |  SELECT doc_id, grp, min(s) AS s, max(e) AS e
       |  FROM (SELECT doc_id, s, e,
       |          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s
       |            ROWS UNBOUNDED PRECEDING) AS grp
       |        FROM marked)
       |  GROUP BY doc_id, grp),
       |mids AS (
       |  SELECT i.doc_id, i.s,
       |         substring(d.text, CAST(coalesce(lag(i.e) OVER (
       |             PARTITION BY i.doc_id ORDER BY i.s), 0) + 1 AS INT),
       |           CAST(i.s - coalesce(lag(i.e) OVER (
       |             PARTITION BY i.doc_id ORDER BY i.s), 0) - 1 AS INT)) AS piece
       |  FROM islands i JOIN $source d ON d.doc_id = i.doc_id),
       |tails AS (
       |  SELECT t.doc_id, length(d.text) + 1 AS s,
       |         substring(d.text, CAST(t.le + 1 AS INT)) AS piece
       |  FROM (SELECT doc_id, max(e) AS le FROM islands GROUP BY doc_id) t
       |  JOIN $source d ON d.doc_id = t.doc_id),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY s) AS text_clean
       |  FROM (SELECT * FROM mids UNION ALL SELECT * FROM tails)
       |  GROUP BY doc_id),
       |stats AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_cut_spans,
       |         CAST(sum(e - s + 1) AS BIGINT) AS cut_chars
       |  FROM islands GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(st.n_cut_spans, 0) AS n_cut_spans,
       |       CAST(coalesce(st.cut_chars, 0) AS BIGINT) AS cut_chars,
       |       coalesce(r.text_clean, d.text) AS text_clean
       |FROM $source d
       |LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
       |LEFT JOIN stats st ON st.doc_id = d.doc_id""".stripMargin
}
