package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental sparse (BM25) index maintenance — the lexical-tower
  * analog of [[graft.ann.IncrementalIndex]]: new documents arrive (a
  * shard, or a streaming micro-batch), ONLY the shard is tokenized,
  * and the index state grows by algebraic merge. Searches immediately
  * see old+new documents.
  *
  * Where the dense index freezes its trained artifacts (codebook /
  * centroids), the sparse index needs no freeze at all: every piece of
  * BM25 state is a monoid — postings append, document-frequency tables
  * merge by per-token sum, corpus stats (N, Σdl) merge by sum — so
  * incremental maintenance is EXACT, not approximate. q_incr_bm25
  * pins that claim: its oracle is the plain full-corpus
  * [[CorpusStats.bm25Sql]], and the split-build-append-search result
  * must hash-match it.
  *
  * Scale shape: an append tokenizes the arriving shard only (the base
  * postings/df/stats are materialized artifacts — re-reads, not
  * re-derivations; SparseIndexSpec asserts the EXECUTED append plan
  * holds exactly one tokenization subtree). The df merge touches
  * vocab-sized tables, the stats merge one row. Search reads postings
  * pre-filtered to the ≤|Q| broadcast query vocabulary — the only
  * corpus-wide state it touches is the posting rows for the query
  * terms, exactly an inverted-index probe.
  */
object SparseIndex {

  /** Append-only searchable state: postings (doc, token, tf, dl),
    * per-token document frequencies, 1-row corpus stats, and the
    * doc-id inventory (the replay guard's small side — kept as its own
    * artifact so idempotence never scans the postings table). */
  final case class Index(postings: DataFrame, df: DataFrame,
                         stats: DataFrame, docIds: DataFrame)

  /** One tokenization: (doc_id, token, tf, dl) — since r15 the NATIVE
    * run-length form ([[tokenizeNative]]): the [[graft.functions.TokenTfs]]
    * sort+sweep emits one (token, tf) struct per distinct token, so
    * postings are born collapsed — no groupBy, no map-side-combine
    * hash table, no aggregate at all. The r15 tf-frame A/B (SCALING.md
    * "Native tf frame: the r13 verdict flips"): native 3.8 s / ZERO
    * spill at 1M docs vs relational 11.4 s with 13.7 GB memory + 1.5 GB
    * disk spill (the combine hash table is the spill source — the very
    * thing the r13 verdict credited with collapsing the exchange) vs
    * the interpreted HOF 11.6 s. The r13 HOF form's loss (SCALING.md
    * "Narrow tf frame: measured NEGATIVE") was the interpretation tax,
    * not the run-length idea. At 100 TB the postings build is now a
    * pure map over file splits with bounded memory. [[tokenizeRelational]] is
    * the equality-pinned A/B twin (SparseIndexSpec). */
  private def tokenize(docs: DataFrame): DataFrame = tokenizeNative(docs)

  /** The r13-r14 production form, relational explode → groupBy — kept
    * reachable for A/B soaks and the SparseIndexSpec equality pin.
    * Superseded in r15 by [[tokenizeNative]] (see [[tokenize]]): its
    * map-side combine hash table spills at 1M docs, and the native
    * sort+sweep produces the collapsed rows without any aggregate. */
  private[graft] def tokenizeRelational(docs: DataFrame): DataFrame = {
    val wArr = expr("regexp_extract_all(text, '\\\\S+', 0)")
    graft.Tables.spread(docs)
      .select(col("doc_id"), explode(
        transform(array(wArr), arr =>
          transform(arr, t => struct(t.as("token"), size(arr).as("dl"))))
          .getItem(0)).as("p"))
      .select(col("doc_id"), col("p.token").as("token"), col("p.dl").as("dl"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** The native [[graft.functions.TokenTfs]] run-length tokenization —
    * PRODUCTION since r15 (see [[tokenize]] for the A/B verdict): the
    * sort+sweep the r13 higher-order-function form interpreted, as a
    * tight JVM loop, so the ~10× interpretation tax that made the r13
    * A/B a 1.8× loss is gone. The explode fans out to DISTINCT tokens
    * only and there is no map-side-combine hash table and no groupBy
    * exchange — postings
    * are born collapsed. Equality-pinned against [[tokenizeRelational]]
    * in SparseIndexSpec; A/B'd in SCALING.md "Native tf frame". */
  private[graft] def tokenizeNative(docs: DataFrame): DataFrame = {
    val wArr = expr("regexp_extract_all(text, '\\\\S+', 0)")
    graft.Tables.spread(docs)
      .select(col("doc_id"), wArr.as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(graft.functions.TextFunctions.token_tfs(col("ws"))).as("p"))
      .select(col("doc_id"), col("p.token").as("token"),
        col("p.tf").as("tf"), col("dl"))
  }

  /** [[postingsFromBase]] on the native run-length expression — see
    * [[tokenizeNative]]. */
  private[graft] def postingsFromBaseNative(base: DataFrame): DataFrame =
    base
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(graft.functions.TextFunctions.token_tfs(col("ws"))).as("p"))
      .select(col("doc_id"), col("p.token").as("token"),
        col("p.tf").as("tf"), col("dl"))

  private def dfOf(postings: DataFrame): DataFrame =
    postings.groupBy("token").agg(count(lit(1)).as("df"))

  private def statsOf(docs: DataFrame): DataFrame = {
    val wArr = expr("regexp_extract_all(text, '\\\\S+', 0)")
    docs.agg(count(lit(1)).as("n_docs"), sum(size(wArr)).as("sum_dl"))
  }

  /** Index the base corpus. The three state tables are materialized
    * ([[org.apache.spark.sql.Dataset.localCheckpoint]]) — they ARE the
    * stored artifacts; appends re-read them rather than re-tokenizing
    * the base. */
  def build(base: DataFrame): Index = {
    val postings = tokenize(base).localCheckpoint()
    Index(postings, dfOf(postings).localCheckpoint(),
      statsOf(base).localCheckpoint(),
      base.select(col("doc_id")).localCheckpoint())
  }

  /** Append a shard: tokenize the shard only, merge every state table
    * algebraically (postings union; df per-token sum; stats 1-row
    * sum). The base corpus is never read. */
  def append(idx: Index, shard: DataFrame): Index = {
    val p = tokenize(shard)
    Index(
      idx.postings.unionAll(p),
      idx.df.unionAll(dfOf(p)).groupBy("token")
        .agg(sum(col("df")).as("df")),
      idx.stats.unionAll(statsOf(shard))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")),
      idx.docIds.unionAll(shard.select(col("doc_id"))))
  }

  /** One document frame's postings rows — the disk-store write unit
    * of the combined streaming leg
    * ([[graft.streaming.CombinedIngest]]): each micro-batch lands its
    * kept docs' (doc_id, token, tf, dl) rows in a `batch_id`
    * partition, and the searchable index is rebuilt from the store by
    * [[fromStore]]. */
  def postingsOf(docs: DataFrame): DataFrame = tokenize(docs)

  /** [[postingsOf]] from an already-extracted POSITIONAL token frame
    * ([[graft.text.Repetition.positionalBase]]'s `ws` column) — the
    * combined topology's single-text-scan entry when the Gopher gate
    * also needs the ordered array: equal to [[tokenize]] because `ws`
    * IS `regexp_extract_all(text, '\S+')` and `dl = size(ws)` rides
    * each exploded row (empty texts explode to no rows in both).
    * Native run-length form since r15 — same verdict as [[tokenize]];
    * [[postingsFromBaseRelational]] is the pinned twin. */
  def postingsFromBase(base: DataFrame): DataFrame =
    postingsFromBaseNative(base)

  /** The r13-r14 relational form of [[postingsFromBase]] — the
    * equality-pinned A/B twin (see [[tokenizeRelational]]). */
  private[graft] def postingsFromBaseRelational(base: DataFrame): DataFrame =
    base.select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** Rebuild the full Index read model from a persisted postings
    * table + doc-id inventory — exact, because every state table is a
    * function of the postings rows (df by per-token count, Σdl by
    * per-doc dl) except n_docs, which the inventory carries so a
    * token-less document still counts. */
  def fromStore(postings: DataFrame, docIds: DataFrame): Index = {
    val p = postings.localCheckpoint()
    val stats = docIds.agg(count(lit(1)).as("n_docs")).crossJoin(
      p.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("sum_dl")))
    Index(p, dfOf(p).localCheckpoint(), stats.localCheckpoint(),
      docIds.localCheckpoint())
  }

  /** [[append]] under at-least-once delivery: a replayed micro-batch
    * must not merge twice (postings would double tf, df, N, Σdl — every
    * score silently inflates). Already-indexed doc ids are anti-joined
    * out against the doc-id inventory artifact before tokenization; a
    * full replay is a no-op that never reaches the tokenizer. The
    * streaming-consume twin of
    * [[graft.streaming.Idempotence.dedupOnRead]], for index state. */
  def appendIdempotent(idx: Index, shard: DataFrame): Index =
    append(idx, shard.join(idx.docIds, Seq("doc_id"), "left_anti"))

  /** BM25 top-k over the index's current state — the
    * [[CorpusStats.bm25]] scoring tail reading stored postings instead
    * of re-tokenizing the corpus. Identical arithmetic, identical
    * output schema: incremental ≡ batch, hash-checked. */
  def search(idx: Index, queryTerms: Seq[String],
             k1: Double = 1.2, b: Double = 0.75, k: Int = 50): DataFrame = {
    val tf = idx.postings.filter(col("token").isin(queryTerms: _*))
    val idf = idx.df.filter(col("token").isin(queryTerms: _*))
      .crossJoin(broadcast(idx.stats)) // ≤|Q| rows × 1 stats row
      .select(col("token"),
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0).as("idf"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val wRank = Window.orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(idf), "token")
      .select(col("doc_id"),
        (col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk", row_number().over(wRank).cast("int"))
  }

  /** The oracle-checked end-to-end shape (q_incr_bm25): docs below
    * `splitId` are the originally-indexed base, the rest arrive as a
    * shard and merge in; the search then sees the full corpus and must
    * hash-match the batch [[CorpusStats.bm25Sql]] oracle. */
  def incrBm25(docs: DataFrame, splitId: Long = 250,
               queryTerms: Seq[String] = Seq("spark", "join", "window", "hash"),
               k1: Double = 1.2, b: Double = 0.75, k: Int = 50): DataFrame = {
    val idx = build(docs.filter(col("doc_id") < splitId))
    val grown = append(idx, docs.filter(col("doc_id") >= splitId))
    search(grown, queryTerms, k1, b, k)
  }
}
