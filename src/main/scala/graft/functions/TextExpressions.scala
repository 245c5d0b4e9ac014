package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprints: one pass over the document, one
  * output entry per block — replaces the declarative formulation
  * (explode a row PER CHARACTER, evaluate a 5-term polynomial per
  * position, shuffle-free but still materializing ~len rows per doc
  * through the aggregate) with an O(len) incremental rolling hash and
  * in-loop per-block minima.
  *
  * Semantics are bit-identical to [[graft.text.TextAnalysis.winnowSql]]
  * (the DuckDB oracle is unchanged): hash_i = Σ_j ascii(c_{i+j})·B^{k−1−j}
  * mod P — per-term mod and full-sum mod agree because mod is additive —
  * computed incrementally as H_{i+1} = ((H_i − a_i·B^{k−1})·B + a_{i+k})
  * mod P; fp(block) = min over the block's w positions. Documents
  * shorter than k pad with ascii 0, exactly like `substring` returning
  * '' → `ascii('') = 0` in both engines.
  *
  * Eval-only (CodegenFallback): the work is O(len) per ROW, so the
  * per-row interpreted dispatch that codegen eliminates is amortized
  * over the document's whole character loop — unlike the per-element
  * dot products ([[DotProductF]]) where codegen is the difference.
  * Operating on the raw UTF8String keeps it allocation-light; no UDF,
  * no serialization boundary. */
case class WinnowFps(child: Expression, k: Int, w: Int, b: Long, p: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("block", LongType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_fps"

  // B^(k-1) mod P, for the rolling subtraction
  private val powTop: Long =
    java.math.BigInteger.valueOf(b).modPow(
      java.math.BigInteger.valueOf((k - 1).toLong),
      java.math.BigInteger.valueOf(p)).longValue()

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Iterate CODE POINTS, not UTF-16 code units: Spark's substring/
    // ascii/length and DuckDB's are all codepoint-based, so an astral
    // char (emoji) is one position with its full code-point value.
    val cps = s.codePoints().toArray
    val len = cps.length
    // ascii() of the j-th 1-based character; 0 beyond the end (parity
    // with ascii(substring(text, i, 1)) on out-of-range = ascii('') = 0)
    @inline def at(pos1: Int): Long =
      if (pos1 >= 1 && pos1 <= len) cps(pos1 - 1).toLong else 0L
    val nPos = math.max(len - (k - 1), 1)
    val nBlocks = (nPos - 1) / w + 1
    val blocks = new Array[Long](nBlocks)
    val fps = new Array[Long](nBlocks)
    // initial window hash at i=1
    var h = 0L
    var j = 0
    while (j < k) {
      h = (h * b + at(1 + j)) % p
      j += 1
    }
    var block = 0
    var minFp = h
    var i = 2
    while (i <= nPos) {
      // roll: drop a_{i-1}, shift, add a_{i-1+k}
      h = ((h + p - (at(i - 1) * powTop) % p) % p * b + at(i - 1 + k)) % p
      val blk = (i - 1) / w
      if (blk != block) {
        blocks(block) = block.toLong
        fps(block) = minFp
        block = blk
        minFp = h
      } else if (h < minFp) minFp = h
      i += 1
    }
    blocks(block) = block.toLong
    fps(block) = minFp
    val rows = new Array[Any](nBlocks)
    var bi = 0
    while (bi < nBlocks) {
      rows(bi) = InternalRow(blocks(bi), fps(bi))
      bi += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct character n-gram shingles in one pass — replaces
  * `array_distinct(transform(sequence(1, len−n+1), i → substring(text,
  * i, n)))`, which materializes every overlapping substring (len
  * strings per doc) before deduplicating, with a single LinkedHashSet
  * sweep. Bit-identical output set and size: positions 1..max(len−n+1,
  * 1), shingle = the n chars at the position (shorter at the tail /
  * for short docs, '' for empty text — exactly `substring`'s clamping),
  * first-occurrence order like array_distinct.
  *
  * Eval-only for the same reason as [[WinnowFps]]: O(len) work per
  * row amortizes the interpreted dispatch. */
case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Code-point positions/lengths, matching Spark + DuckDB substring
    // semantics for astral chars (see [[WinnowFps]]).
    val cps = s.codePoints().toArray
    val len = cps.length
    val nPos = math.max(len - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < nPos) {
      seen.add(new String(cps, i, math.min(i + n, len) - i))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = UTF8String.fromString(it.next())
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-position k-gram rolling-hash fingerprints — the wire-width
  * companion to [[graft.dedup.SpanScrub]]: one 61-bit fingerprint per
  * gram position (array index i ⇔ 1-based position i+1), so the span
  * dedup's ONE gram-key shuffle carries an 8-byte Long instead of the
  * k-char substring (~5× narrower exchange at k=40). Hash: the
  * Rabin-Karp polynomial Σ_j cp(c_{i+j})·B^{k−1−j} mod M₆₁
  * (M₆₁ = 2⁶¹−1, a Mersenne prime — reduction is two shifts, no
  * division; B = 131), computed incrementally like [[WinnowFps]].
  * Values stay in [0, 2⁶¹) — positive in every engine's BIGINT, the
  * established sign-bit discipline. Two distinct grams collide with
  * p ≈ n²/2⁶² per corpus (~10⁻⁶ at a million grams): the q_span_scrub_fp
  * oracle parity-pins the fp variant against the exact-substring key,
  * which is what turns "negligible" into a checked fact.
  *
  * Docs shorter than k emit an empty array (the span pipeline filters
  * them out anyway). Eval-only for the [[WinnowFps]] reason: O(len)
  * work per row amortizes the interpreted dispatch. */
case class GramFps(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_fps"

  private val M = (1L << 61) - 1
  private val B = 131L
  // B^(k-1) mod M, for the rolling subtraction
  private val powTop: Long =
    java.math.BigInteger.valueOf(B).modPow(
      java.math.BigInteger.valueOf((k - 1).toLong),
      java.math.BigInteger.valueOf(M)).longValue()

  // (a·b) mod 2⁶¹−1 via 128-bit product: 2⁶⁴ ≡ 2³ and 2⁶¹ ≡ 1
  @inline private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & M) + (lo >>> 61) + (hi << 3)
    r = (r & M) + (r >>> 61)
    if (r >= M) r - M else r
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val len = cps.length
    if (len < k) return new GenericArrayData(Array.empty[Any])
    val nPos = len - k + 1
    val fps = new Array[Any](nPos)
    var h = 0L
    var j = 0
    while (j < k) {
      h = (mulmod(h, B) + cps(j)) % M
      j += 1
    }
    fps(0) = Long.box(h)
    var i = 1
    while (i < nPos) {
      // roll: drop cp(i-1), shift, add cp(i-1+k)
      h = (mulmod((h + M - mulmod(cps(i - 1).toLong, powTop)) % M, B)
        + cps(i - 1 + k)) % M
      fps(i) = Long.box(h)
      i += 1
    }
    new GenericArrayData(fps)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole MinHash signature in ONE pass over the document — replaces
  * the declarative chain (explode one row per character position →
  * substring → two 4-term polynomial hashes → numHashes min-aggregates
  * behind a groupBy(doc_id)) with an O(len) incremental rolling hash
  * and in-loop minima: one output row per document, NO explode, NO
  * aggregate, no shuffle until the band join.
  *
  * Bit-identical to the declarative reference
  * ([[graft.dedup.Dedup.minhashSignaturesDeclarative]]) and the DuckDB
  * oracle ([[graft.dedup.Dedup.minhashCandidatesSql]]): per position
  * i ∈ 1..max(len−n+1, 1), ha/hb = Σ_j cp(c_{i+j})·B^{n−1−j} mod P31
  * (code points, zeros beyond the end — `ascii(substr(..))` = 0 on
  * out-of-range, so tail shingles hash as zero-padded), and
  * sig_k = min_i ((ha·a_k) % P + (hb·b_k) % P + c_k) % P. min over the
  * position MULTISET equals min over the distinct-shingle set.
  *
  * Eval-only for the same reason as [[WinnowFps]]: O(len·k) work per
  * row amortizes the interpreted dispatch. */
case class MinhashSigs(child: Expression, n: Int, b1: Long, b2: Long,
                       polyP: Long, hashP: Long,
                       consts: Seq[(Long, Long, Long)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  private val k = consts.length
  private val as = consts.map(_._1).toArray
  private val bs = consts.map(_._2).toArray
  private val cs = consts.map(_._3).toArray
  private def top(b: Long): Long =
    java.math.BigInteger.valueOf(b).modPow(
      java.math.BigInteger.valueOf((n - 1).toLong),
      java.math.BigInteger.valueOf(polyP)).longValue()
  private val top1 = top(b1)
  private val top2 = top(b2)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val len = cps.length
    @inline def at(pos1: Int): Long =
      if (pos1 >= 1 && pos1 <= len) cps(pos1 - 1).toLong else 0L
    val nPos = math.max(len - (n - 1), 1)
    val mins = Array.fill(k)(Long.MaxValue)
    var ha = 0L
    var hb = 0L
    var j = 0
    while (j < n) {
      ha = (ha * b1 + at(1 + j)) % polyP
      hb = (hb * b2 + at(1 + j)) % polyP
      j += 1
    }
    var i = 1
    while (i <= nPos) {
      var t = 0
      while (t < k) {
        val v = ((ha * as(t)) % hashP + (hb * bs(t)) % hashP + cs(t)) % hashP
        if (v < mins(t)) mins(t) = v
        t += 1
      }
      // roll both hashes to position i+1
      ha = ((ha + polyP - (at(i) * top1) % polyP) % polyP * b1 + at(i + n)) % polyP
      hb = ((hb + polyP - (at(i) * top2) % polyP) % polyP * b2 + at(i + n)) % polyP
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted-run statistics of a document's word n-grams in one native
  * pass — the hot inner loop of the Gopher repetition signals
  * ([[graft.text.Repetition.signalsFromBase]]). Replaces the
  * `aggregate(array_sort(transform(sequence(...), …)), …)` HOF fold,
  * whose higher-order functions are CodegenFallback and evaluate
  * INTERPRETED per array element (a named_struct allocation + lambda
  * rebinding per gram: measured ~0.3 ms/doc at 60 words — SCALING.md
  * r14 "repwidediag: de-confounding pin type × width"), with a tight
  * JVM loop: build the sliding grams once, `Arrays.sort` them, one
  * run-length sweep.
  *
  * Semantics are bit-identical to the HOF fold (equality-pinned in
  * CorpusOpsSpec; the DuckDB oracle of q_rep_signals is unchanged):
  *  - grams = the n-word sliding windows of the input array joined
  *    with one space (n = 1: the elements themselves — the line/
  *    paragraph segment form); fewer than n words → zero grams;
  *  - sort order = `array_sort`'s binary UTF8 ordering
  *    (UTF8String.compareTo), so the longest-run tie-break (first
  *    maximum in ascending order ≡ Gopher's (cnt DESC, g ASC) top-1)
  *    picks the identical gram;
  *  - lengths are CHARACTER counts (`length()` ≡ numChars), null
  *    input → null row, empty array → all-zero struct;
  *  - NULL ELEMENTS are dropped from every count and, for n >= 2, act
  *    as a run break — no gram spans the gap (see [[GramBuild]] for
  *    the full contract and why the HOF twin is allowed to differ on
  *    inputs no in-repo producer emits).
  *
  * Eval-only (CodegenFallback) for the [[WinnowFps]] reason: the work
  * is O(grams · log grams) per ROW, amortizing the one interpreted
  * dispatch; operating on UTF8String directly keeps the sort
  * allocation-light (no String decode). */
/** Shared gram construction for [[GramRunStats]] and [[TokenTfs]].
  *
  * Null-element contract (r16, ADVICE r15): a null element is dropped
  * from every count AND, for n >= 2, acts as a RUN BREAK — no sliding
  * gram spans the gap where a null sat, because such a gram never
  * appeared adjacently in the input. (The pre-r16 form compacted nulls
  * out first, which fabricated phantom cross-gap grams.) In-repo
  * producers (regexp_extract_all, filter(split(...))) never emit null
  * elements, so this is a public-API contract only; the HOF twin
  * (array_sort, nulls last) still differs on null-containing arrays
  * and remains undocumented there. */
private[functions] object GramBuild {
  private val space = UTF8String.fromString(" ")

  /** Returns (grams, count). For n == 1 the array is the compacted
    * non-null elements and MAY BE OVERSIZED — callers must read (and
    * sort) only [0, count). For n >= 2 it is the exact-sized array of
    * space-joined n-word sliding grams of each null-free run. */
  def grams(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            n: Int): (Array[UTF8String], Int) = {
    val m0 = arr.numElements()
    val words = new Array[UTF8String](m0)
    // maximal runs of consecutive non-null elements, as lengths over
    // the compacted words array (segments are contiguous in it)
    val segLens = new Array[Int](m0 + 1)
    var nSegs = 0
    var cur = 0
    var m = 0
    var r = 0
    while (r < m0) {
      if (arr.isNullAt(r)) {
        if (cur > 0) { segLens(nSegs) = cur; nSegs += 1; cur = 0 }
      } else {
        words(m) = arr.getUTF8String(r); m += 1; cur += 1
      }
      r += 1
    }
    if (cur > 0) { segLens(nSegs) = cur; nSegs += 1 }
    if (n == 1) return (words, m)
    var cnt = 0
    var s = 0
    while (s < nSegs) {
      if (segLens(s) >= n) cnt += segLens(s) - n + 1
      s += 1
    }
    if (cnt == 0) return (Array.empty[UTF8String], 0)
    val grams = new Array[UTF8String](cnt)
    val window = new Array[UTF8String](n)
    var base = 0
    var k = 0
    s = 0
    while (s < nSegs) {
      val len = segLens(s)
      var i = 0
      while (i + n <= len) {
        System.arraycopy(words, base + i, window, 0, n)
        grams(k) = UTF8String.concatWs(space, window: _*)
        k += 1
        i += 1
      }
      base += len
      s += 1
    }
    (grams, cnt)
  }
}

case class GramRunStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  require(n >= 1, s"gram size must be >= 1, got $n")

  // Seq is covariant, so Seq[DataType] conforms to the inherited
  // Seq[AbstractDataType] without naming the private[sql] parent type
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = StructType(Seq(
    StructField("top_cov", LongType, nullable = false),
    StructField("dup_cov", LongType, nullable = false),
    StructField("dup_cnt", LongType, nullable = false),
    StructField("tot_cnt", LongType, nullable = false)))
  override def prettyName: String = "gram_run_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val (grams, cnt) = GramBuild.grams(arr, n)
    if (cnt == 0) return InternalRow(0L, 0L, 0L, 0L)
    // binary UTF8 order ≡ array_sort (UTF8String.compareTo); the n=1
    // array may be oversized — sort only the live prefix
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]], 0, cnt)
    var bestCnt = 0L; var bestCov = 0L
    var dupCov = 0L; var dupCnt = 0L
    var i = 0
    while (i < cnt) {
      var j = i + 1
      while (j < cnt && grams(j).equals(grams(i))) j += 1
      val run = (j - i).toLong
      if (run > bestCnt) {
        bestCnt = run
        bestCov = run * grams(i).numChars()
      }
      if (run >= 2L) {
        dupCov += run * grams(i).numChars()
        dupCnt += run
      }
      i = j
    }
    InternalRow(bestCov, dupCov, dupCnt, cnt.toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document term frequencies in one native pass: sort the token
  * array, run-length encode — one (token, tf) struct per DISTINCT
  * token, ready to explode straight into a postings frame with no
  * groupBy and no interpreted higher-order functions.
  *
  * The third arm of the tf-frame A/B (SCALING.md r15 "Native tf
  * frame: the r13 verdict flips"): r13 measured a lambda-bound HOF
  * run-length form losing 1.8× to relational explode → groupBy
  * (SCALING.md r13 "Narrow tf frame: measured NEGATIVE") — but that
  * compared INTERPRETED HOFs against codegen'd aggregation; this is
  * the same sort+sweep as a tight JVM loop (the [[GramRunStats]]
  * pattern), so the loss's ~10× interpretation tax is gone while the
  * explode stays collapsed to distinct-token fan-out and the map-side
  * combine disappears.
  *
  * Semantics equal the relational explode → groupBy
  * ([[graft.text.SparseIndex.tokenizeRelational]]), one (token, tf)
  * pair per distinct token: empty array → empty array (explodes to
  * no rows — token-less docs vanish from postings);
  * null input → null (same); tf is the run length as a Long. NULL
  * ELEMENTS are dropped and break runs for n >= 2 (the [[GramBuild]]
  * public-API contract; no in-repo producer emits them). Output order
  * is sorted-token order — postings consumers are order-free
  * aggregations/joins.
  *
  * Eval-only (CodegenFallback) for the [[WinnowFps]] reason: O(L log L)
  * per ROW amortizes the one interpreted dispatch; tokens going into
  * output rows are cloned (the input array may be backed by a reused
  * unsafe buffer; everything else about the sweep is allocation-free). */
case class TokenTfs(child: Expression, n: Int = 1)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  require(n >= 1, s"gram size must be >= 1, got $n")

  // Seq is covariant, so Seq[DataType] conforms to the inherited
  // Seq[AbstractDataType] without naming the private[sql] parent type
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_tfs"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // n >= 2: the "tokens" are the n-word sliding grams joined with one
    // space (the GramBuild construction) — fewer than n words in every
    // null-free run means zero grams and the doc vanishes from the
    // exploded frame
    val (toks, m) = GramBuild.grams(arr, n)
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]], 0, m)
    // first sweep counts distinct runs so the output array is exact-size
    var nRuns = 0
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && toks(j).equals(toks(i))) j += 1
      nRuns += 1
      i = j
    }
    val out = new Array[Any](nRuns)
    var k = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && toks(j).equals(toks(i))) j += 1
      out(k) = InternalRow(toks(i).clone(), (j - i).toLong)
      k += 1
      i = j
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextFunctions {
  /** Per-block winnowed fingerprints (see [[WinnowFps]]). */
  def winnow_fps(text: Column, k: Int, w: Int, b: Long, p: Long): Column =
    GraftColumnBridge.toColumn(WinnowFps(
      GraftColumnBridge.toExpr(text), k, w, b, p))

  /** Distinct char n-gram shingles (see [[CharShingles]]). */
  def char_shingles(text: Column, n: Int): Column =
    GraftColumnBridge.toColumn(CharShingles(
      GraftColumnBridge.toExpr(text), n))

  /** Per-position k-gram rolling-hash fingerprints (see [[GramFps]]). */
  def gram_fps(text: Column, k: Int): Column =
    GraftColumnBridge.toColumn(GramFps(
      GraftColumnBridge.toExpr(text), k))

  /** Sorted n-gram run statistics (see [[GramRunStats]]). */
  def gram_run_stats(arr: Column, n: Int): Column =
    GraftColumnBridge.toColumn(GramRunStats(
      GraftColumnBridge.toExpr(arr), n))

  /** Per-doc (token, tf) run-length pairs (see [[TokenTfs]]); n >= 2
    * counts the n-word space-joined sliding grams instead. */
  def token_tfs(arr: Column, n: Int = 1): Column =
    GraftColumnBridge.toColumn(TokenTfs(GraftColumnBridge.toExpr(arr), n))

  /** One-pass MinHash signature array (see [[MinhashSigs]]). */
  def minhash_sigs(text: Column, n: Int, b1: Long, b2: Long,
                   polyP: Long, hashP: Long,
                   consts: Seq[(Long, Long, Long)]): Column =
    GraftColumnBridge.toColumn(MinhashSigs(
      GraftColumnBridge.toExpr(text), n, b1, b2, polyP, hashP, consts))
}
