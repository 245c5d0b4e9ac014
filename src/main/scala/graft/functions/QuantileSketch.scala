package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable quantile-sketch column — the percentile counterpart of the
  * [[Hll]] sketch trio. A metrics pipeline stores one sketch per
  * (window, key) row; any later rollup ("p95 across all of last month",
  * "p99 for these 12 categories combined") merges sketches instead of
  * rescanning raw events — exact percentiles do not merge
  * (p95(a ∪ b) ≠ f(p95(a), p95(b))), which at 100 TB forces either a
  * sketch column or a full second pass.
  *
  * Design: bottom-k sample by hash (KMV-style). Keep the k (value,
  * weight-hash) pairs with the smallest xxhash64 of the row's key; the
  * hash is a deterministic uniform [0,1) draw, so the kept values are a
  * uniform row sample and the empirical quantile of the sample estimates
  * the true quantile with error O(1/√k) (k = 1024 → ~2-3 % rank error,
  * 12 kB sketch). Crucially "k smallest of a union" is a semilattice:
  * merge order and partitioning CANNOT change the final sketch —
  * distributed aggregation is bit-deterministic (verified by
  * QuantileSketchSpec's split-vs-whole test), unlike t-digest whose
  * centroids drift with merge order.
  *
  *  - [[QSketchAgg]]    (`q_sketch(value, rowkey)`): rows → sketch
  *  - [[SketchMergeAgg]] over [[QSketchFamily]] (`q_sketch_merge(sk)`):
  *    sketches → sketch
  *  - [[QSketchQuantile]] (`q_sketch_quantile(sk, p)`): sketch → value
  *
  * Serialized form: 1 hash-mode byte, then n × 16-byte little-endian
  * (hash long, value double) pairs, hash-ascending.
  */
object QSketch {
  val K = 1024

  /** Hash-mode tag (serialized as the leading byte): sketches sampled
    * with different hashes keep DIFFERENT bottom-k draws of the same
    * rows — merging them is meaningless, so merge adopts the mode from
    * the first non-empty side and rejects a mismatch. */
  val ModeUnset: Byte = 0
  val ModeXx: Byte = 1
  val ModeMd5: Byte = 2

  /** In-memory buffer: a bounded max-heap-by-hash would be optimal; a
    * sorted array with a cap keeps it simple and allocation-light at
    * k ≤ 1024. Pairs are (hash, value), kept hash-ascending. */
  final class Buf(var hashes: Array[Long], var values: Array[Double], var n: Int,
                  var mode: Byte = ModeUnset) {
    def threshold: Long = if (n < K) Long.MaxValue else hashes(n - 1)
  }

  def empty(mode: Byte = ModeUnset): Buf =
    new Buf(new Array[Long](K), new Array[Double](K), 0, mode)

  /** Catalyst numerics → double (SQL decimal literals arrive as
    * [[org.apache.spark.sql.types.Decimal]], not java.lang.Number). */
  def asDouble(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number                             => n.doubleValue()
  }

  /** Insert (h, v) if h beats the current k-th smallest hash. Ties on
    * hash keep the smaller value so the sketch is a pure function of the
    * input SET even under 64-bit hash collisions. */
  def insert(b: Buf, h: Long, v: Double): Unit = {
    if (b.n >= K && h > b.hashes(b.n - 1)) return
    // binary search for insertion point (hash asc, then value asc)
    var lo = 0; var hi = b.n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Long.compare(b.hashes(mid), h)
      if (c < 0 || (c == 0 && b.values(mid) < v)) lo = mid + 1 else hi = mid
    }
    if (lo >= K) return // ties with the evicted tail land past the cap
    if (lo < b.n && b.hashes(lo) == h && b.values(lo) == v) return // exact dup
    val newN = math.min(b.n + 1, K)
    System.arraycopy(b.hashes, lo, b.hashes, lo + 1, math.min(b.n, K - 1) - lo)
    System.arraycopy(b.values, lo, b.values, lo + 1, math.min(b.n, K - 1) - lo)
    b.hashes(lo) = h; b.values(lo) = v
    b.n = newN
  }

  def merge(a: Buf, b: Buf): Buf = {
    if (b.mode != ModeUnset) {
      if (a.mode == ModeUnset) a.mode = b.mode
      else require(a.mode == b.mode,
        s"cannot merge q_sketches with different hash modes (${a.mode} vs ${b.mode})")
    }
    var i = 0
    while (i < b.n) { insert(a, b.hashes(i), b.values(i)); i += 1 }
    a
  }

  /** Empirical quantile of the sampled values (nearest-rank on the
    * value-sorted sample). */
  def quantile(b: Buf, p: Double): Double = {
    if (b.n == 0) return Double.NaN
    val vs = java.util.Arrays.copyOf(b.values, b.n)
    java.util.Arrays.sort(vs)
    val rank = math.min(b.n - 1, math.max(0, math.ceil(p * b.n).toInt - 1))
    vs(rank)
  }

  /** Serialized form: 1 mode byte, then n × 16-byte little-endian
    * (hash long, value double) pairs, hash-ascending. */
  def serialize(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + b.n * 16).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(b.mode)
    var i = 0
    while (i < b.n) { bb.putLong(b.hashes(i)); bb.putDouble(b.values(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    require(bytes.length >= 1 && (bytes.length - 1) % 16 == 0 &&
      (bytes.length - 1) / 16 <= K,
      s"q_sketch must be 1 mode byte + n×16 with n ≤ $K, got ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val mode = bb.get()
    val n = (bytes.length - 1) / 16
    val b = new Buf(new Array[Long](K), new Array[Double](K), 0, mode)
    var i = 0
    while (i < n) { b.hashes(i) = bb.getLong(); b.values(i) = bb.getDouble(); i += 1 }
    b.n = n
    b
  }
}

/** rows → sketch. `child` is the measured value (double); `keyChild` is
  * a row-identity column (e.g. event_id) hashed into the sample draw, so
  * repeated values sample at row granularity, not value granularity.
  * `replicable = true` swaps xxhash64 for the md5-derived 60-bit hash
  * ([[ReplicableHash.h60]]) so the ENTIRE sketch — sample membership,
  * merge results, quantiles — is reproducible by the DuckDB oracle;
  * int/string keys only in that mode. */
case class QSketchAgg(child: Expression, keyChild: Expression,
                      replicable: Boolean = false,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QSketch.Buf] {

  override def children: Seq[Expression] = Seq(child, keyChild)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = if (replicable) "q_sketch_r" else "q_sketch"

  override def createAggregationBuffer(): QSketch.Buf =
    QSketch.empty(if (replicable) QSketch.ModeMd5 else QSketch.ModeXx)

  override def update(buf: QSketch.Buf, input: InternalRow): QSketch.Buf = {
    val v = child.eval(input)
    val k = keyChild.eval(input)
    if (v != null && k != null) {
      val h =
        if (replicable) ReplicableHash.h60(ReplicableHash.keyString(k))
        else XxHash64Function.hash(k, keyChild.dataType, 7L)
      QSketch.insert(buf, h, QSketch.asDouble(v))
    }
    buf
  }

  override def merge(buf: QSketch.Buf, other: QSketch.Buf): QSketch.Buf =
    QSketch.merge(buf, other)

  override def eval(buf: QSketch.Buf): Any = QSketch.serialize(buf)
  override def serialize(buf: QSketch.Buf): Array[Byte] = QSketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): QSketch.Buf = QSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): QSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): QSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0), keyChild = c(1))
}

/** The KMV quantile sketch as a [[SketchMergeAgg]] family
  * (`q_sketch_merge`). */
object QSketchFamily extends SketchFamily[QSketch.Buf]("q_sketch_merge") {
  def empty(): QSketch.Buf = QSketch.empty()
  def merge(into: QSketch.Buf, other: QSketch.Buf): QSketch.Buf = QSketch.merge(into, other)
  def toBytes(b: QSketch.Buf): Array[Byte] = QSketch.serialize(b)
  def fromBytes(bytes: Array[Byte]): QSketch.Buf = QSketch.deserialize(bytes)
}

/** (sketch, p) → estimated p-quantile of the sketched distribution. */
case class QSketchQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "q_sketch_quantile"
  override protected def nullSafeEval(sk: Any, p: Any): Any =
    QSketch.quantile(QSketch.deserialize(sk.asInstanceOf[Array[Byte]]),
      QSketch.asDouble(p))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object QSketchFunctions {
  def q_sketch(value: Column, rowKey: Column): Column =
    GraftColumnBridge.toColumn(
      QSketchAgg(GraftColumnBridge.toExpr(value),
        GraftColumnBridge.toExpr(rowKey)).toAggregateExpression())
  /** Oracle-replicable variant (md5 sample hash — see [[ReplicableHash]]). */
  def q_sketch_r(value: Column, rowKey: Column): Column =
    GraftColumnBridge.toColumn(
      QSketchAgg(GraftColumnBridge.toExpr(value),
        GraftColumnBridge.toExpr(rowKey), replicable = true).toAggregateExpression())
  def q_sketch_merge(c: Column): Column =
    GraftColumnBridge.toColumn(
      SketchMergeAgg(GraftColumnBridge.toExpr(c), QSketchFamily).toAggregateExpression())
  def q_sketch_quantile(sk: Column, p: Column): Column =
    GraftColumnBridge.toColumn(
      QSketchQuantile(GraftColumnBridge.toExpr(sk), GraftColumnBridge.toExpr(p)))
}
