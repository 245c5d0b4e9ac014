package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Mergeable theta sketch column — SET ALGEBRA over distinct-count
  * sketches, the one capability the [[Hll]] trio lacks. HLL registers
  * merge under UNION only; "users who did A AND B" or "A but not B"
  * across segments needs the KMV/theta construction (Dasgupta et al.,
  * the DataSketches theta sketch): keep the K smallest distinct
  * 63-bit hashes; the k-th smallest (θ) is a uniform sampling
  * threshold, every retained hash is a coin that landed below θ, and
  * any set expression over sketches reduces to counting retained
  * hashes below the combined θ — union, intersection and difference
  * all estimate from the same ~2 kB state.
  *
  *  - [[ThetaSketchAgg]] (`theta_sketch(col)`): values → sketch
  *  - [[SketchMergeAgg]] over [[ThetaFamily]] (`theta_merge(sk)`):
  *    sketches → union sketch
  *  - [[ThetaEstimate]]  (`theta_estimate(sk)`): sketch → distinct est
  *  - [[ThetaSetEstimate]] (`theta_intersect_est` / `theta_anotb_est`):
  *    two sketches → intersection / difference estimate
  *
  * "K smallest of a union" is a semilattice (like [[QSketch]]), so
  * merge order and partitioning cannot change the final sketch, and
  * with the md5 replicable hash every retained hash — and therefore
  * every estimate — is bit-reproducible by the DuckDB oracle. All
  * estimator arithmetic is exact integer math (BigInt / HUGEINT):
  * est = ⌊(K−1)·2⁶³ / θ⌋ when full, the exact retained count when not
  * (a not-full sketch IS the distinct set).
  *
  * Serialized form: 1 hash-mode byte, 4-byte little-endian count, then
  * n × 8-byte little-endian hashes ascending.
  */
object Theta {
  val K = 256 // rsd ≈ 1/√(K−2) ≈ 6.3%, 2 kB sketch

  /** 63-bit hash space size: hashes are h64 >>> 1 ∈ [0, 2⁶³). */
  val Space: BigInt = BigInt(1) << 63

  val ModeUnset: Byte = 0
  val ModeXx: Byte = 1
  val ModeMd5: Byte = 2

  /** Sorted-ascending distinct hashes, capped at K. */
  final class Buf(var hashes: Array[Long], var n: Int,
                  var mode: Byte = ModeUnset)

  def empty(mode: Byte = ModeUnset): Buf = new Buf(new Array[Long](K), 0, mode)

  /** Insert h if it beats (or fits under) the current k-th smallest. */
  def insert(b: Buf, h: Long): Unit = {
    if (b.n >= K && h >= b.hashes(b.n - 1)) return
    var lo = 0; var hi = b.n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b.hashes(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < b.n && b.hashes(lo) == h) return // already retained
    val newN = math.min(b.n + 1, K)
    System.arraycopy(b.hashes, lo, b.hashes, lo + 1, math.min(b.n, K - 1) - lo)
    b.hashes(lo) = h
    b.n = newN
  }

  def merge(a: Buf, b: Buf): Buf = {
    if (b.mode != ModeUnset) {
      if (a.mode == ModeUnset) a.mode = b.mode
      else require(a.mode == b.mode,
        s"cannot merge theta sketches with different hash modes (${a.mode} vs ${b.mode})")
    }
    var i = 0
    while (i < b.n) { insert(a, b.hashes(i)); i += 1 }
    a
  }

  /** Effective threshold: θ = k-th smallest when full, else the whole
    * hash space (every distinct value is retained). */
  def thetaEff(b: Buf): BigInt =
    if (b.n >= K) BigInt(b.hashes(b.n - 1)) else Space

  /** Distinct estimate: exact count when not full, ⌊(K−1)·S/θ⌋ when
    * full (the K-th hash IS θ — it marks the threshold, the K−1 below
    * it are the Bernoulli successes). */
  def estimate(b: Buf): Long =
    if (b.n < K) b.n.toLong
    else ((BigInt(K - 1) * Space) / thetaEff(b)).toLong

  /** Count of retained hashes of `a` strictly below `thetaU` that
    * `pred` accepts, scaled to a distinct estimate. Both inputs'
    * retained sets are COMPLETE below min(θ_a, θ_b), which makes the
    * scaled count unbiased for any set expression evaluated there. */
  private def scaledCount(c: Long, thetaU: BigInt): Long =
    if (thetaU == Space) c else ((BigInt(c) * Space) / thetaU).toLong

  def intersectEstimate(a: Buf, b: Buf): Long = {
    checkModes(a, b)
    val thetaU = thetaEff(a) min thetaEff(b)
    var c = 0L; var i = 0
    while (i < a.n && BigInt(a.hashes(i)) < thetaU) {
      if (contains(b, a.hashes(i))) c += 1
      i += 1
    }
    scaledCount(c, thetaU)
  }

  def aNotBEstimate(a: Buf, b: Buf): Long = {
    checkModes(a, b)
    val thetaU = thetaEff(a) min thetaEff(b)
    var c = 0L; var i = 0
    while (i < a.n && BigInt(a.hashes(i)) < thetaU) {
      if (!contains(b, a.hashes(i))) c += 1
      i += 1
    }
    scaledCount(c, thetaU)
  }

  def unionEstimate(a: Buf, b: Buf): Long = {
    val m = empty()
    merge(m, a); merge(m, b)
    estimate(m)
  }

  private def checkModes(a: Buf, b: Buf): Unit =
    require(a.mode == ModeUnset || b.mode == ModeUnset || a.mode == b.mode,
      s"cannot combine theta sketches with different hash modes (${a.mode} vs ${b.mode})")

  private def contains(b: Buf, h: Long): Boolean =
    java.util.Arrays.binarySearch(b.hashes, 0, b.n, h) >= 0

  def serialize(b: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(5 + 8 * b.n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(b.mode)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putLong(b.hashes(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    // hostile-input safe: validate BEFORE any buffer read (a 1-4 byte
    // array would otherwise throw BufferUnderflow instead of a
    // diagnosable require)
    require(bytes.length >= 5,
      s"theta sketch: ${bytes.length} bytes, need ≥ 5 (mode + count)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val mode = bb.get()
    require(mode == ModeUnset || mode == ModeXx || mode == ModeMd5,
      s"theta sketch: unknown hash mode $mode")
    val n = bb.getInt()
    require(n >= 0 && n <= K && bytes.length == 5 + 8 * n,
      s"theta sketch: bad length ${bytes.length} for n=$n")
    val b = new Buf(new Array[Long](K), n, mode)
    var i = 0
    while (i < n) { b.hashes(i) = bb.getLong(); i += 1 }
    b
  }

  /** 63-bit draw: the engine hash (or the md5 replicable pattern)
    * shifted into non-negative range — matches DuckDB's
    * `(('0x' || substr(md5(key), 1, 16))::UBIGINT >> 1)::BIGINT`. */
  def draw(v: Any, dt: DataType, replicable: Boolean): Long = {
    val h =
      if (replicable) ReplicableHash.h64(ReplicableHash.keyString(v))
      else XxHash64Function.hash(v, dt, 42L)
    h >>> 1
  }
}

/** `replicable = true` draws hashes from the md5 pattern
  * ([[ReplicableHash.h64]]) so sketch contents and all estimates are
  * bit-reproducible by the DuckDB oracle; int/string inputs only. */
case class ThetaSketchAgg(child: Expression,
                          replicable: Boolean = false,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Theta.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String =
    if (replicable) "theta_sketch_r" else "theta_sketch"

  override def createAggregationBuffer(): Theta.Buf =
    Theta.empty(if (replicable) Theta.ModeMd5 else Theta.ModeXx)

  override def update(buf: Theta.Buf, input: InternalRow): Theta.Buf = {
    val v = child.eval(input)
    if (v != null) Theta.insert(buf, Theta.draw(v, child.dataType, replicable))
    buf
  }

  override def merge(buf: Theta.Buf, other: Theta.Buf): Theta.Buf =
    Theta.merge(buf, other)

  override def eval(buf: Theta.Buf): Any = Theta.serialize(buf)
  override def serialize(buf: Theta.Buf): Array[Byte] = Theta.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Theta.Buf =
    Theta.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Theta as a [[SketchMergeAgg]] family (`theta_merge`, the union). */
object ThetaFamily extends SketchFamily[Theta.Buf]("theta_merge") {
  def empty(): Theta.Buf = Theta.empty()
  def merge(into: Theta.Buf, other: Theta.Buf): Theta.Buf = Theta.merge(into, other)
  def toBytes(b: Theta.Buf): Array[Byte] = Theta.serialize(b)
  def fromBytes(bytes: Array[Byte]): Theta.Buf = Theta.deserialize(bytes)
}

/** Sketch bytes → distinct estimate. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_estimate"
  override def nullSafeEval(v: Any): Any =
    Theta.estimate(Theta.deserialize(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Two sketches → a set-expression estimate. `op`: 0 = union,
  * 1 = intersection, 2 = A-not-B. */
case class ThetaSetEstimate(left: Expression, right: Expression, op: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = op match {
    case 0 => "theta_union_est"
    case 1 => "theta_intersect_est"
    case _ => "theta_anotb_est"
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = Theta.deserialize(l.asInstanceOf[Array[Byte]])
    val b = Theta.deserialize(r.asInstanceOf[Array[Byte]])
    op match {
      case 0 => Theta.unionEstimate(a, b)
      case 1 => Theta.intersectEstimate(a, b)
      case _ => Theta.aNotBEstimate(a, b)
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ThetaFunctions {
  def theta_sketch(c: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaSketchAgg(GraftColumnBridge.toExpr(c)).toAggregateExpression())
  /** Oracle-replicable variant (md5 draw — see [[ReplicableHash]]). */
  def theta_sketch_r(c: Column): Column =
    GraftColumnBridge.toColumn(
      ThetaSketchAgg(GraftColumnBridge.toExpr(c), replicable = true)
        .toAggregateExpression())
  def theta_merge(c: Column): Column =
    GraftColumnBridge.toColumn(
      SketchMergeAgg(GraftColumnBridge.toExpr(c), ThetaFamily).toAggregateExpression())
  def theta_estimate(c: Column): Column =
    GraftColumnBridge.toColumn(ThetaEstimate(GraftColumnBridge.toExpr(c)))
  def theta_union_est(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(ThetaSetEstimate(
      GraftColumnBridge.toExpr(a), GraftColumnBridge.toExpr(b), 0))
  def theta_intersect_est(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(ThetaSetEstimate(
      GraftColumnBridge.toExpr(a), GraftColumnBridge.toExpr(b), 1))
  def theta_anotb_est(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(ThetaSetEstimate(
      GraftColumnBridge.toExpr(a), GraftColumnBridge.toExpr(b), 2))
}
