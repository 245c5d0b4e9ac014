package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Mergeable HyperLogLog sketch column (SURVEY §7.4's "sketch column
  * reuse" — the one custom aggregate the 100 TB design justifies).
  *
  * Spark's `approx_count_distinct` computes an estimate but discards its
  * HLL state. These operators keep the sketch as a first-class BINARY
  * column, so a metrics pipeline can store one ~2 kB sketch per
  * (window, key) row and later answer "distinct users across ANY
  * window/key combination" by merging sketches — no second pass over
  * raw events, which at 100 TB is the difference between a metadata
  * query and a full-table scan:
  *
  *  - [[HllSketchAgg]]  (`hll_sketch(col)`):   values → sketch bytes
  *  - [[SketchMergeAgg]] over [[HllFamily]] (`hll_merge(sketch)`):
  *    sketches → merged sketch
  *  - [[HllEstimate]]   (`hll_estimate(sketch)`): sketch → distinct count
  *
  * Standard HLL (Flajolet et al.): 2^p byte registers over xxhash64,
  * harmonic-mean estimate with linear-counting small-range correction.
  * Register updates commute, so partial aggregation and shuffle-merge
  * order never change the result.
  */
object Hll {
  val P = 11 // 2048 registers ≈ 2 kB, rsd ≈ 1.04/sqrt(2048) ≈ 2.3%
  val M: Int = 1 << P
  val Len: Int = M + 1 // 1 hash-mode byte + registers
  private val alpha = 0.7213 / (1.0 + 1.079 / M)

  /** Serialized form: byte 0 tags the hash the registers were built
    * with (0 = empty/unset merge buffer, 1 = xxhash64, 2 = md5). Two
    * sketches hashed differently cover DIFFERENT random bucket/rank
    * draws of the same set — their register-wise max is meaningless,
    * and without the tag that corruption is silent. Merge adopts the
    * mode from the first non-empty side and rejects a mismatch. */
  val ModeUnset: Byte = 0
  val ModeXx: Byte = 1
  val ModeMd5: Byte = 2

  def emptySketch(mode: Byte = ModeUnset): Array[Byte] = {
    val a = new Array[Byte](Len)
    a(0) = mode
    a
  }

  def checkLen(buf: Array[Byte]): Unit =
    require(buf.length == Len,
      s"hll sketch must be exactly $Len bytes (1 mode + $M registers), got ${buf.length}")

  def update(regs: Array[Byte], hash: Long): Unit = {
    val idx = (hash >>> (64 - P)).toInt
    val rest = hash << P
    // rank = leading zeros of the remaining bits + 1, capped
    val rank = (if (rest == 0) 64 - P else java.lang.Long.numberOfLeadingZeros(rest)) + 1
    if (rank > regs(idx + 1)) regs(idx + 1) = rank.toByte
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    checkLen(a); checkLen(b)
    if (b(0) != ModeUnset) {
      if (a(0) == ModeUnset) a(0) = b(0)
      else require(a(0) == b(0),
        s"cannot merge hll sketches with different hash modes (${a(0)} vs ${b(0)})")
    }
    var i = 1
    while (i < Len) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  def estimate(regs: Array[Byte]): Long = {
    checkLen(regs)
    var sum = 0.0
    var zeros = 0
    var i = 1
    while (i < Len) {
      sum += 1.0 / (1L << regs(i)).toDouble
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * M.toDouble * M.toDouble / sum
    val corrected =
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
      else e
    math.round(corrected)
  }
}

/** `replicable = true` hashes with the md5-derived 64-bit pattern
  * ([[ReplicableHash.h64]]) instead of xxhash64, making register
  * contents — and therefore the estimate — bit-reproducible by the
  * DuckDB oracle; int/string inputs only in that mode. */
case class HllSketchAgg(child: Expression,
                        replicable: Boolean = false,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = if (replicable) "hll_sketch_r" else "hll_sketch"

  override def createAggregationBuffer(): Array[Byte] =
    Hll.emptySketch(if (replicable) Hll.ModeMd5 else Hll.ModeXx)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h =
        if (replicable) ReplicableHash.h64(ReplicableHash.keyString(v))
        else XxHash64Function.hash(v, child.dataType, 42L)
      Hll.update(buf, h)
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    Hll.merge(buf, other)

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(offset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** HLL as a [[SketchMergeAgg]] family: the register bytes are the buffer. */
object HllFamily extends SketchFamily[Array[Byte]]("hll_merge") {
  def empty(): Array[Byte] = Hll.emptySketch()
  def merge(into: Array[Byte], other: Array[Byte]): Array[Byte] = Hll.merge(into, other)
  def toBytes(b: Array[Byte]): Array[Byte] = b
  def fromBytes(bytes: Array[Byte]): Array[Byte] = bytes
}

/** Sketch bytes → estimated distinct count. */
case class HllEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_estimate"
  override def nullSafeEval(v: Any): Any =
    Hll.estimate(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HllFunctions {
  def hll_sketch(c: Column): Column =
    GraftColumnBridge.toColumn(
      HllSketchAgg(GraftColumnBridge.toExpr(c)).toAggregateExpression())
  /** Oracle-replicable variant (md5 register hash — see [[ReplicableHash]]). */
  def hll_sketch_r(c: Column): Column =
    GraftColumnBridge.toColumn(
      HllSketchAgg(GraftColumnBridge.toExpr(c), replicable = true)
        .toAggregateExpression())
  def hll_merge(c: Column): Column =
    GraftColumnBridge.toColumn(
      SketchMergeAgg(GraftColumnBridge.toExpr(c), HllFamily).toAggregateExpression())
  def hll_estimate(c: Column): Column =
    GraftColumnBridge.toColumn(HllEstimate(GraftColumnBridge.toExpr(c)))
}
