package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Mergeable Count-Min frequency sketch — the third member of the
  * sketch-column family ([[Hll]] answers "how many distinct",
  * [[QSketch]] "what quantile", this one "how often does item X
  * occur"), completing the metadata-query story: one ~32 kB sketch per
  * (window, key) row answers point-frequency and heavy-hitter queries
  * over any window combination by merging sketches, never rescanning
  * the corpus.
  *
  * Cormode–Muthukrishnan CM sketch: d=4 rows × w=1024 counters of
  * 64-bit counts; row i hashes with seed i, estimate = min over rows
  * (always an over-estimate; error ≤ e·N/w with prob 1−e^−d). Counter
  * addition commutes, so partial aggregation and merge order never
  * change the result.
  */
object CMS {
  val D = 4
  val W = 1024
  val Len: Int = D * W * 8

  def empty(): Array[Byte] = new Array[Byte](Len)

  private def get(buf: Array[Byte], row: Int, col: Int): Long = {
    var v = 0L
    val off = (row * W + col) * 8
    var i = 0
    while (i < 8) { v = (v << 8) | (buf(off + i) & 0xffL); i += 1 }
    v
  }

  private def put(buf: Array[Byte], row: Int, col: Int, v: Long): Unit = {
    val off = (row * W + col) * 8
    var i = 0
    while (i < 8) { buf(off + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
  }

  def add(buf: Array[Byte], hashes: Array[Long], n: Long = 1L): Unit = {
    var r = 0
    while (r < D) {
      val c = ((hashes(r) % W + W) % W).toInt
      put(buf, r, c, get(buf, r, c) + n)
      r += 1
    }
  }

  /** A sketch column is just `binary` — any malformed blob can reach
    * merge/estimate, and without this check it dies deep in the agg as
    * an ArrayIndexOutOfBoundsException. */
  def checkLen(buf: Array[Byte]): Unit =
    require(buf.length == Len,
      s"cm sketch must be exactly $Len bytes (d=$D×w=$W×8), got ${buf.length}")

  def estimate(buf: Array[Byte], hashes: Array[Long]): Long = {
    checkLen(buf)
    var mn = Long.MaxValue
    var r = 0
    while (r < D) {
      val c = ((hashes(r) % W + W) % W).toInt
      val v = get(buf, r, c)
      if (v < mn) mn = v
      r += 1
    }
    mn
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    checkLen(b)
    var r = 0
    while (r < D) {
      var c = 0
      while (c < W) { put(a, r, c, get(a, r, c) + get(b, r, c)); c += 1 }
      r += 1
    }
    a
  }

  def rowHashes(v: Any, dt: DataType): Array[Long] =
    Array.tabulate(D)(r => XxHash64Function.hash(v, dt, 1000003L * (r + 1)))

  /** Inner-product estimate min_r Σ_w a[r][w]·b[r][w] — the CM
    * join-size estimate (Cormode–Muthukrishnan §4.2): for the
    * key-frequency sketches of two relations this estimates |A ⋈ B|.
    * Deterministically ≥ the true size (collisions only add); the
    * overcount is the collision mass, ≈ ‖a‖₁·‖b‖₁/W per row before
    * the min. */
  def innerProduct(a: Array[Byte], b: Array[Byte]): Long = {
    checkLen(a); checkLen(b)
    var mn = Long.MaxValue
    var r = 0
    while (r < D) {
      var s = 0L
      var c = 0
      while (c < W) { s += get(a, r, c) * get(b, r, c); c += 1 }
      if (s < mn) mn = s
      r += 1
    }
    mn
  }
}

/** `cm_sketch(col)`: values → CM sketch bytes. */
case class CmSketchAgg(child: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "cm_sketch"
  override def createAggregationBuffer(): Array[Byte] = CMS.empty()
  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) CMS.add(buf, CMS.rowHashes(v, child.dataType))
    buf
  }
  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    CMS.merge(buf, other)
  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def withNewMutableAggBufferOffset(offset: Int): CmSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Count-Min as a [[SketchMergeAgg]] family (`cm_merge`): the counter
  * bytes are the buffer. */
object CmsFamily extends SketchFamily[Array[Byte]]("cm_merge") {
  def empty(): Array[Byte] = CMS.empty()
  def merge(into: Array[Byte], other: Array[Byte]): Array[Byte] = CMS.merge(into, other)
  def toBytes(b: Array[Byte]): Array[Byte] = b
  def fromBytes(bytes: Array[Byte]): Array[Byte] = bytes
}

/** `cm_estimate(sketch, item)`: point-frequency estimate (≥ true). */
case class CmEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_estimate"
  override def nullSafeEval(sk: Any, item: Any): Any =
    CMS.estimate(sk.asInstanceOf[Array[Byte]],
      CMS.rowHashes(item, right.dataType))
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `cm_inner(sk_a, sk_b)`: join-size / inner-product estimate (≥ true). */
case class CmInnerProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "cm_inner"
  override def nullSafeEval(a: Any, b: Any): Any =
    CMS.innerProduct(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object CmsFunctions {
  def cm_sketch(c: Column): Column =
    GraftColumnBridge.toColumn(
      CmSketchAgg(GraftColumnBridge.toExpr(c)).toAggregateExpression())
  def cm_merge(c: Column): Column =
    GraftColumnBridge.toColumn(
      SketchMergeAgg(GraftColumnBridge.toExpr(c), CmsFamily).toAggregateExpression())
  def cm_estimate(sketch: Column, item: Column): Column =
    GraftColumnBridge.toColumn(CmEstimate(
      GraftColumnBridge.toExpr(sketch), GraftColumnBridge.toExpr(item)))
  def cm_inner(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(CmInnerProduct(
      GraftColumnBridge.toExpr(a), GraftColumnBridge.toExpr(b)))
}
