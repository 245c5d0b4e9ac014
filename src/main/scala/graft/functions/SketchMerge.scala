package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

/** What [[SketchMergeAgg]] needs from one mergeable sketch family: its
  * merge identity, its in-place merge (returns `into`) and its stored
  * byte form. `mergeName` is the family's SQL merge function. */
abstract class SketchFamily[B](val mergeName: String) extends Serializable {
  def empty(): B
  def merge(into: B, other: B): B
  def toBytes(b: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** Sketch bytes → merged sketch bytes, for any [[SketchFamily]]
  * (`hll_merge`, `cm_merge`, `q_sketch_merge`, `theta_merge`). Every
  * family's merge is associative and commutative, so partial
  * aggregation and shuffle order never change the result. Null sketches
  * are skipped; an all-null group yields the family's empty sketch. */
case class SketchMergeAgg[B](child: Expression,
                             family: SketchFamily[B],
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = family.mergeName
  // the family is already in the name: plans print `hll_merge(sk, 0, 0)`
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = family.empty()

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf
    else family.merge(buf, family.fromBytes(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buf: B, other: B): B = family.merge(buf, other)

  override def eval(buf: B): Any = family.toBytes(buf)
  override def serialize(buf: B): Array[Byte] = family.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = family.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): SketchMergeAgg[B] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchMergeAgg[B] =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}
