package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One graft aggregate: its name, result type and buffer algorithm over a
  * mutable buffer `B`. A declaration is a case class whose fields are the
  * aggregate's constants; [[GraftAggregate]] runs it inside Catalyst.
  *
  * `update` sees a row only when none of its columns is NULL: the value
  * itself for one column, an `Array[Any]` of the values for several.
  * `write` and `read` are the buffer's codec, used both for the map-side
  * partials that cross the shuffle and for the streaming state store. */
trait AggregateDeclaration[B] extends Product with Serializable {
  def name: String
  def dataType: DataType
  def zero(): B
  def update(buf: B, in: Any): Unit
  def merge(buf: B, other: B): Unit
  def eval(buf: B): Any
  def write(buf: B, out: DataOutputStream): Unit
  def read(in: DataInputStream): B

  /** The aggregate over `columns`. */
  def of(columns: Column*): Column = Bridge.column(
    GraftAggregate(this, columns.map(Bridge.expression)).toAggregateExpression())
}

/** The Catalyst plumbing every [[AggregateDeclaration]] shares: buffer
  * offsets, copies, the NULL rule and the byte streams around the codec.
  * Plans read `name(columns, constants, offsets)`. */
case class GraftAggregate[B](
    declaration: AggregateDeclaration[B],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  private val inputs = children.toArray

  override def prettyName: String = declaration.name
  override def dataType: DataType = declaration.dataType
  override def nullable: Boolean = false
  override protected def stringArgs: Iterator[Any] = Iterator(children) ++
    declaration.productIterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = declaration.zero()

  override def update(buf: B, input: InternalRow): B = {
    val in =
      if (inputs.length == 1) inputs(0).eval(input)
      else {
        val values = inputs.map(_.eval(input))
        if (values.contains(null)) null else values
      }
    if (in != null) declaration.update(buf, in)
    buf
  }

  override def merge(buf: B, other: B): B = { declaration.merge(buf, other); buf }

  override def eval(buf: B): Any = declaration.eval(buf)

  override def serialize(buf: B): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    declaration.write(buf, out)
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): B =
    declaration.read(new DataInputStream(new ByteArrayInputStream(bytes)))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GraftAggregate[B] =
    copy(children = c)
  override def withNewMutableAggBufferOffset(offset: Int): GraftAggregate[B] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GraftAggregate[B] =
    copy(inputAggBufferOffset = offset)
}

/** A declaration whose buffer is `length` longs that partials add up
  * element-wise. */
abstract class LongVectorDeclaration extends AggregateDeclaration[Array[Long]] {
  protected def length: Int
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def zero(): Array[Long] = new Array[Long](length)
  def merge(buf: Array[Long], other: Array[Long]): Unit =
    buf.indices.foreach(i => buf(i) += other(i))
  def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())
  def write(buf: Array[Long], out: DataOutputStream): Unit = buf.foreach(out.writeLong)
  def read(in: DataInputStream): Array[Long] = Array.fill(length)(in.readLong())
}
