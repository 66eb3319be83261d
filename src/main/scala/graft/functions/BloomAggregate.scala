package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Build a bloom-filter bitset over a long key column as a native
  * aggregate — the BUILD side of graft's runtime-filter pattern
  * (graft.operators.BloomJoin).
  *
  * Buffer = one long[words] bitset per partition; update sets the key's
  * double-hashed bits (GraftHash.bloomSet — identical arithmetic to the
  * bloom_contains probe), merge ORs word-wise. OR is commutative and
  * associative, so the result is partitioning-independent: the same bits
  * on any cluster. The map-side partials mean the shuffle carries one
  * bitset per partition — O(partitions · m/8) bytes — never the keys.
  *
  * Output: array<long> of exactly `numBits/64` (rounded up) words,
  * collectable to the driver as model-scale metadata and re-broadcast to
  * the probe side as a literal.
  */
case class BloomBits(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits > 0, "numBits must be positive")
  require(numHashes > 0, "numHashes must be positive")

  private val words = (numBits + 63) / 64

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) GraftHash.bloomSet(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(words * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](words)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomBits =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(offset: Int): BloomBits =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomBits =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "bloom_bits"
}

object BloomAggregate {
  /** Column API: the bloom bitset (array<long>) of a long key column. */
  def bloom_bits(key: Column, numBits: Int, numHashes: Int): Column =
    Bridge.column(
      BloomBits(Bridge.expression(key.cast("long")), numBits, numHashes)
        .toAggregateExpression())
}
