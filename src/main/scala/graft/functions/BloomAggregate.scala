package graft.functions

import org.apache.spark.sql.Column

/** A bloom-filter bitset over a long key column — the BUILD side of
  * graft's runtime-filter pattern (graft.operators.BloomJoin).
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
case class BloomBits(numBits: Int, numHashes: Int) extends LongVectorDeclaration {

  require(numBits > 0, "numBits must be positive")
  require(numHashes > 0, "numHashes must be positive")

  protected def length: Int = (numBits + 63) / 64
  def name: String = "bloom_bits"

  def update(buf: Array[Long], in: Any): Unit =
    GraftHash.bloomSet(buf, in.asInstanceOf[Long], numHashes)

  override def merge(buf: Array[Long], other: Array[Long]): Unit =
    buf.indices.foreach(i => buf(i) |= other(i))
}

object BloomAggregate {
  /** Column API: the bloom bitset (array<long>) of a long key column. */
  def bloom_bits(key: Column, numBits: Int, numHashes: Int): Column =
    BloomBits(numBits, numHashes).of(key.cast("long"))
}
