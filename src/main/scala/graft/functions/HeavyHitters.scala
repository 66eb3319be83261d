package graft.functions

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Space-Saving heavy hitters (Metwally et al. 2005): the frequent-items
  * question ("which domains / templates / users dominate this corpus?")
  * answered in ONE pass with a bounded `capacity`-entry buffer per
  * partition — no groupBy of the full key space, no second scan.
  *
  * Guarantees (any merge order): every item with true frequency
  * > n/capacity is present in the summary, and every reported count
  * overestimates the true count by at most its recorded `err`
  * (err ≤ n/capacity). When `capacity` ≥ the number of distinct items
  * no eviction ever fires and the counts are EXACT and
  * order-independent — the regime q62's DuckDB oracle verifies; the
  * approximation regime is spec-tested on skewed data instead (its
  * output depends on merge order, so it is deliberately not an oracle
  * query).
  *
  * Buffer memory grows with observed distinct items per partition, not
  * with `capacity` — a generous capacity costs nothing on low-cardinality
  * inputs.
  *
  * Output: array<struct<item,cnt,err>> sorted (cnt desc, item asc),
  * truncated to `k`.
  */
case class SpaceSavingTopK(k: Int, capacity: Int)
    extends AggregateDeclaration[mutable.HashMap[Long, (Long, Long)]] {

  require(k > 0 && capacity >= k, "need capacity >= k > 0")

  def name: String = "space_saving_topk"
  def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", LongType), StructField("cnt", LongType),
      StructField("err", LongType))),
    containsNull = false)

  def zero(): mutable.HashMap[Long, (Long, Long)] = mutable.HashMap.empty

  def update(m: mutable.HashMap[Long, (Long, Long)], in: Any): Unit = {
    val item = in.asInstanceOf[Long]
    m.get(item) match {
      case Some((c, e)) => m.update(item, (c + 1, e))
      case None if m.size < capacity => m.update(item, (1L, 0L))
      case None =>
        // evict the (count, item)-min entry; its count seeds the error
        val (minItem, (minC, _)) = m.minBy { case (i, (c, _)) => (c, i) }
        m.remove(minItem)
        m.update(item, (minC + 1, minC))
    }
  }

  /** The count a summary can have held for an item it lacks: none when it
    * never filled, else up to its minimum (it may have evicted the item). */
  private def floor(m: mutable.HashMap[Long, (Long, Long)]): Long =
    if (m.size < capacity) 0L else m.valuesIterator.map(_._1).min

  /** The mergeable-summaries rule (Agarwal et al., PODS 2012): an item
    * one side lacks is credited that side's floor, in both its count and
    * its error, so true ∈ [cnt − err, cnt] survives the merge. */
  def merge(m: mutable.HashMap[Long, (Long, Long)],
            other: mutable.HashMap[Long, (Long, Long)]): Unit = {
    val (mFloor, otherFloor) = (floor(m), floor(other))
    m.mapValuesInPlace { case (i, (c, e)) =>
      if (other.contains(i)) (c, e) else (c + otherFloor, e + otherFloor)
    }
    other.foreach { case (i, (c, e)) =>
      val (c0, e0) = m.getOrElse(i, (mFloor, mFloor))
      m.update(i, (c0 + c, e0 + e))
    }
    if (m.size > capacity) {
      // keep the top `capacity` by (count desc, item asc)
      val keep = m.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(capacity)
      m.clear()
      m ++= keep
    }
  }

  def eval(m: mutable.HashMap[Long, (Long, Long)]): Any = {
    val top = m.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(k)
    new GenericArrayData(top.map[Any] { case (i, (c, e)) => InternalRow(i, c, e) })
  }

  def write(m: mutable.HashMap[Long, (Long, Long)], out: DataOutputStream): Unit = {
    out.writeInt(m.size)
    m.foreach { case (i, (c, e)) => out.writeLong(i); out.writeLong(c); out.writeLong(e) }
  }

  def read(in: DataInputStream): mutable.HashMap[Long, (Long, Long)] =
    mutable.HashMap.from(Iterator.fill(in.readInt())((in.readLong(), (in.readLong(), in.readLong()))))
}

object HeavyHitters {
  /** Column API: top-k frequent items of a long column with a
    * `capacity`-bounded Space-Saving summary. */
  def heavy_hitters(item: Column, k: Int, capacity: Int): Column =
    SpaceSavingTopK(k, capacity).of(item.cast("long"))
}
