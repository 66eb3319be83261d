package graft.functions

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable quantile sketch (KLL/MRL-style) — the 100 TB alternative
  * to exact percentiles when the value histogram is NOT
  * value-range-bounded: exact percentile needs all distinct values in one
  * place; this sketch keeps ≤ k values per weight level, so the shuffle
  * carries O(k·log(n/k)) longs per group no matter how many rows flow
  * in, and partial buffers merge associatively map-side (the same
  * property that makes it work as a streaming state).
  *
  * Level i holds values of weight 2^i. A level that exceeds k compacts:
  * sort, keep every second element (alternating start parity per
  * compaction — deterministic for a fixed merge order), promote to
  * level i+1. Rank error is the textbook O(n/k · log(n/k)) worst case;
  * the spec asserts an empirical ≤3 % rank error at k = 256 against
  * exact percentiles. Like Spark's own approx_percentile, results are
  * deterministic for a fixed partitioning but NOT bit-stable across
  * different merge orders — so it is spec-verified for error bounds,
  * not oracle-hashed.
  *
  * Input: long (quantize doubles first — Deterministic.cents etc.);
  * output: array<long>, one estimate per requested quantile.
  */
case class QuantileSketch(probabilities: Seq[Double], k: Int = 256)
    extends AggregateDeclaration[QuantileSketch.Buf] {

  require(k >= 8, "sketch capacity k must be at least 8")
  require(probabilities.nonEmpty && probabilities.forall(p => p >= 0 && p <= 1),
    "probabilities must be in [0, 1]")

  import QuantileSketch.Buf

  def name: String = "quantile_sketch"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def zero(): Buf = new Buf(k)
  def update(buf: Buf, in: Any): Unit = buf.add(in.asInstanceOf[Long])
  def merge(buf: Buf, other: Buf): Unit = buf.mergeIn(other)
  def eval(buf: Buf): Any = new GenericArrayData(probabilities.map(buf.quantile).toArray)
  def write(buf: Buf, out: DataOutputStream): Unit = buf.write(out)
  def read(in: DataInputStream): Buf = Buf.read(in, k)
}

object QuantileSketch {

  /** Level-structured sample buffer: levels(i) holds values of weight
    * 2^i, each bounded by capacity k. */
  final class Buf(val k: Int) {
    private[QuantileSketch] val levels = ArrayBuffer(ArrayBuffer.empty[Long])
    private[QuantileSketch] var parity = 0 // alternates compaction start index
    private[QuantileSketch] var count = 0L // total input weight (exact)

    def add(v: Long): Unit = {
      levels(0) += v
      count += 1L
      compactFrom(0)
    }

    private def compactFrom(start: Int): Unit = {
      // walk every level: a merge can overflow an upper level even when
      // the ones below it are fine, and each compaction may cascade into
      // the level it promotes to (visited next iteration)
      var i = start
      while (i < levels.length) {
        if (levels(i).length > k) {
          val sorted = levels(i).sortInPlace()
          if (levels.length == i + 1) levels += ArrayBuffer.empty[Long]
          val up = levels(i + 1)
          var j = parity & 1
          parity += 1
          while (j < sorted.length) { up += sorted(j); j += 2 }
          // the un-kept half is discarded; survivors carry doubled weight
          levels(i) = ArrayBuffer.empty[Long]
        }
        i += 1
      }
    }

    def mergeIn(other: Buf): Unit = {
      var i = 0
      while (i < other.levels.length) {
        while (levels.length <= i) levels += ArrayBuffer.empty[Long]
        levels(i) ++= other.levels(i)
        i += 1
      }
      count += other.count
      compactFrom(0)
    }

    /** Weighted-rank scan: the stored value whose cumulative weight
      * first reaches ceil(p·W) over (value, then weight-level) order. */
    def quantile(p: Double): Long = {
      val items = ArrayBuffer.empty[(Long, Long)]
      var i = 0
      var total = 0L
      while (i < levels.length) {
        val w = 1L << i
        levels(i).foreach { v => items += ((v, w)); total += w }
        i += 1
      }
      if (items.isEmpty) return 0L
      val sorted = items.sortInPlace()(Ordering.by(_._1))
      val target = math.max(1L, math.ceil(p * total).toLong)
      var cum = 0L
      var idx = 0
      while (idx < sorted.length) {
        cum += sorted(idx)._2
        if (cum >= target) return sorted(idx)._1
        idx += 1
      }
      sorted.last._1
    }

    def write(out: DataOutputStream): Unit = {
      out.writeInt(parity)
      out.writeLong(count)
      out.writeInt(levels.length)
      levels.foreach { lvl =>
        out.writeInt(lvl.length)
        lvl.foreach(out.writeLong)
      }
    }
  }

  object Buf {
    def read(in: DataInputStream, k: Int): Buf = {
      val b = new Buf(k)
      b.parity = in.readInt()
      b.count = in.readLong()
      b.levels.clear()
      b.levels ++= Iterator.fill(in.readInt())(ArrayBuffer.fill(in.readInt())(in.readLong()))
      b
    }
  }

  /** Column API: approximate quantiles of a long column at `probs`,
    * with ≤ k stored values per weight level. */
  def sketch_quantiles(value: Column, probs: Seq[Double], k: Int = 256): Column =
    QuantileSketch(probs, k).of(value)
}
