package graft.functions

import java.io.{DataInputStream, DataOutputStream}
import java.lang.{Long => JLong}
import java.util.TreeSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values, "bottom-k") distinct sketch — the mergeable
  * distinct-count summary of Bar-Yossef et al. (2002), the sketch behind
  * theta-sketch set algebra.
  *
  * The buffer is the set of the k SMALLEST distinct hash values seen.
  * Map-side partial aggregation reduces every partition to ≤k longs per
  * group before the shuffle (same scale argument as [[TopKPairs]]), and
  * merging two sketches is union-then-trim — associative and
  * commutative, so the result is identical under any partitioning.
  *
  * Unlike HLL, the KMV buffer is a DETERMINISTIC pure function of the
  * input value set: bottom-k of the hashes. That makes it the sketch an
  * external engine can reproduce row-for-row in SQL (sort the distinct
  * hashes, take k) — so the estimate itself is oracle-verifiable, not
  * just "approximately right". With hashes uniform on [0, 2³²), the
  * standard estimator is (k−1)·2³² / h_k where h_k is the k-th smallest
  * hash (sketch full), or exact |sketch| when fewer than k distinct
  * values exist.
  *
  * Input: LONG hash values (caller hashes — e.g.
  * `Sampling.keyHash(poly_hash(text))`). Output: array<long>, the
  * sorted bottom-k distinct hashes.
  */
case class KmvBottomK(k: Int) extends AggregateDeclaration[TreeSet[JLong]] {

  require(k > 0, "k must be positive")

  def name: String = "kmv_bottom_k"
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  def zero(): TreeSet[JLong] = new TreeSet()

  private def offer(s: TreeSet[JLong], v: Long): Unit =
    if (s.size < k) s.add(v)
    else if (v < s.last() && s.add(v)) s.remove(s.last())

  def update(s: TreeSet[JLong], in: Any): Unit = offer(s, in.asInstanceOf[Long])

  def merge(s: TreeSet[JLong], other: TreeSet[JLong]): Unit =
    other.forEach(v => offer(s, v))

  def eval(s: TreeSet[JLong]): Any =
    new GenericArrayData(s.stream().mapToLong(_.longValue).toArray)

  def write(s: TreeSet[JLong], out: DataOutputStream): Unit = {
    out.writeInt(s.size)
    s.forEach(v => out.writeLong(v))
  }

  def read(in: DataInputStream): TreeSet[JLong] = {
    val s = zero()
    Iterator.fill(in.readInt())(in.readLong()).foreach(v => s.add(v))
    s
  }
}

object KmvSketch {
  /** Column API: sorted bottom-k distinct hash values per group. */
  def kmv_bottom_k(hash: Column, k: Int): Column =
    KmvBottomK(k).of(hash)

  /** Distinct-count estimate from a bottom-k array column (by name)
    * over hashes uniform on [0, 2³²): exact size when the sketch isn't
    * full, else (k−1)·2³² DIV h_k — integer division, so the exact
    * same expression runs in the oracle. */
  def kmv_estimate(sketchCol: String, k: Int): Column = {
    require(sketchCol.matches("[A-Za-z_][A-Za-z0-9_]*"), s"plain column name expected: $sketchCol")
    org.apache.spark.sql.functions.expr(
      s"CAST(CASE WHEN size($sketchCol) < $k THEN size($sketchCol)" +
        s" ELSE CAST(${k - 1} AS BIGINT) * 4294967296 DIV element_at($sketchCol, $k)" +
        s" END AS BIGINT)")
  }
}
