package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Element-wise sum of array<long> vectors as ONE aggregate.
  *
  * The alternative — `dim` separate `sum(v[i])` aggregate expressions —
  * evaluates `dim` array extractions per row and carries `dim` separate
  * agg buffers; a single long[dim] buffer updated in one fused loop does
  * the same reduction with one pass and one buffer, and map-side partial
  * aggregation ships k·dim longs per partition. This is the reduction
  * under centroid means (IVF builds, per-label embedding stats).
  *
  * Null vectors are skipped; all inputs must share the aggregate's
  * declared `dim` (enforced — a silent length mismatch would corrupt the
  * centroid).
  */
case class VectorSum(dim: Int) extends LongVectorDeclaration {

  require(dim > 0, "dim must be positive")

  protected def length: Int = dim
  def name: String = "vector_sum"

  def update(buf: Array[Long], in: Any): Unit = {
    val arr = in.asInstanceOf[ArrayData]
    require(arr.numElements() == dim,
      s"vector_sum(dim=$dim) got a vector of length ${arr.numElements()}")
    var i = 0
    while (i < dim) { buf(i) += arr.getLong(i); i += 1 }
  }
}

/** Poisson-bootstrap sufficient statistics as ONE aggregate:
  * for B replicates, Σw_b and Σw_b·v per group, where w_b is the
  * Poisson(1) inverse-CDF of hash stream b. Stream b shifts the masked
  * key by b·1103515245 mod 2^31 BEFORE the Knuth multiply — varying
  * the multiplier instead (the first cut) only perturbs the hash by
  * 2bk, which for keys ≪ 2^32 leaves all B streams nearly identical
  * and collapses the bootstrap distribution to a point (caught by the
  * CI-brackets-the-mean invariant in OlapOpsSpec). b = 0 degenerates
  * to Sampling.keyHash exactly; the DuckDB oracle reproduces every
  * weight bit-for-bit.
  *
  * The declarative alternative materializes three B-long arrays per row
  * through interpreted higher-order-function lambdas (measured ~4× the
  * whole-query cost at B=200); here the weights live only inside the
  * fused update loop and the buffer is one long[2B] — B Σw then B Σwv —
  * combined map-side. Per-row hash cost is unavoidable; the only per-row
  * allocation is the (key, value) pair the update receives.
  */
case class BootstrapMoments(b: Int, bernoulli: Boolean = false) extends LongVectorDeclaration {

  require(b > 0, "replicate count must be positive")

  // cumulative Poisson(1) CDF at 2^32 scale: floor(P(X<=k)·2^32); the
  // tail past k=5 (mass 6e-4) truncates to w=6 — identically in the
  // oracle SQL, so the bias (if one cares) is shared, not a divergence
  private val T = Array(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L)

  protected def length: Int = 2 * b
  def name: String = "bootstrap_moments"

  /** `in` is (key, value). */
  def update(buf: Array[Long], in: Any): Unit = {
    val Array(key: Long, value: Long) = in.asInstanceOf[Array[Any]]
    val masked = { val m = key % 2147483648L; if (m < 0) m + 2147483648L else m }
    var i = 0
    while (i < b) {
      // shifted key < 2^31 and multiplier < 2^32 → product < 2^63
      val keyB = (masked + 1103515245L * (i + 1)) % 2147483648L
      val h = (keyB * 2654435761L) % 4294967296L
      // bernoulli: a fair coin per stream (randomization tests);
      // otherwise the Poisson(1) inverse CDF (bootstrap resampling)
      val w =
        if (bernoulli) { if (h < 2147483648L) 1L else 0L }
        else {
          var k = 0L
          while (k < 6 && h >= T(k.toInt)) k += 1
          k
        }
      buf(i) += w
      buf(b + i) += w * value
      i += 1
    }
  }
}

object VectorAggregates {
  /** Column API: element-wise sum of an array<long> column of fixed
    * length `dim`, as array<long>. */
  def vector_sum(v: Column, dim: Int): Column =
    VectorSum(dim).of(v)

  /** Column API: Poisson-bootstrap Σw / Σwv over B replicates, as one
    * array<long> of length 2B (first B = Σw, last B = Σw·v). */
  def bootstrap_moments(key: Column, value: Column, b: Int): Column =
    BootstrapMoments(b).of(key, value)

  /** Column API: B fair-coin reassignments (w ∈ {0,1}) of the keyed
    * units — Σw / Σwv per replicate, the sufficient statistics of a
    * randomization test. Same layout as bootstrap_moments. */
  def randomization_moments(key: Column, value: Column, b: Int): Column =
    BootstrapMoments(b, bernoulli = true).of(key, value)
}
