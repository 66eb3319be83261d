package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed Dataset-API aggregators (org.apache.spark.sql.expressions
  * .Aggregator) — the strongly-typed UDAF surface next to the Catalyst
  * aggregates declared over [[GraftAggregate]] (`topk_pairs`,
  * `vector_sum`, ...).
  *
  * WelfordVariance is the numerically-stable single-pass population
  * variance: partials merge with the standard parallel-variance
  * combination, so map-side partial aggregation works and no Σx² is
  * materialized (which overflows integer moments on enormous groups —
  * see q55's scaladoc for the exact-moment alternative and its range).
  * The result is order-dependent in the last float bits (any parallel
  * float variance is), so it is spec-verified against the exact-moment
  * form within tolerance, not oracle-hashed.
  */
object TypedStats {

  final case class Moments(n: Long, mean: Double, m2: Double)

  object WelfordVariance extends Aggregator[Double, Moments, Double] {
    override def zero: Moments = Moments(0L, 0.0, 0.0)

    override def reduce(b: Moments, x: Double): Moments = {
      val n = b.n + 1
      val d = x - b.mean
      val mean = b.mean + d / n
      Moments(n, mean, b.m2 + d * (x - mean))
    }

    override def merge(a: Moments, b: Moments): Moments =
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val d = b.mean - a.mean
        Moments(n,
          a.mean + d * b.n / n,
          a.m2 + b.m2 + d * d * a.n * b.n / n)
      }

    override def finish(m: Moments): Double = if (m.n == 0) Double.NaN else m.m2 / m.n

    override def bufferEncoder: Encoder[Moments] = Encoders.product[Moments]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }
}
