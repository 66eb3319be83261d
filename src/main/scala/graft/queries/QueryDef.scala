package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation over a scale-factor
  * directory, plus (when SQL-expressible) the equivalent DuckDB oracle SQL
  * the driver hash-compares against.
  *
  * Conventions that make the hash compare byte-exact (see
  * graft.functions.Deterministic):
  *  - every output column explicitly aliased; identical names both sides
  *  - deterministic total ORDER BY in both implementations
  *  - no raw timestamps out (epoch seconds instead), no double→string,
  *    no order-dependent double sums
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryGroup {
  def defs: Seq[QueryDef]
}

/** SQL text macros shared across query modules and their oracles —
  * defined once so the Spark and DuckDB forms cannot drift (the
  * graph.Backbone discipline for scalar expressions).
  *
  * The `duck*` macros are the DuckDB mirrors of graft's text and vector
  * kernels, written once for every oracle: the whitespace tokenizer
  * (`tokens_native`), the base-31 polynomial hash (`poly_hash`) and the
  * house 512-step quantization. They are oracle text only; no Spark plan
  * reads them. A pipeline's oracle chain lives beside the Spark builder
  * it mirrors, in the query object of its lowest-numbered user. */
object SqlMacros {
  /** Whitespace tokens of the string expression `text`: split on single
    * spaces, empty tokens dropped. */
  def duckTokensOf(text: String): String =
    s"list_filter(str_split($text, ' '), t -> len(t) > 0)"

  /** Whitespace tokens of the `text` column. */
  val duckTokens: String = duckTokensOf("text")

  /** Base-31 polynomial hash of the string expression `s` over its code
    * points, mod 1e9+7, folded from 0. */
  def duckPolyHashOf(s: String): String =
    s"list_reduce(list_prepend(0::BIGINT, [ord(c)::BIGINT for c in str_split($s, '')]), " +
      "(h, c) -> (h * 31 + c) % 1000000007)"

  /** 512-step quantization of one embedding component `x`: round(x·512),
    * halves up, computed in double. */
  def duckQuant(x: String): String = s"CAST(floor(CAST($x AS DOUBLE) * 512 + 0.5) AS BIGINT)"

  /** The `embedding` column quantized element-wise. */
  val duckQuantVec: String = s"list_transform(embedding, x -> ${duckQuant("x")})"

  /** Exact integer square root, ±1-corrected: floor(sqrt(v)) computed
    * via libm double sqrt, then nudged so the result r satisfies
    * r² ≤ v < (r+1)² EXACTLY — identical on any engine regardless of
    * the platform's sqrt rounding at perfect-square boundaries (the
    * floor(log2) lesson). Both Spark SQL and DuckDB accept this text
    * verbatim. */
  def isqrt(v: String): String =
    s"""(CASE
        WHEN (CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) + 1)
           * (CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) + 1) <= ($v)
          THEN CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) + 1
        WHEN CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT)
           * CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) > ($v)
          THEN CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) - 1
        ELSE CAST(floor(sqrt(CAST(($v) AS DOUBLE))) AS BIGINT) END)"""
}
