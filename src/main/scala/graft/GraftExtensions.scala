package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.Decimal

import graft.functions.QuantileSketch.sketch_quantiles
import graft.functions.expressions._

/** graft's kernels (graft.functions.expressions) as SQL functions.
  *
  * Two ways in, same registrations:
  *  - config: `spark.sql.extensions=graft.GraftExtensions` at session
  *    build (the deployment path — every session on the cluster gets the
  *    functions with no code change)
  *  - programmatic: `GraftFunctions.register(spark)` on a live session
  *
  * After either, the kernels are first-class in SQL:
  * {{{
  *   SELECT graft_fingerprint(text), graft_token_count(text) FROM docs
  *   SELECT * FROM t WHERE graft_cosine(a.vec, b.vec) > 0.8
  * }}}
  */
object GraftFunctions {

  private def intOf(c: Column, arg: String): Int = Bridge.expression(c) match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case Literal(v: Long, _) => throw new IllegalArgumentException(
      s"$arg must fit an int, got $v")
    case other => throw new IllegalArgumentException(
      s"$arg must be an integer literal, got $other")
  }

  private def doubleOf(c: Column): Double = Bridge.expression(c) match {
    case Literal(v: Double, _) => v
    case Literal(v: Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"probability must be a numeric literal, got $other")
  }

  /** A SQL function over the kernel's Column-level declaration. */
  private def sql(f: Seq[Column] => Column): Seq[Expression] => Expression =
    args => Bridge.expression(f(args.map(Bridge.column)))

  /** Every graft SQL function: name → expression builder. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_poly_hash" -> sql(a => poly_hash(a.head)),
    "graft_fingerprint" -> sql(a => text_fingerprint(a.head)),
    "graft_minhash" -> sql(a =>
      minhash_signature(a(0), intOf(a(1), "numHashes"), intOf(a(2), "shingleK"))),
    "graft_simhash" -> sql(a => simhash64(a(0), intOf(a(1), "bits"))),
    "graft_cosine" -> sql(a => quantized_cosine(a(0), a(1))),
    "graft_ngram_jaccard" -> sql(a => ngram_jaccard(a(0), a(1), intOf(a(2), "n"))),
    "graft_tokens" -> sql(a => tokens_native(a.head)),
    "graft_token_count" -> sql(a => token_count(a.head)),
    "graft_distinct_token_count" -> sql(a => distinct_token_count(a.head)),
    "graft_quantize" -> sql(a => quantize_vec(a.head)),
    "graft_zorder" -> sql(a => zorder_key(a(0), a(1))),
    "graft_lsh_bucket" -> sql(a => sign_lsh_bucket(a(0), intOf(a(1), "planes"))),
    "graft_ngram_containment" -> sql(a => ngram_containment(a(0), a(1), intOf(a(2), "n"))),
    "graft_sig_match_count" -> sql(a => sig_match_count(a(0), a(1))),
    "graft_bloom_contains" -> sql(a => bloom_contains(a(0), a(1), intOf(a(2), "numHashes"))),
    "graft_char_shingles" -> sql(a => char_shingle_set(a(0), intOf(a(1), "k"))),
    "graft_word_shingles" -> sql(a => word_shingle_set(a(0), intOf(a(1), "k"))),
    "graft_suffix_loop_period" -> sql(a => suffix_loop_period(a(0), intOf(a(1), "maxP"))),
    "graft_long_dot" -> sql(a => long_dot(a(0), a(1))),
    "graft_l2sq" -> sql(a => l2sq_long(a(0), a(1))),
    "graft_maxsim" -> sql(a => maxsim_blocks(a(0), a(1), intOf(a(2), "blocks"))),
    // mergeable quantile sketch: graft_sketch_quantile(v, p [, k])
    "graft_sketch_quantile" -> sql(a => sketch_quantiles(a(0), Seq(doubleOf(a(1))),
      if (a.length > 2) intOf(a(2), "k") else 256)))

  /** Register all graft functions on a live session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      Bridge.registerFunction(spark, name, builder)
    }
}

/** `spark.sql.extensions` entry point (must be a zero-arg class). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.expressions", name),
        builder))
    }
}
