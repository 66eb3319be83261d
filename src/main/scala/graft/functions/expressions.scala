package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** graft's hash/similarity kernels as Catalyst expressions (preference
  * order (b) of the operator playbook: a codegen'd expression beats
  * interpreted higher-order functions, long before a custom physical
  * operator is warranted).
  *
  * A kernel is declared once, by its GraftHash method, its result type,
  * its NULL rule and its constant arguments ([[kernel]]). Spark's own
  * `StaticInvoke` evaluates it: generated code is a direct static call,
  * so the projection stays inside whole-stage codegen and runs one fused
  * loop per row, and interpreted evaluation calls the same method.
  * [[GraftKernel]] keeps the call's name in analyzed plans, SQL text and
  * generated column names. Build-time `require`s reject the constants
  * the method would reject per row.
  */
object expressions {

  /** The analysis-time face of one kernel call: SQL text and generated
    * column names read `name(columns)`, plans `name(columns, constants)`,
    * and it checks the column types; the optimizer swaps in
    * `replacement`, the `StaticInvoke` whose first `columns` arguments
    * are the column arguments. */
  case class GraftKernel(name: String, columns: Int, longArrays: Boolean, replacement: Expression)
      extends RuntimeReplaceable with InheritAnalysisRules {
    override def prettyName: String = name
    override def parameters: Seq[Expression] = replacement.children.take(columns)
    override def flatArguments: Iterator[Any] = replacement.children.iterator
    /** The quantized-vector kernels reject anything but array<bigint> at
      * analysis, not as a per-row ClassCastException at execution. */
    override def checkInputDataTypes(): TypeCheckResult =
      if (!longArrays || parameters.forall(_.dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$name requires array<bigint> arguments, got " +
        parameters.map(_.dataType.catalogString).mkString(", "))
    override protected def withNewChildInternal(c: Expression): GraftKernel =
      copy(replacement = c)
  }

  /** A call of `GraftHash.method`: the `Column` arguments come first, then
    * the constants (Int and Long as literals, anything else as an object
    * literal the method receives as is). With `nullIn`, a NULL column
    * gives NULL without a call; otherwise the method sees the NULL. With
    * `nullOut`, the method may return null. */
  private def kernel(name: String, method: String, dataType: DataType, nullIn: Boolean = true,
      nullOut: Boolean = false, longArrays: Boolean = false)(args: Any*): Column = {
    val exprs = args.map {
      case c: Column => Bridge.expression(c)
      case v @ (_: Int | _: Long) => Literal(v)
      case v => Literal.fromObject(v)
    }
    Bridge.column(GraftKernel(name, args.count(_.isInstanceOf[Column]), longArrays,
      StaticInvoke(GraftHash.getClass, dataType, method, exprs,
        propagateNull = nullIn, returnNullable = nullOut)))
  }

  private val Longs = ArrayType(LongType, containsNull = false)

  /** Integer inputs widen to the kernel's long at expression level (a
    * Column-API cast would stay unconverted inside a SQL function),
    * named as `Column.cast` names it. */
  private def asLong(c: Column): Column = {
    val cast = Cast(Bridge.expression(c), LongType)
    cast.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    Bridge.column(cast)
  }

  /** Polynomial rolling hash of a string column. */
  def poly_hash(c: Column): Column =
    kernel("polyhash", "polyHash", LongType)(c, 31L, GraftHash.Mod)

  /** Dual-modulus 60-bit content fingerprint. */
  def text_fingerprint(c: Column): Column = kernel("fingerprint", "fingerprint", LongType)(c)

  /** MinHash signature (array<long>, length numHashes) over k-word
    * shingles; null for documents with fewer than k tokens. */
  def minhash_signature(c: Column, numHashes: Int, k: Int): Column = {
    require(numHashes >= 1, s"graft_minhash: numHashes must be >= 1, got $numHashes")
    require(k >= 1 && k <= 7,
      s"graft_minhash: shingleK must be in [1, 7] (the shingle fold overflows beyond 7), got $k")
    kernel("minhashsignature", "minhashSig", Longs, nullOut = true)(c, numHashes, k)
  }

  /** SimHash fingerprint (token ±1 votes over `bits` bit positions). */
  def simhash64(c: Column, bits: Int = 30): Column = {
    require(bits >= 1 && bits <= 64, s"graft_simhash: bits must be in [1, 64], got $bits")
    kernel("simhash64", "simhash", LongType)(c, bits)
  }

  /** Quantized cosine similarity of two array<float> columns; null when
    * either vector quantizes to zero (undefined cosine — matches the
    * oracle's x/0 → NULL, and can't leak through threshold filters). */
  def quantized_cosine(a: Column, b: Column): Column =
    kernel("quantizedcosine", "cosineQ", DoubleType, nullOut = true)(a, b)

  private def requireGramSize(fn: String, n: Int): Unit =
    require(n >= 1 && n <= 8, s"$fn: n must be in [1, 8] (grams pack into one long), got $n")

  /** Exact n-gram Jaccard similarity of two string columns; null when
    * neither string has any n-gram (undefined 0/0). */
  def ngram_jaccard(a: Column, b: Column, n: Int): Column = {
    requireGramSize("graft_ngram_jaccard", n)
    kernel("ngramjaccard", "ngramJaccard", DoubleType, nullOut = true)(a, b, n)
  }

  /** Asymmetric n-gram containment |grams(a)∩grams(b)| / |grams(a)| —
    * the quote/excerpt detector (ngram_jaccard's directional sibling). */
  def ngram_containment(a: Column, b: Column, n: Int): Column = {
    requireGramSize("graft_ngram_containment", n)
    kernel("ngramcontainment", "ngramContainment", DoubleType, nullOut = true)(a, b, n)
  }

  /** Nearest-centroid assignment for IVF builds: cluster id of the
    * centroid with the greatest integer cosine to the quantized vector
    * column. Centroids ride along as an object literal (k·dim longs —
    * model-scale metadata), so assignment is a narrow codegen'd
    * projection: no join, no shuffle. */
  def nearest_centroid(c: Column, centroids: Array[Array[Long]], ids: Array[Long]): Column =
    kernel("nearestcentroid", "nearestCentroid", LongType)(c, centroids, ids)

  /** Quantized copy of an array<float> column (floor(x·512 + 0.5) per
    * element) as array<long> — the vector-math entry point shared by
    * IVF builds and centroid statistics. */
  def quantize_vec(c: Column): Column = kernel("quantizevec", "quantizeVec", Longs)(c)

  /** Morton/Z-order key of two integer columns (low 32 bits each
    * interleaved): the sort key for 2-D data layout. */
  def zorder_key(a: Column, b: Column): Column =
    kernel("zorderkey", "zorder2", LongType)(asLong(a), asLong(b))

  /** Sign-LSH bucket id of an array<float> column; a NULL vector sets no
    * bit (bucket 0), as in Knn.lshBucketHof and the oracle SQL. */
  def sign_lsh_bucket(c: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 63,
      s"graft_lsh_bucket: planes must be in [1, 63] (bucket fits a long), got $planes")
    kernel("signlshbucket", "signLshBucket", LongType, nullIn = false)(c, planes)
  }

  /** Positions where two array<long> columns agree (minhash signature
    * agreement). */
  def sig_match_count(a: Column, b: Column): Column =
    kernel("sigmatchcount", "sigMatchCount", IntegerType)(a, b)

  /** One-pass tokenizer: filter(split(s,' '), len>0) fused into a single
    * byte scan. */
  def tokens_native(c: Column): Column =
    kernel("tokens", "tokensOf", ArrayType(StringType, containsNull = false))(c)

  /** Distinct char k-gram hash set (first-occurrence order) — fused
    * one-pass replacement for array_distinct(shingleHashes), whose
    * per-position substr re-seek is quadratic in document length. */
  def char_shingle_set(c: Column, k: Int): Column = {
    require(k >= 1 && k <= 5, s"graft_char_shingles: k must be in [1, 5] (unrolled range), got $k")
    kernel("charshingleset", "charShingleSet", Longs)(c, k)
  }

  /** Distinct k-word shingle hash set (first-occurrence order) — fused
    * one-pass replacement for the interpreted wordShingleSetHof. */
  def word_shingle_set(c: Column, k: Int): Column = {
    require(k >= 1 && k <= 7,
      s"graft_word_shingles: k must be in [1, 7] (the shingle fold overflows beyond 7), got $k")
    kernel("wordshingleset", "wordShingleSet", Longs)(c, k)
  }

  /** size(tokens) without materializing the token array. */
  def token_count(c: Column): Column = kernel("tokencount", "tokenCount", IntegerType)(c)

  /** Adjacent token-hash pair keys (h_i·2^31 + h_i+1) in one byte scan —
    * the bigram histogram input without materializing bigram strings. */
  def bigram_hashes(c: Column): Column = kernel("bigramhashes", "bigramHashes", Longs)(c)

  /** size(array_distinct(tokens)) fused. */
  def distinct_token_count(c: Column): Column =
    kernel("distincttokencount", "distinctTokenCount", IntegerType)(c)

  /** size(filter(tokens, isin(lexicon))) fused; the lexicon rides along
    * as an object literal. */
  def stopword_hits(c: Column, words: Seq[String]): Column =
    kernel("stopwordhits", "stopwordHits", IntegerType)(
      c, words.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)

  /** Bloom membership probe: true iff every double-hashed bit of `key` is
    * set in `bits` (the filter's array<long> bitset, usually a literal
    * built by BloomBits), so the probe rides scan-time whole-stage
    * codegen as a narrow filter. */
  def bloom_contains(bits: Column, key: Column, numHashes: Int): Column = {
    require(numHashes >= 1, s"graft_bloom_contains: numHashes must be >= 1, got $numHashes")
    kernel("bloomcontains", "bloomContains", BooleanType)(bits, asLong(key), numHashes)
  }

  /** Smallest suffix loop period ≤ maxP (0 = no loop): the
    * degenerate-generation tail detector, O(suffix) per row. */
  def suffix_loop_period(c: Column, maxP: Int): Column = {
    require(maxP >= 0, s"graft_suffix_loop_period: maxP must be >= 0, got $maxP")
    kernel("suffixloopperiod", "suffixLoopPeriod", IntegerType)(c, maxP)
  }

  /** Squared L2 distance of two quantized array<long> vectors. */
  def l2sq_long(a: Column, b: Column): Column =
    kernel("l2sqlong", "l2sqLong", LongType, longArrays = true)(a, b)

  /** Flat integer dot product of two quantized array<long> vectors. */
  def long_dot(a: Column, b: Column): Column =
    kernel("longdot", "dotLong", LongType, longArrays = true)(a, b)

  /** Late-interaction MaxSim (Σ_q max_d block-dot) of two quantized
    * array<long> vectors split into `blocks` token sub-vectors;
    * bit-identical to q572/q589's HOF form (KernelParitySpec). */
  def maxsim_blocks(a: Column, b: Column, blocks: Int): Column = {
    require(blocks >= 1, s"graft_maxsim: blocks must be >= 1, got $blocks")
    kernel("maxsimblocks", "maxSimBlocks", LongType, longArrays = true)(a, b, blocks)
  }

  /** xxhash64 of every token in one byte scan — the fused
    * `transform(tokens, t -> xxhash64(t))`. */
  def token_xxhashes(c: Column): Column = kernel("tokenxxhashes", "tokenXxHashes", Longs)(c)

  /** Two-argument xxhash64 of every adjacent token pair in one byte scan. */
  def bigram_xxhashes(c: Column): Column = kernel("bigramxxhashes", "bigramXxHashes", Longs)(c)

  /** Chained k-gram xxhash64 digests at every position of an array<long>
    * of token hashes. */
  def gram_chain_digests(c: Column, k: Int): Column = {
    require(k >= 1, s"graft_gram_chain: k must be >= 1, got $k")
    kernel("gramchaindigests", "gramChainDigests", Longs, longArrays = true)(c, k)
  }

  /** (pos, l, dig) extension rows for candidate positions `ps` over token
    * hashes `hs`, l ∈ [k, min(m, n−pos+1)] — the fused form of
    * SuffixDedupQueries' extension fold. */
  def repeat_extensions(hs: Column, ps: Column, k: Int, m: Int): Column = {
    require(k >= 1 && m >= k, s"graft_repeat_ext: need 1 <= k <= m, got k=$k m=$m")
    kernel("repeatextensions", "repeatExtensions", ArrayType(StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("l", LongType, nullable = false),
      StructField("dig", LongType, nullable = false))), containsNull = false),
      longArrays = true)(hs, ps, k, m)
  }
}
