package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for graft's hash/similarity hot paths
  * (preference order (b) of the operator playbook: a codegen'd Expression
  * beats interpreted higher-order functions, long before a custom
  * physical operator is warranted).
  *
  * Each expression generates a call to a GraftHash static kernel, so the
  * projection stays inside whole-stage codegen (the pattern of Spark's
  * own StaticInvoke) and evaluates one fused loop per row instead of
  * nested interpreted lambdas.
  */
object expressions {

  private val G = "graft.functions.GraftHash"

  /** Polynomial rolling hash of a string column (base/mod configurable). */
  case class PolyHash(child: Expression, base: Long = 31L, mod: Long = GraftHash.Mod)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.polyHash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], base, mod)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.polyHash($c, ${base}L, ${mod}L)")
    override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
  }

  /** Dual-modulus 60-bit content fingerprint. */
  case class Fingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.fingerprint(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.fingerprint($c)")
    override protected def withNewChildInternal(c: Expression): Fingerprint = copy(child = c)
  }

  /** MinHash signature (array<long>, length numHashes) over k-word
    * shingles; null for documents with fewer than k tokens. */
  case class MinHashSignature(child: Expression, numHashes: Int, shingleK: Int)
      extends UnaryExpression {
    // fail at expression-BUILD time (SuffixLoopPeriod's discipline): a
    // non-positive size would otherwise throw per row at execution
    require(numHashes >= 1, s"graft_minhash: numHashes must be >= 1, got $numHashes")
    require(shingleK >= 1, s"graft_minhash: shingleK must be >= 1, got $shingleK")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true // short docs yield null
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.minhashSig(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numHashes, shingleK)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val code = nullSafeCodeGen(ctx, ev, c => {
        s"""
         ${ev.value} = $G.minhashSig($c, $numHashes, $shingleK);
         if (${ev.value} == null) { ${ev.isNull} = true; }
         """
      })
      code
    }
    override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  }

  /** SimHash fingerprint (token ±1 votes over `bits` bit positions). */
  case class SimHash64(child: Expression, bits: Int) extends UnaryExpression {
    require(bits >= 1 && bits <= 64,
      s"graft_simhash: bits must be in [1, 64], got $bits")
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.simhash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.simhash($c, $bits)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** Quantized cosine similarity of two array<float> columns; null when
    * either vector quantizes to zero (undefined cosine — matches the
    * oracle's x/0 → NULL, and can't leak through threshold filters). */
  case class QuantizedCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.cosineQ(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double r = $G.cosineQ($a, $b);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
        """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedCosine =
      copy(left = l, right = r)
  }

  /** Exact n-gram Jaccard similarity of two string columns (n ≤ 8);
    * null when neither string has any n-gram (undefined 0/0). */
  case class NGramJaccard(left: Expression, right: Expression, n: Int)
      extends BinaryExpression {
    require(n >= 1 && n <= 8,
      s"graft_ngram_jaccard: n must be in [1, 8] (grams pack into one long), got $n")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.ngramJaccard(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double r = $G.ngramJaccard($a, $b, $n);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
        """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): NGramJaccard =
      copy(left = l, right = r)
  }

  /** Positions where two array<long> columns agree (minhash signature
    * agreement). */
  case class SigMatchCount(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.sigMatchCount(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.sigMatchCount($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigMatchCount =
      copy(left = l, right = r)
  }

  /** Asymmetric n-gram containment |grams(a)∩grams(b)| / |grams(a)| —
    * the quote/excerpt detector (ngram_jaccard's directional sibling). */
  case class NGramContainment(left: Expression, right: Expression, n: Int)
      extends BinaryExpression {
    require(n >= 1 && n <= 8,
      s"graft_ngram_containment: n must be in [1, 8] (grams pack into one long), got $n")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.ngramContainment(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double r = $G.ngramContainment($a, $b, $n);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
        """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): NGramContainment =
      copy(left = l, right = r)
  }

  /** Bloom membership probe: true iff every double-hashed bit of `right`
    * (a long key) is set in `left` (the filter's array<long> bitset,
    * usually a broadcast/literal built by BloomBits). Codegen'd, so the
    * probe rides scan-time whole-stage codegen as a narrow filter. */
  case class BloomContains(left: Expression, right: Expression, numHashes: Int)
      extends BinaryExpression {
    require(numHashes >= 1,
      s"graft_bloom_contains: numHashes must be >= 1, got $numHashes")
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(bits: Any, key: Any): Any =
      GraftHash.bloomContains(
        bits.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        key.asInstanceOf[Long], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (bits, key) => s"$G.bloomContains($bits, $key, $numHashes)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains =
      copy(left = l, right = r)
  }

  /** Sign-LSH bucket id of an array<float> column. */
  case class SignLshBucket(child: Expression, planes: Int) extends UnaryExpression {
    require(planes >= 1 && planes <= 63,
      s"graft_lsh_bucket: planes must be in [1, 63] (bucket fits a long), got $planes")
    override def dataType: DataType = LongType
    // a NULL vector sets no bit: bucket 0, as in Knn.lshBucketHof and the
    // oracle SQL (every projection is NULL, so none is positive)
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) 0L
      else GraftHash.signLshBucket(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull} ? 0L : $G.signLshBucket(${c.value}, $planes);""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): SignLshBucket = copy(child = c)
  }

  /** Morton/Z-order key of two long columns (low 32 bits each
    * interleaved): the sort key for 2-D data layout. Integer inputs are
    * cast to long by the callers (AbstractDataType — the usual
    * ImplicitCastInputTypes route — is private[sql] in Spark 4). */
  case class ZOrderKey(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.zorder2($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrderKey =
      copy(left = l, right = r)
  }

  /** Quantized copy of an array<float> column (floor(x·512 + 0.5) per
    * element) as array<long> — the vector-math entry point shared by
    * IVF builds and centroid statistics. */
  case class QuantizeVec(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.quantizeVec(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.quantizeVec($c)")
    override protected def withNewChildInternal(c: Expression): QuantizeVec = copy(child = c)
  }

  /** One-pass tokenizer: filter(split(s,' '), len>0) fused into a single
    * byte scan (the HOF form evaluates interpreted and allocates per
    * lambda call). */
  case class Tokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.tokensOf(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.tokensOf($c)")
    override protected def withNewChildInternal(c: Expression): Tokens = copy(child = c)
  }

  /** Distinct char k-gram hash set (first-occurrence order) — fused
    * one-pass replacement for array_distinct(shingleHashes), whose
    * per-position substr re-seek is quadratic in document length. */
  case class CharShingleSet(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"graft_char_shingles: k must be >= 1, got $k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.charShingleSet(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.charShingleSet($c, $k)")
    override protected def withNewChildInternal(c: Expression): CharShingleSet = copy(child = c)
  }

  /** Distinct k-word shingle hash set (first-occurrence order) — fused
    * one-pass replacement for the interpreted wordShingleSetHof, whose
    * per-character substr tokenization is quadratic per token. */
  case class WordShingleSet(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"graft_word_shingles: k must be >= 1, got $k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.wordShingleSet(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.wordShingleSet($c, $k)")
    override protected def withNewChildInternal(c: Expression): WordShingleSet = copy(child = c)
  }

  /** size(tokens) without materializing the token array. */
  case class TokenCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.tokenCount(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.tokenCount($c)")
    override protected def withNewChildInternal(c: Expression): TokenCount = copy(child = c)
  }

  /** size(array_distinct(tokens)) fused. */
  case class DistinctTokenCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.distinctTokenCount(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.distinctTokenCount($c)")
    override protected def withNewChildInternal(c: Expression): DistinctTokenCount = copy(child = c)
  }

  /** Adjacent token-hash pair keys (h_i·2^31 + h_i+1) in one byte scan —
    * the bigram histogram input without materializing bigram strings. */
  case class BigramHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.bigramHashes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.bigramHashes($c)")
    override protected def withNewChildInternal(c: Expression): BigramHashes = copy(child = c)
  }

  /** size(filter(tokens, isin(lexicon))) fused; the lexicon rides along
    * as a reference object. */
  case class StopwordHits(child: Expression, words: Seq[String]) extends UnaryExpression {
    private lazy val wordArr: Array[org.apache.spark.unsafe.types.UTF8String] =
      words.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.stopwordHits(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], wordArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("stopwords", wordArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      defineCodeGen(ctx, ev, c => s"$G.stopwordHits($c, $wRef)")
    }
    override protected def withNewChildInternal(c: Expression): StopwordHits = copy(child = c)
  }

  /** Nearest-centroid assignment for IVF builds: cluster id of the
    * centroid with the greatest integer cosine to the quantized vector
    * column. Centroids ride along as a plan-literal reference object
    * (k·dim longs — model-scale metadata), so assignment is a narrow
    * codegen'd projection: no join, no shuffle. */
  case class NearestCentroid(child: Expression,
                             centroids: Array[Array[Long]], ids: Array[Long])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.nearestCentroid(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centroids, ids)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
      val iRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
      defineCodeGen(ctx, ev, c => s"$G.nearestCentroid($c, $cRef, $iRef)")
    }
    override protected def withNewChildInternal(c: Expression): NearestCentroid = copy(child = c)
  }

  /** Smallest suffix loop period ≤ maxP (0 = no loop): the
    * degenerate-generation tail detector. O(suffix) per row — boundaries
    * are scanned from the document END, so long documents cost the same
    * as short ones. */
  case class SuffixLoopPeriod(child: Expression, maxP: Int) extends UnaryExpression {
    // fail at expression-BUILD time: a negative maxP would otherwise
    // surface as a per-row NegativeArraySizeException at execution
    require(maxP >= 0,
      s"graft_suffix_loop_period: maxP must be >= 0, got $maxP")
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.suffixLoopPeriod(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], maxP)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.suffixLoopPeriod($c, $maxP)")
    override protected def withNewChildInternal(c: Expression): SuffixLoopPeriod = copy(child = c)
  }

  /** Analysis-time rejection for the quantized-vector kernels: without
    * a declared input contract, graft_long_dot over strings or
    * array<int> surfaces as a per-row ClassCastException at EXECUTION
    * time (round-8 advice). AbstractDataType is private[sql], so the
    * check is a direct checkInputDataTypes override. */
  private def checkLongArrayInputs(fname: String, children: Expression*): TypeCheckResult =
    children.collectFirst {
      case e if (e.dataType match {
        case ArrayType(LongType, _) => false
        case _ => true
      }) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fname requires array<bigint> arguments, got " +
            children.map(_.dataType.catalogString).mkString(", "))
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Flat integer dot product of two quantized array<long> vectors —
    * one fused codegen loop instead of the interpreted
    * aggregate-over-sequence HOF. */
  case class LongDot(left: Expression, right: Expression) extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArrayInputs("graft_long_dot", left, right)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.dotLong(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.dotLong($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDot =
      copy(left = l, right = r)
  }

  /** Squared L2 distance of two quantized array<long> vectors — one
    * fused codegen loop instead of the interpreted difference-square
    * aggregate HOF. */
  case class L2SqLong(left: Expression, right: Expression) extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArrayInputs("graft_l2sq", left, right)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.l2sqLong(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.l2sqLong($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqLong =
      copy(left = l, right = r)
  }

  /** Late-interaction MaxSim (Σ_q max_d block-dot) of two quantized
    * array<long> vectors split into `blocks` token sub-vectors — the
    * fused replacement for q572/q589's three nested interpreted
    * lambdas; bit-identical to the HOF form (KernelParitySpec). */
  case class MaxSimBlocks(left: Expression, right: Expression, blocks: Int)
      extends BinaryExpression {
    require(blocks >= 1, s"graft_maxsim: blocks must be >= 1, got $blocks")
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArrayInputs("graft_maxsim", left, right)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.maxSimBlocks(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], blocks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.maxSimBlocks($a, $b, $blocks)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxSimBlocks =
      copy(left = l, right = r)
  }

  /** xxhash64 of every token in one byte scan — the fused
    * `transform(tokens, t -> xxhash64(t))` (SuffixDedupQueries hot path). */
  case class TokenXxHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.tokenXxHashes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.tokenXxHashes($c)")
    override protected def withNewChildInternal(c: Expression): TokenXxHashes = copy(child = c)
  }

  /** Two-argument xxhash64 of every adjacent token pair in one byte
    * scan — the fused q479 bigram digest. */
  case class BigramXxHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.bigramXxHashes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.bigramXxHashes($c)")
    override protected def withNewChildInternal(c: Expression): BigramXxHashes = copy(child = c)
  }

  /** Chained k-gram xxhash64 digests at every position of an
    * array<long> of token hashes — the fused per-position
    * aggregate-over-slice HOF (SuffixDedupQueries pos8). */
  case class GramChainDigests(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"graft_gram_chain: k must be >= 1, got $k")
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArrayInputs("graft_gram_chain", child)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any): Any =
      GraftHash.gramChainDigests(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$G.gramChainDigests($c, $k)")
    override protected def withNewChildInternal(c: Expression): GramChainDigests = copy(child = c)
  }

  /** (pos, l, dig) extension rows for candidate positions `right` over
    * token hashes `left`, l ∈ [k, min(m, n−pos+1)] — the fused form of
    * SuffixDedupQueries' interpreted extension fold (the round-13
    * suite's single largest task-CPU sink at ~97 s per sf0.1 build). */
  case class RepeatExtensions(left: Expression, right: Expression, k: Int, m: Int)
      extends BinaryExpression {
    require(k >= 1 && m >= k, s"graft_repeat_ext: need 1 <= k <= m, got k=$k m=$m")
    override def checkInputDataTypes(): TypeCheckResult =
      checkLongArrayInputs("graft_repeat_ext", left, right)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("l", LongType, nullable = false),
      StructField("dig", LongType, nullable = false))), containsNull = false)
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GraftHash.repeatExtensions(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, m)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$G.repeatExtensions($a, $b, $k, $m)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): RepeatExtensions =
      copy(left = l, right = r)
  }

  // ---- Column-level API ----

  def poly_hash(c: Column): Column = Bridge.column(PolyHash(Bridge.expression(c)))
  def text_fingerprint(c: Column): Column = Bridge.column(Fingerprint(Bridge.expression(c)))
  def minhash_signature(c: Column, numHashes: Int, k: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(c), numHashes, k))
  def simhash64(c: Column, bits: Int = 30): Column =
    Bridge.column(SimHash64(Bridge.expression(c), bits))
  def quantized_cosine(a: Column, b: Column): Column =
    Bridge.column(QuantizedCosine(Bridge.expression(a), Bridge.expression(b)))
  def ngram_jaccard(a: Column, b: Column, n: Int): Column =
    Bridge.column(NGramJaccard(Bridge.expression(a), Bridge.expression(b), n))
  def nearest_centroid(c: Column, centroids: Array[Array[Long]], ids: Array[Long]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(c), centroids, ids))
  def quantize_vec(c: Column): Column = Bridge.column(QuantizeVec(Bridge.expression(c)))
  def zorder_key(a: Column, b: Column): Column =
    Bridge.column(ZOrderKey(
      Bridge.expression(a.cast("long")), Bridge.expression(b.cast("long"))))
  def sign_lsh_bucket(c: Column, planes: Int): Column =
    Bridge.column(SignLshBucket(Bridge.expression(c), planes))
  def sig_match_count(a: Column, b: Column): Column =
    Bridge.column(SigMatchCount(Bridge.expression(a), Bridge.expression(b)))
  def tokens_native(c: Column): Column = Bridge.column(Tokens(Bridge.expression(c)))
  def char_shingle_set(c: Column, k: Int): Column =
    Bridge.column(CharShingleSet(Bridge.expression(c), k))
  def word_shingle_set(c: Column, k: Int): Column =
    Bridge.column(WordShingleSet(Bridge.expression(c), k))
  def token_count(c: Column): Column = Bridge.column(TokenCount(Bridge.expression(c)))
  def bigram_hashes(c: Column): Column = Bridge.column(BigramHashes(Bridge.expression(c)))
  def distinct_token_count(c: Column): Column =
    Bridge.column(DistinctTokenCount(Bridge.expression(c)))
  def stopword_hits(c: Column, words: Seq[String]): Column =
    Bridge.column(StopwordHits(Bridge.expression(c), words))
  def ngram_containment(a: Column, b: Column, n: Int): Column =
    Bridge.column(NGramContainment(Bridge.expression(a), Bridge.expression(b), n))
  def bloom_contains(bits: Column, key: Column, numHashes: Int): Column =
    Bridge.column(BloomContains(
      Bridge.expression(bits), Bridge.expression(key.cast("long")), numHashes))
  def suffix_loop_period(c: Column, maxP: Int): Column =
    Bridge.column(SuffixLoopPeriod(Bridge.expression(c), maxP))
  def l2sq_long(a: Column, b: Column): Column =
    Bridge.column(L2SqLong(Bridge.expression(a), Bridge.expression(b)))
  def long_dot(a: Column, b: Column): Column =
    Bridge.column(LongDot(Bridge.expression(a), Bridge.expression(b)))
  def maxsim_blocks(a: Column, b: Column, blocks: Int): Column =
    Bridge.column(MaxSimBlocks(Bridge.expression(a), Bridge.expression(b), blocks))
  def token_xxhashes(c: Column): Column = Bridge.column(TokenXxHashes(Bridge.expression(c)))
  def bigram_xxhashes(c: Column): Column = Bridge.column(BigramXxHashes(Bridge.expression(c)))
  def gram_chain_digests(c: Column, k: Int): Column =
    Bridge.column(GramChainDigests(Bridge.expression(c), k))
  def repeat_extensions(hs: Column, ps: Column, k: Int, m: Int): Column =
    Bridge.column(RepeatExtensions(Bridge.expression(hs), Bridge.expression(ps), k, m))
}
