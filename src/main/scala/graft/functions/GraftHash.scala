package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JVM kernels behind graft's codegen'd hash/similarity
  * expressions (graft.functions.expressions).
  *
  * Each kernel computes EXACTLY the arithmetic of its higher-order-
  * function reference implementation in graft.text.TextFunctions /
  * graft.similarity.VectorOps (which the DuckDB oracle mirrors):
  * byte-wise folds equal the code-point folds for ASCII text — the only
  * text these pipelines hash before normalization. The HOF forms stay as
  * the executable spec; KernelParitySpec asserts kernel == HOF.
  *
  * Why kernels at all: Spark's higher-order functions (transform /
  * aggregate / zip_with) evaluate interpreted — per-element closure calls
  * and boxed allocation — and nested lambdas defeat both whole-stage
  * codegen and common-subexpression elimination, so a 16-hash minhash
  * recomputes tokenization 16×. One fused loop per document is 2-3 orders
  * of magnitude less work, and the expression stays inside codegen via a
  * static call.
  */
object GraftHash {

  val Mod = 1000000007L
  val Mod2 = 998244353L

  /** fold(chars, 0, (h,c) => (h*base + c) % mod) over the UTF-8 bytes. */
  def polyHash(s: UTF8String, base: Long, mod: Long): Long = {
    val n = s.numBytes
    var h = 0L
    var i = 0
    while (i < n) { h = (h * base + (s.getByte(i) & 0xff)) % mod; i += 1 }
    h
  }

  /** Dual-modulus fingerprint: h1(base 31, Mod)·Mod2 + h2(base 131, Mod2). */
  def fingerprint(s: UTF8String): Long = {
    val n = s.numBytes
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < n) {
      val c = s.getByte(i) & 0xff
      h1 = (h1 * 31 + c) % Mod
      h2 = (h2 * 131 + c) % Mod2
      i += 1
    }
    h1 * Mod2 + h2
  }

  /** Hashes of the non-empty single-space-delimited tokens of `s`. */
  def tokenHashes(s: UTF8String): Array[Long] = {
    val n = s.numBytes
    val out = new java.util.ArrayList[java.lang.Long](16)
    var h = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i) & 0xff
      if (b == ' ') {
        if (inTok) { out.add(h); h = 0L; inTok = false }
      } else {
        h = (h * 31 + b) % Mod
        inTok = true
      }
      i += 1
    }
    if (inTok) out.add(h)
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    arr
  }

  /** Injective keys of adjacent token-hash pairs: h(i)·2^31 + h(i+1).
    * Token hashes are < Mod < 2^30, so the packing cannot collide on
    * distinct hash pairs and the key stays < 2^61. One byte scan, no
    * token strings materialized — the repetition-stats hot path. */
  def bigramHashes(s: UTF8String): ArrayData = {
    val th = tokenHashes(s)
    if (th.length < 2) new GenericArrayData(Array.emptyLongArray)
    else {
      val out = new Array[Long](th.length - 1)
      var i = 0
      while (i < out.length) { out(i) = th(i) * 2147483648L + th(i + 1); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** Non-empty single-space-delimited tokens of `s` — exactly
    * filter(split(s, ' '), t -> len(t) > 0), one pass, each token copied
    * out (never aliasing a reusable scan buffer). */
  def tokensOf(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String](16)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Number of non-empty tokens — size(tokens) without materializing. */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0xff) == ' ') inTok = false
      else { if (!inTok) count += 1; inTok = true }
      i += 1
    }
    count
  }

  /** Number of distinct tokens — size(array_distinct(tokens)) fused. */
  def distinctTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    val seen = new java.util.HashSet[UTF8String](16)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) seen.add(UTF8String.fromBytes(bytes, start, i - start))
        start = i + 1
      }
      i += 1
    }
    seen.size
  }

  /** Occurrences of tokens that appear in `words` —
    * size(filter(tokens, t -> t isin words)) fused; `words` is a small
    * lexicon (linear scan per token). */
  def stopwordHits(s: UTF8String, words: Array[UTF8String]): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var hits = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        if (i > start) {
          val tok = UTF8String.fromBytes(bytes, start, i - start)
          var w = 0
          var found = false
          while (w < words.length && !found) {
            if (words(w).equals(tok)) found = true
            w += 1
          }
          if (found) hits += 1
        }
        start = i + 1
      }
      i += 1
    }
    hits
  }

  /** MinHash signature over k-word shingles; null when the document has
    * fewer than k tokens. h_j(x) = ((2j+1)·x + 7919j) % Mod; shingle hash
    * is the base-31 fold of k consecutive token hashes (single final mod,
    * matching TextFunctions.wordShingleSet). Distinctness of shingles is
    * irrelevant under min, so no dedup pass. */
  def minhashSig(s: UTF8String, numHashes: Int, k: Int): ArrayData = {
    require(k >= 1 && k <= 7, s"word-shingle k=$k overflows the unmodded base-31 fold beyond 7")
    val th = tokenHashes(s)
    if (th.length < k) return null
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val last = th.length - k
    while (i <= last) {
      var sh = th(i)
      var j = 1
      while (j < k) { sh = sh * 31 + th(i + j); j += 1 }
      sh %= Mod
      var q = 0
      while (q < numHashes) {
        val v = (sh * (2 * q + 1) + 7919L * q) % Mod
        if (v < sig(q)) sig(q) = v
        q += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash: every token votes ±1 per bit of its hash; sign of the vote
    * total sets the fingerprint bit (ties → 1, matching vote >= 0). */
  def simhash(s: UTF8String, bits: Int): Long = {
    val th = tokenHashes(s)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) { if (votes(b) >= 0) fp |= 1L << b; b += 1 }
    fp
  }

  /** The distinct n-byte grams of `s`, each packed losslessly into one
    * long (n ≤ 8). */
  private def gramSet(s: UTF8String, n: Int): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val len = s.numBytes
    var i = 0
    while (i + n <= len) {
      var g = 0L
      var j = 0
      while (j < n) { g = (g << 8) | (s.getByte(i + j) & 0xffL); j += 1 }
      set.add(g)
      i += 1
    }
    set
  }

  /** Exact n-gram Jaccard of two strings for n ≤ 8: each n-byte gram
    * packs losslessly into one long (no hash collisions), distinct sets
    * via a HashSet, |I| / (|A|+|B|−|I|) with the same operand order as
    * the array_intersect/size reference form. */
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): java.lang.Double = {
    require(n <= 8, "n-gram pack supports n <= 8 bytes")
    val sa = gramSet(a, n)
    val sb = gramSet(b, n)
    val la = sa.size
    val lb = sb.size
    var inter = 0
    val it = (if (la <= lb) sa else sb).iterator()
    val other = if (la <= lb) sb else sa
    while (it.hasNext) if (other.contains(it.next())) inter += 1
    // both strings shorter than n: no grams, division undefined — NULL,
    // matching DuckDB's x/0 → NULL (Spark IEEE would give NaN, which
    // would silently PASS >= threshold filters)
    if (la + lb - inter == 0) null
    else java.lang.Double.valueOf(inter.toDouble / (la + lb - inter))
  }

  /** Asymmetric n-gram containment: |grams(a) ∩ grams(b)| / |grams(a)| —
    * ≈1 when a is QUOTED/EXCERPTED inside b even if b is much longer
    * (where symmetric Jaccard would stay low). Same byte-packed gram
    * sets as ngramJaccard; null when `a` has no grams (x/0 → NULL,
    * DuckDB semantics). */
  def ngramContainment(a: UTF8String, b: UTF8String, n: Int): java.lang.Double = {
    require(n <= 8, "n-gram pack supports n <= 8 bytes")
    val sa = gramSet(a, n)
    if (sa.isEmpty) return null
    val sb = gramSet(b, n)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    java.lang.Double.valueOf(inter.toDouble / sa.size)
  }

  /** Quantized cosine of two float vectors: q = floor(x·512 + 0.5) per
    * element (exact: 512 is a power of two), integer dot/norms, one
    * double division — bit-identical to VectorOps.cosineQ∘quantize.
    * Lengths must match: indexing UnsafeArrayData past its end reads
    * arbitrary memory and returns silently wrong cosines (same contract
    * as sigMatchCount), so fail loudly instead. */
  def cosineQ(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine_q: vector lengths differ (${n} vs ${b.numElements()})")
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = math.floor(a.getFloat(i) * 512.0d + 0.5d).toLong
      val y = math.floor(b.getFloat(i) * 512.0d + 0.5d).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // zero-quantized vector ⇒ undefined cosine — NULL (DuckDB x/0
    // semantics), not NaN, so threshold filters can't pass it
    if (na == 0L || nb == 0L) null
    else java.lang.Double.valueOf(dot.toDouble / math.sqrt(na.toDouble * nb.toDouble))
  }

  /** Distinct char k-gram polynomial hashes in first-occurrence order —
    * one fused byte scan, exactly array_distinct(shingleHashes(s, k))
    * (TextFunctions.shingleSetHof, the interpreted spec). The HOF path
    * is quadratic per document: every `substr(i, 1)` re-seeks UTF-8 from
    * byte 0, so a 300-char doc costs ~len²·k character reads (measured
    * 20 s/scan at sf0.1 in q114). This kernel is O(len·k). Horner max
    * 255·Σ31^j < Mod for k ≤ 5, so one trailing modulo suffices. */
  def charShingleSet(s: UTF8String, k: Int): ArrayData = {
    require(k >= 1 && k <= 5, s"shingle k=$k out of unrolled range 1..5")
    val n = s.numBytes
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + k <= n) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 31L + (s.getByte(i + j) & 0xffL); j += 1 }
      seen.add(h % Mod)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  /** Distinct k-word shingle hashes in first-occurrence order — the
    * fused form of TextFunctions.wordShingleSetHof (base-31 fold of k
    * consecutive token hashes, single trailing modulo, then
    * array_distinct). The HOF spec path tokenizes with per-character
    * `substr(i, 1)` (quadratic UTF-8 re-seek per token) and evaluates
    * interpreted; this kernel is one byte scan plus an O(tokens·k)
    * fold. Documents with fewer than k tokens yield an empty set (the
    * HOF form is undefined there — its descending `sequence` indexes
    * out of range — so callers filter short docs first either way). */
  def wordShingleSet(s: UTF8String, k: Int): ArrayData = {
    require(k >= 1 && k <= 7, s"word-shingle k=$k overflows the unmodded base-31 fold beyond 7")
    val th = tokenHashes(s)
    if (th.length < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    val last = th.length - k
    while (i <= last) {
      var sh = th(i)
      var j = 1
      while (j < k) { sh = sh * 31 + th(i + j); j += 1 }
      seen.add(sh % Mod)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  /** Interleave the low 32 bits of two non-negative keys (Morton/Z-order
    * curve): sorting by the result clusters rows that are close in BOTH
    * dimensions, so parquet row-group min/max stats prune 2-D range
    * queries — the data-layout lever for scan-heavy tables. */
  def zorder2(a: Long, b: Long): Long = {
    var x = a & 0xffffffffL
    var y = b & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    y = (y | (y << 16)) & 0x0000ffff0000ffffL
    y = (y | (y << 8)) & 0x00ff00ff00ff00ffL
    y = (y | (y << 4)) & 0x0f0f0f0f0f0f0f0fL
    y = (y | (y << 2)) & 0x3333333333333333L
    y = (y | (y << 1)) & 0x5555555555555555L
    x | (y << 1)
  }

  /** Number of positions where two equal-length long arrays agree — the
    * minhash signature-agreement count behind estimated Jaccard. Lengths
    * must match: indexing UnsafeArrayData past its end reads arbitrary
    * memory and returns silently wrong counts, so fail loudly instead. */
  def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"sig_match_count: signature lengths differ (${n} vs ${b.numElements()})")
    var m = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) m += 1; i += 1 }
    m
  }

  /** Bit positions of a bloom-filter key via double hashing
    * (Kirsch–Mitzenmauer): idx_i = (h1 + i·h2) mod m, with h1/h2 the two
    * multiplicative hash streams used across graft (masked to 2^31 first,
    * so the multiplies never exceed 64 bits — the same overflow-free
    * contract as operators.Sampling.keyHash). m = 64·words, taken from
    * the bitset length, so build and probe agree by construction. */
  @inline private def bloomH1(key: Long): Long = {
    val k = ((key % 2147483648L) + 2147483648L) % 2147483648L
    (k * 2654435761L) % 4294967296L
  }
  @inline private def bloomH2(key: Long): Long = {
    val k = ((key % 2147483648L) + 2147483648L) % 2147483648L
    ((k * 1779033703L) % 4294967296L) | 1L // odd: cycles through all m positions
  }

  /** Set the key's bloom bits in a word array (build side). */
  def bloomSet(words: Array[Long], key: Long, numHashes: Int): Unit = {
    val m = words.length.toLong * 64L
    val h1 = bloomH1(key)
    val h2 = bloomH2(key)
    var i = 0
    while (i < numHashes) {
      val pos = (h1 + i * h2) % m
      words((pos >> 6).toInt) |= 1L << (pos & 63L)
      i += 1
    }
  }

  /** Probe: true iff every bloom bit of the key is set — no false
    * negatives ever; false positives at the filter's design rate. */
  def bloomContains(bits: ArrayData, key: Long, numHashes: Int): Boolean = {
    val m = bits.numElements().toLong * 64L
    val h1 = bloomH1(key)
    val h2 = bloomH2(key)
    var i = 0
    while (i < numHashes) {
      val pos = (h1 + i * h2) % m
      if ((bits.getLong((pos >> 6).toInt) & (1L << (pos & 63L))) == 0L) return false
      i += 1
    }
    true
  }

  /** Sign-random-projection LSH bucket (Charikar 2002) of a float
    * vector: quantize, project onto `planes` deterministic integer
    * hyperplanes (component(p,i) = (p·2654435761 + i·40503) mod 2001 −
    * 1000), set bit p when the projection is positive. Each element is
    * quantized once and the components come from a table built once per
    * plane count, so a call costs dims·planes multiply-adds — it runs
    * once per matched pair where a join defers it (q250). A NULL vector
    * sets no bit: bucket 0, as in Knn.lshBucketHof and the oracle SQL
    * (every projection is NULL, so none is positive).
    */
  def signLshBucket(v: ArrayData, planes: Int): Long = {
    if (v == null) return 0L
    val n = v.numElements()
    val coef = lshPlanes(planes, n)
    val proj = new Array[Long](planes)
    var i = 0
    while (i < n) {
      val q = math.floor(v.getFloat(i) * 512.0d + 0.5d).toLong
      val row = i * planes
      var p = 0
      while (p < planes) { proj(p) += q * coef(row + p); p += 1 }
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) { if (proj(p) > 0) bucket |= 1L << p; p += 1 }
    bucket
  }

  /** Hyperplane components of [[signLshBucket]], dims-major: entry
    * i·planes + p is component(p, i), which depends on (i, p) only, so
    * the table for fewer dims is a prefix of the one for more. One table
    * per plane count, grown (copied, never shrunk) to the longest vector
    * seen. */
  private val lshPlaneTables = new java.util.concurrent.atomic.AtomicReferenceArray[Array[Int]](64)

  private def lshPlanes(planes: Int, n: Int): Array[Int] = {
    val t = lshPlaneTables.get(planes)
    if (t != null && t.length >= n * planes) t
    else lshPlaneTables.updateAndGet(planes, cur =>
      if (cur != null && cur.length >= n * planes) cur
      else Array.tabulate(n * planes) { j =>
        ((j % planes * 2654435761L + j / planes * 40503L) % 2001L - 1000L).toInt
      })
  }

  /** Quantize a float vector: floor(x·512 + 0.5) per element (512 is a
    * power of two, so the scaling is exact) — one fused loop replacing
    * the interpreted transform(...) HOF. */
  def quantizeVec(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = math.floor(v.getFloat(i) * 512.0d + 0.5d).toLong; i += 1 }
    new GenericArrayData(out)
  }

  /** Index (as cluster id) of the centroid nearest a quantized long
    * vector by integer cosine: one fused loop over centroids×dims per
    * row, replacing a crossJoin×k + per-id window shuffle with a narrow
    * projection. Centroids arrive in ascending-cluster-id order, so a
    * strict `>` reproduces the (cos DESC, cluster ASC) tie-break;
    * undefined cosines (zero norm) are skipped — the NULLS LAST of the
    * window form — and an all-undefined row falls to the lowest id. */
  def nearestCentroid(qv: ArrayData, cents: Array[Array[Long]], ids: Array[Long]): Long = {
    val n = qv.numElements()
    var nq = 0L
    var i = 0
    while (i < n) { val x = qv.getLong(i); nq += x * x; i += 1 }
    var bestIdx = -1
    var bestCos = 0.0d
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length != n)
        throw new IllegalArgumentException(
          s"nearest_centroid: centroid $c has dim ${cent.length}, vector has $n")
      var dot = 0L
      var nc = 0L
      var j = 0
      while (j < n) { val y = cent(j); dot += qv.getLong(j) * y; nc += y * y; j += 1 }
      if (nq != 0L && nc != 0L) {
        val cos = dot.toDouble / math.sqrt(nq.toDouble * nc.toDouble)
        if (bestIdx < 0 || cos > bestCos) { bestIdx = c; bestCos = cos }
      }
      c += 1
    }
    if (bestIdx < 0) ids(0) else ids(bestIdx)
  }

  /** Smallest period p in [1, maxP] such that the document's LAST p
    * tokens exactly repeat the p tokens immediately before them
    * (tokens[n-2p, n-p) == tokens[n-p, n)); 0 when no period ≤ maxP
    * fits. The degenerate-generation tail detector: model-written text
    * that fell into a loop ("the the the", a repeating phrase) ends in
    * exactly this pattern, which document-level duplicate-token
    * fractions (Gopher repetition) dilute away on long texts.
    * Tokenization matches tokensOf: space-split, empty tokens dropped.
    * One pass to find at most 2·maxP token boundaries from the END, then
    * ≤ maxP byte-range comparisons — never materializes the token array,
    * so the kernel is O(suffix) regardless of document length. */
  def suffixLoopPeriod(s: UTF8String, maxP: Int): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    val need = 2 * maxP
    // token boundaries collected right-to-left: starts(0)/ends(0) is the
    // LAST token
    val starts = new Array[Int](need)
    val ends = new Array[Int](need)
    var found = 0
    var i = n - 1
    while (i >= 0 && found < need) {
      while (i >= 0 && bytes(i) == ' ') i -= 1
      if (i >= 0) {
        val end = i + 1
        while (i >= 0 && bytes(i) != ' ') i -= 1
        starts(found) = i + 1
        ends(found) = end
        found += 1
      }
    }
    var p = 1
    while (p <= maxP) {
      if (found >= 2 * p) {
        // token t of the suffix (0-based from the end) must equal token
        // t+p; comparing the two windows pairwise
        var t = 0
        var ok = true
        while (t < p && ok) {
          val aLen = ends(t) - starts(t)
          val bLen = ends(t + p) - starts(t + p)
          if (aLen != bLen) ok = false
          else {
            var j = 0
            while (j < aLen && ok) {
              if (bytes(starts(t) + j) != bytes(starts(t + p) + j)) ok = false
              j += 1
            }
          }
          t += 1
        }
        if (ok) return p
      }
      p += 1
    }
    0
  }

  /** Flat integer dot product of two quantized array<long> vectors in
    * one fused loop — the codegen replacement for the interpreted
    * `aggregate(sequence(1, n), 0L, (s, t) -> s + a[t]·b[t])` HOF
    * (q572/q589's retrieval scorer). Lengths must match — indexing
    * UnsafeArrayData past its end reads arbitrary memory (cosineQ's
    * contract), so fail loudly instead. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"long_dot: vector lengths differ ($n vs ${b.numElements()})")
    var dot = 0L
    var i = 0
    while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
    dot
  }

  /** Squared L2 distance Σ(aᵢ−bᵢ)² of two quantized array<long>
    * vectors in one fused loop — the codegen replacement for the
    * interpreted difference-square aggregate HOF (q583's kNN-Shapley
    * distance pass). Lengths must match (dotLong's contract). */
  def l2sqLong(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"l2sq_long: vector lengths differ ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); acc += d * d; i += 1 }
    acc
  }

  /** Late-interaction MaxSim over quantized array<long> vectors: split
    * both vectors into `blocks` equal sub-vectors ("token vectors",
    * ColBERT's granularity at miniature scale) and return
    * Σ_q max_d ⟨query-block q, doc-block d⟩ — each query token scored
    * by its best-matching document token. One fused blocks²·dim loop
    * per row, replacing q572/q589's three nested interpreted lambdas
    * (transform∘aggregate∘array_max∘slice), whose call sites go
    * megamorphic once a wide suite loads ~50k generated classes
    * (CausalPlanQueries q589 TIMING note). Block maxima are taken over
    * exact block dots, so the result is bit-identical to the HOF form. */
  def maxSimBlocks(q: ArrayData, v: ArrayData, blocks: Int): Long = {
    val n = q.numElements()
    if (v.numElements() != n)
      throw new IllegalArgumentException(
        s"maxsim_blocks: vector lengths differ ($n vs ${v.numElements()})")
    if (blocks < 1 || n % blocks != 0)
      throw new IllegalArgumentException(
        s"maxsim_blocks: $blocks blocks do not evenly divide dim $n")
    val dim = n / blocks
    var total = 0L
    var qb = 0
    while (qb < blocks) {
      var best = Long.MinValue
      var db = 0
      while (db < blocks) {
        var dot = 0L
        var t = 0
        while (t < dim) {
          dot += q.getLong(qb * dim + t) * v.getLong(db * dim + t)
          t += 1
        }
        if (dot > best) best = dot
        db += 1
      }
      total += best
      qb += 1
    }
    total
  }

  // ---- maximal-repeat extension kernels (SuffixDedupQueries) ----
  //
  // All three mirror Spark's own xxhash64 semantics exactly so they are
  // bit-compatible with the HOF forms they replace (KernelParitySpec):
  //   xxhash64(s: string)   = XXH64(bytes, seed 42)
  //   xxhash64(a, h: long)  = hashLong(h, hashLong(a, 42))
  // and the chain digest of a gram is fold(hs, 0L, (a, h) -> xxhash64(a, h)).

  private val XxSeed = 42L

  @inline private def xxChain(a: Long, h: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h,
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(a, XxSeed))

  /** xxhash64 of every non-empty single-space-delimited token, in one
    * byte scan — the fused form of
    * `transform(filter(split(text,' '), t -> t != ''), t -> xxhash64(t))`,
    * which tokenizes interpreted and allocates a UTF8String per token. */
  def tokenXxHashes(s: UTF8String): ArrayData = {
    val n = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new java.util.ArrayList[java.lang.Long](16)
    var start = 0
    var i = 0
    while (i <= n) {
      val boundary = i == n || (s.getByte(i) & 0xff) == ' '
      if (boundary) {
        if (i > start)
          out.add(org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(base, off + start, i - start, XxSeed))
        start = i + 1
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  /** Two-argument xxhash64 of every adjacent token pair, in one byte
    * scan — the fused form of
    * `transform(sequence(1, size(tk) - 1), i -> xxhash64(tk[i-1], tk[i]))`
    * (the q479 bigram-digest hot path). SQL's xxhash64(t1, t2) hashes
    * the children sequentially from seed 42, so the pair digest is
    * XXH64(t2bytes, XXH64(t1bytes, 42)). Empty for < 2 tokens. */
  def bigramXxHashes(s: UTF8String): ArrayData = {
    val n = s.numBytes
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // token extents first (cheap, reuses no allocation per token)
    val starts = new java.util.ArrayList[Integer](16)
    val ends = new java.util.ArrayList[Integer](16)
    var start = 0
    var i = 0
    while (i <= n) {
      val boundary = i == n || (s.getByte(i) & 0xff) == ' '
      if (boundary) {
        if (i > start) { starts.add(start); ends.add(i) }
        start = i + 1
      }
      i += 1
    }
    val nt = starts.size
    if (nt < 2) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nt - 1)
    var t = 0
    while (t < nt - 1) {
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + starts.get(t), ends.get(t) - starts.get(t), XxSeed)
      out(t) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + starts.get(t + 1), ends.get(t + 1) - starts.get(t + 1), h1)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Chained k-gram digests at every 1-based position p ∈ [1, n−k+1]:
    * element p−1 is fold(hs[p−1..p+k−2], 0L, xxChain) — the fused form
    * of `transform(sequence(1, size(hs)-k+1), i -> aggregate(slice(hs,
    * i, k), 0L, (a,h) -> xxhash64(a,h)))`. Empty when n < k. */
  def gramChainDigests(hs: ArrayData, k: Int): ArrayData = {
    require(k >= 1, s"gram_chain_digests: k must be >= 1, got $k")
    val n = hs.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var p = 0
    while (p < out.length) {
      var a = 0L
      var t = 0
      while (t < k) { a = xxChain(a, hs.getLong(p + t)); t += 1 }
      out(p) = a
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Extension digests for the candidate 1-based positions `ps`: for
    * each p, one (pos, l, dig) struct per length l ∈ [k, min(m,
    * n−p+1)], where dig chains hs[p−1..p+l−2] — the fused O(Σ lmax)
    * form of the interpreted aggregate-over-sequence HOF that rebuilt
    * a struct array by concat per step (O(M²) allocation per
    * candidate). Candidates always satisfy n−p+1 ≥ k (they carry a
    * duplicated k-gram); a shorter tail still emits the k-length row,
    * matching the HOF's CASE arm. */
  def repeatExtensions(hs: ArrayData, ps: ArrayData, k: Int, m: Int): ArrayData = {
    require(k >= 1 && m >= k, s"repeat_extensions: need 1 <= k <= m, got k=$k m=$m")
    val n = hs.numElements()
    val nc = ps.numElements()
    // exact output size so no builder resizing
    var total = 0
    var c = 0
    while (c < nc) {
      val p = ps.getLong(c).toInt
      val lmax = math.min(m, n - p + 1)
      total += math.max(1, lmax - k + 1)
      c += 1
    }
    val out = new Array[Any](total)
    var w = 0
    c = 0
    while (c < nc) {
      val p = ps.getLong(c)
      val pi = p.toInt
      val lmax = math.min(m, n - pi + 1)
      var a = 0L
      var t = 0
      while (t < math.min(k, lmax)) { a = xxChain(a, hs.getLong(pi - 1 + t)); t += 1 }
      out(w) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p, k.toLong, a))
      w += 1
      var l = k + 1
      while (l <= lmax) {
        a = xxChain(a, hs.getLong(pi + l - 2))
        out(w) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](p, l.toLong, a))
        w += 1
        l += 1
      }
      c += 1
    }
    new GenericArrayData(out)
  }
}
