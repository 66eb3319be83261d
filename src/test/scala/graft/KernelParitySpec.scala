package graft

import org.apache.spark.sql.functions._

import graft.dedup.{MinHashLSH, SimHash}
import graft.functions.expressions._
import graft.similarity.VectorOps
import graft.text.TextFunctions

/** The codegen'd kernels (graft.functions.GraftHash) must equal their
  * higher-order-function reference implementations bit-for-bit on real
  * data — the HOF forms are what the DuckDB oracle mirrors, so this is
  * the bridge that keeps the fast path inside the correctness gate. */
class KernelParitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sfDir)

  test("PolyHash kernel == HOF char fold") {
    val mismatches = docs
      .select(TextFunctions.polyHash(col("text")).as("hof"), poly_hash(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("BigramHashes kernel == HOF tokenHashes pairing") {
    val th = TextFunctions.tokenHashes(col("text"))
    val hofBigrams = transform(sequence(lit(1), size(th) - 1), i =>
      element_at(th, i) * lit(2147483648L) + element_at(th, i + lit(1)))
    val mismatches = docs
      .filter(TextFunctions.tokenCount(col("text")) >= 2)
      .select(hofBigrams.as("hof"), bigram_hashes(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("CharShingleSet kernel == HOF array_distinct(shingleHashes)") {
    for (k <- Seq(2, 5)) {
      val mismatches = docs
        .select(TextFunctions.shingleSetHof(col("text"), k).as("hof"),
          TextFunctions.shingleSet(col("text"), k).as("fast"))
        .filter(col("hof") =!= col("fast")).count()
      assert(mismatches === 0, s"k=$k")
    }
  }

  test("WordShingleSet kernel == HOF array_distinct(word shingles)") {
    for (k <- Seq(2, 3)) {
      val mismatches = docs
        .filter(TextFunctions.tokenCount(col("text")) >= k)
        .select(TextFunctions.wordShingleSetHof(col("text"), k).as("hof"),
          TextFunctions.wordShingleSet(col("text"), k).as("fast"))
        .filter(col("hof") =!= col("fast")).count()
      assert(mismatches === 0, s"k=$k")
    }
  }

  test("WordShingleSet kernel yields empty set below k tokens") {
    import spark.implicits._
    val rows = Seq("one two", "a", "").toDF("text")
      .select(TextFunctions.wordShingleSet(col("text"), 3).as("sh"))
      .collect()
    assert(rows.forall(_.getSeq[Long](0).isEmpty))
  }

  test("Fingerprint kernel == HOF dual fold") {
    val mismatches = docs
      .select(TextFunctions.fingerprint(col("text")).as("hof"), text_fingerprint(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("MinHashSignature kernel == HOF signature pipeline") {
    val cfg = MinHashLSH.Config()
    val fast = MinHashLSH.signatures(docs, "doc_id", "text", cfg)
    val hof = MinHashLSH.signaturesHof(docs, "doc_id", "text", cfg)
    assert(fast.count() === hof.count())
    val joined = fast.alias("f").join(hof.alias("h"), "doc_id")
      .filter(col("f.sig") =!= col("h.sig"))
    assert(joined.count() === 0)
  }

  test("SimHash64 kernel == aggregation pipeline") {
    val fast = SimHash.fingerprints(docs, "doc_id", "text")
    val agg = SimHash.fingerprintsByAggregation(docs, "doc_id", "text")
    val diff = fast.alias("f").join(agg.alias("a"), "doc_id")
      .filter(col("f.simhash") =!= col("a.simhash")).count()
    assert(diff === 0)
  }

  test("NGramJaccard kernel == HOF array_intersect form") {
    import graft.dedup.Dedup
    val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text").orderBy("doc_a", "doc_b")
    val hof = Dedup.ngramJaccardPairsHof(docs, "doc_id", "text").orderBy("doc_a", "doc_b")
    val f = fast.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val h = hof.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(f === h)
  }

  test("SigMatchCount kernel == HOF zip_with agreement count") {
    val cfg = MinHashLSH.Config()
    val sigs = MinHashLSH.signatures(docs, "doc_id", "text", cfg)
    val a = sigs.select(col("doc_id").as("ida"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("idb"), col("sig").as("sig_b"))
    val mismatches = a.crossJoin(b).filter(col("ida") < col("idb"))
      .select(
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _).as("hof"),
        sig_match_count(col("sig_a"), col("sig_b")).cast("long").as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("SignLshBucket kernel == HOF hyperplane pipeline") {
    import graft.similarity.Knn
    // the kernel caches one hyperplane table per plane count, grown to
    // the longest vector seen: every plane count meets the short vectors,
    // the long ones (the table grows) and the short ones again (a grown
    // table serves a prefix) in this one session, so a table read with
    // the wrong stride or length fails the parity below
    val emb = Tables.embeddings(spark, sfDir).select(col("embedding").as("v"))
    val planes = Seq(1, 8, 63)
    for (n <- Seq(17, 64, 17)) {
      // the zero and NULL vectors derive from a row, not a literal, so
      // the kernel runs in generated code rather than constant folding
      val vecs = emb.select(slice(col("v"), 1, n).as("v"))
        .unionByName(emb.limit(1).select(transform(slice(col("v"), 1, n), _ * 0.0f).as("v")))
        .unionByName(emb.limit(1).select(when(size(col("v")) < 0, slice(col("v"), 1, n)).as("v")))
      val rows = vecs.select(col("v") +: planes.flatMap(p => Seq(
        Knn.lshBucketHof(col("v"), p).as(s"hof$p"), Knn.lshBucket(col("v"), p).as(s"fast$p"))): _*)
        .collect()
      assert(rows.length === 500 + 2)
      for (r <- rows; (p, i) <- planes.zipWithIndex) {
        val (hof, fast) = (r.get(1 + 2 * i), r.get(2 + 2 * i))
        assert(hof == fast, s"planes=$p dims=$n")
        // a zero vector projects to 0 on every plane, a NULL one to NULL:
        // no bit set either way
        if (r.isNullAt(0) || r.getSeq[Float](0).forall(_ == 0.0f))
          assert(fast == 0L, s"zero or NULL vector, planes=$p")
      }
    }
  }

  test("QuantizeVec kernel == HOF transform quantize") {
    val emb = Tables.embeddings(spark, sfDir)
    val mismatches = emb.select(
      VectorOps.quantize(col("embedding")).as("hof"),
      quantize_vec(col("embedding")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("token kernels == HOF forms: tokens, counts, distinct, stopword hits") {
    import spark.implicits._
    val lexicon = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
    val edge = Seq("", " ", "  a  b ", "the the the", "x", "a  b", " leading",
      "trailing ").toDF("text")
    for (d <- Seq(docs.select("text"), edge)) {
      val mismatches = d.select(
        TextFunctions.tokensHof(col("text")).as("t_hof"),
        tokens_native(col("text")).as("t_fast"),
        size(TextFunctions.tokensHof(col("text"))).as("n_hof"),
        token_count(col("text")).as("n_fast"),
        size(array_distinct(TextFunctions.tokensHof(col("text")))).as("d_hof"),
        distinct_token_count(col("text")).as("d_fast"),
        graft.text.TextAnalysis.stopwordHits(
          TextFunctions.tokensHof(col("text")), lexicon).as("s_hof"),
        stopword_hits(col("text"), lexicon).as("s_fast"))
        .filter(col("t_hof") =!= col("t_fast") || col("n_hof") =!= col("n_fast") ||
          col("d_hof") =!= col("d_fast") || col("s_hof") =!= col("s_fast"))
        .count()
      assert(mismatches === 0)
    }
  }

  test("degenerate inputs: zero vectors, gram-less strings, token-less docs") {
    import spark.implicits._
    // zero-quantized vectors → null cosine (kernel, HOF, and oracle agree)
    val z = Seq((0L, Array(0.0001f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val cos = z.filter(col("vec_id") === 0).crossJoin(z.filter(col("vec_id") === 1).select(col("embedding").as("e2")))
      .select(quantized_cosine(col("embedding"), col("e2")).as("fast"),
        VectorOps.cosineQ(VectorOps.quantize(col("embedding")), VectorOps.quantize(col("e2"))).as("hof"))
      .collect().head
    assert(cos.isNullAt(0) && cos.isNullAt(1))
    // strings shorter than n → null jaccard, not NaN
    val jac = Seq(("ab", "xy")).toDF("a", "b")
      .select(ngram_jaccard(col("a"), col("b"), 3)).collect().head
    assert(jac.isNullAt(0))
    // token-less documents drop out of simhash fingerprints
    val docs = Seq((1L, "   "), (2L, "real text here")).toDF("doc_id", "text")
    assert(SimHash.fingerprints(docs, "doc_id", "text").select("doc_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("NGramContainment kernel == HOF intersect/|A| form; directionality") {
    import spark.implicits._
    import graft.functions.expressions.ngram_containment
    import graft.text.TextFunctions.ngramSet
    // excerpt ⊂ host: full containment one way, partial the other
    val df = Seq(("the quick brown fox", "we saw the quick brown fox jump today"))
      .toDF("a", "b")
    val row = df.select(
      ngram_containment(col("a"), col("b"), 3).as("ab"),
      ngram_containment(col("b"), col("a"), 3).as("ba")).collect().head
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) < 1.0 && row.getDouble(1) > 0.0)
    // bit-parity with the HOF spec on real documents
    val docs = Tables.documents(spark, sfDir).limit(80)
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("t_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("t_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b")).limit(2000)
    val hof = size(array_intersect(ngramSet(col("t_a"), 3), ngramSet(col("t_b"), 3)))
      .cast("double") / size(ngramSet(col("t_a"), 3))
    val diff = pairs.select(hof.as("hof"), ngram_containment(col("t_a"), col("t_b"), 3).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(diff === 0)
  }

  test("sig_match_count fails loudly on mismatched signature lengths") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val thrown = intercept[Throwable] {
      df.select(graft.functions.expressions.sig_match_count(col("a"), col("b"))).collect()
    }
    // unwrap SparkException layers to the kernel's own error
    val messages = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("signature lengths differ"), s"got: $messages")
  }

  test("quantized_cosine fails loudly on mismatched vector lengths") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val thrown = intercept[Throwable] {
      df.select(quantized_cosine(col("a"), col("b"))).collect()
    }
    val messages = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("vector lengths differ"), s"got: $messages")
  }

  test("QuantizedCosine kernel == HOF quantize∘cosine") {
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b")).limit(5000)
    val diff = pairs.select(
      VectorOps.cosineQ(VectorOps.quantize(col("v_a")), VectorOps.quantize(col("v_b"))).as("hof"),
      quantized_cosine(col("v_a"), col("v_b")).as("fast"))
      .filter(col("hof") =!= col("fast")).count() // bitwise double equality
    assert(diff === 0)
  }

  test("BootstrapMoments aggregate == HOF weight-vector reference") {
    // the declarative reference: per-row B-long Poisson weight vectors
    // (the form the DuckDB oracle mirrors via generate_series), reduced
    // by vector_sum — must equal the fused native aggregate exactly
    val B = 16
    val rows = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        graft.functions.Deterministic.cents(col("o_totalprice")).as("v"))
    val wCase = s"""transform(
        transform(sequence(1, $B),
          b -> pmod(pmod(pmod(o_orderkey, 2147483648) + 1103515245*b, 2147483648)
                    * 2654435761, 4294967296)),
        h -> CASE WHEN h < 1580030168 THEN 0L WHEN h < 3160060337 THEN 1L
                  WHEN h < 3950075421 THEN 2L WHEN h < 4213413783 THEN 3L
                  WHEN h < 4279248373 THEN 4L WHEN h < 4292415291 THEN 5L
                  ELSE 6L END)"""
    val hof = rows
      .withColumn("w", expr(wCase))
      .withColumn("wx", expr("transform(w, x -> x * v)"))
      .agg(graft.functions.VectorAggregates.vector_sum(col("w"), B).as("sw"),
        graft.functions.VectorAggregates.vector_sum(col("wx"), B).as("swx"))
      .select(expr("concat(sw, swx)").as("ref"))
    val fast = rows
      .agg(graft.functions.VectorAggregates
        .bootstrap_moments(col("o_orderkey"), col("v"), B).as("bm"))
    assert(hof.head().getSeq[Long](0) === fast.head().getSeq[Long](0))
  }

  test("SuffixLoopPeriod kernel == HOF list-slice comparisons") {
    // the HOF form mirrors the DuckDB oracle of q478: smallest p ≤ 3
    // with slice(tk, n-p+1, p) == slice(tk, n-2p+1, p)
    val tk = expr("filter(split(text, ' '), t -> t != '')")
    def eq(p: Int) =
      expr(s"size(tk) >= ${2 * p} AND " +
        s"slice(tk, size(tk) - ${p - 1}, $p) = slice(tk, size(tk) - ${2 * p - 1}, $p)")
    val hof = when(eq(1), 1).when(eq(2), 2).when(eq(3), 3).otherwise(0)
    val mismatches = docs
      .select(col("text"), tk.as("tk"))
      .select(hof.as("hof"), suffix_loop_period(col("text"), 3).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("SuffixLoopPeriod detects constructed loop tails") {
    import spark.implicits._
    val rows = Seq(
      ("a b c the the", 1),        // single-token loop
      ("x y a b a b", 2),          // phrase loop, period 2
      ("p q r s t u r s t u", 0),  // period 4 > maxP → undetected
      ("one two three", 0),        // no loop
      ("go go", 1),                // whole doc is the loop
      ("", 0))                     // empty
      .toDF("text", "want")
      .select(suffix_loop_period(col("text"), 3).as("got"), col("want"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("LongDot / L2SqLong / MaxSimBlocks kernels == interpreted HOF forms") {
    // the HOF strings are the exact expressions the kernels replaced in
    // q572/q589 (dot, maxsim) and q583 (squared L2) — and what the
    // DuckDB oracles still mirror, so parity here keeps the promoted
    // fast path inside the correctness gate
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))")
          .as("v"))
    val probes = emb.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("pid"), col("v").as("pv"))
    val pairs = emb.crossJoin(broadcast(probes))
    val mismatches = pairs.select(
        expr("""aggregate(sequence(1, 64), 0L, (s, t) -> s +
            element_at(pv, t) * element_at(v, t))""").as("dot_hof"),
        long_dot(col("pv"), col("v")).as("dot_fast"),
        expr("""aggregate(sequence(1, 64), 0L, (acc, t) -> acc +
            (element_at(v, t) - element_at(pv, t))
          * (element_at(v, t) - element_at(pv, t)))""").as("l2_hof"),
        l2sq_long(col("v"), col("pv")).as("l2_fast"),
        expr("""aggregate(sequence(0, 3), 0L, (acc, j) -> acc +
            array_max(slice(transform(sequence(0, 15), p ->
              aggregate(sequence(1, 16), 0L, (s, t) -> s +
                element_at(pv, CAST((p div 4) * 16 + t AS INT))
                * element_at(v, (p % 4) * 16 + t))), j * 4 + 1, 4)))""")
          .as("ms_hof"),
        maxsim_blocks(col("pv"), col("v"), 4).as("ms_fast"))
      .filter(col("dot_hof") =!= col("dot_fast") ||
        col("l2_hof") =!= col("l2_fast") ||
        col("ms_hof") =!= col("ms_fast"))
      .count()
    assert(mismatches === 0)
  }

  test("LongDot / L2SqLong / MaxSimBlocks fail loudly on bad shapes") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L))).toDF("a", "b")
    for (c <- Seq(long_dot(col("a"), col("b")), l2sq_long(col("a"), col("b")),
        maxsim_blocks(col("a"), col("b"), 2))) {
      val e = intercept[Exception] { df.select(c).collect() }
      assert(e.getMessage != null)
    }
    // blocks must divide the dimension — caught per row with a clear
    // message, never a silent partial read
    val sq = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
    val e2 = intercept[Exception] {
      sq.select(maxsim_blocks(col("a"), col("b"), 2)).collect()
    }
    assert(e2.getMessage != null)
    // build-time guard on a nonsensical block count
    assertThrows[IllegalArgumentException] {
      maxsim_blocks(lit(1L), lit(1L), 0)
    }
  }

  test("LongDot / L2SqLong / MaxSimBlocks reject wrong TYPES at analysis time") {
    import spark.implicits._
    // round-8 advice: misuse on strings / array<int> must be an
    // ANALYSIS error (checkInputDataTypes), not a per-row
    // ClassCastException mid-job
    val strings = Seq(("ab", "cd")).toDF("a", "b")
    val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    for {
      df <- Seq(strings, ints)
      c <- Seq(long_dot(col("a"), col("b")), l2sq_long(col("a"), col("b")),
        maxsim_blocks(col("a"), col("b"), 2))
    } {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(c).queryExecution.analyzed
      }
      assert(e.getMessage.contains("array<bigint>"),
        s"expected the kernel's type message, got: ${e.getMessage}")
    }
  }

  test("TokenXxHashes kernel == HOF transform(tokens, xxhash64)") {
    val mismatches = docs
      .select(
        expr("transform(filter(split(text, ' '), t -> t != ''), t -> xxhash64(t))").as("hof"),
        token_xxhashes(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("BigramXxHashes kernel == HOF xxhash64(tk[i-1], tk[i]) pairing") {
    val mismatches = docs
      .select(col("text"),
        expr("filter(split(text, ' '), t -> t != '')").as("tk"))
      .select(
        when(size(col("tk")) >= 2, expr(
          "transform(sequence(1, size(tk) - 1), i -> xxhash64(tk[i - 1], tk[i]))"))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")).as("hof"),
        bigram_xxhashes(col("text")).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
    import spark.implicits._
    val edge = Seq("", "solo", "  two  tokens  ").toDF("text")
      .select(bigram_xxhashes(col("text")).as("h"))
      .collect().map(_.getSeq[Long](0).length)
    assert(edge.toSeq === Seq(0, 0, 1))
  }

  test("GramChainDigests kernel == HOF per-position aggregate chain") {
    for (k <- Seq(2, 8)) {
      val mismatches = docs
        .select(token_xxhashes(col("text")).as("hs"))
        .filter(size(col("hs")) >= k)
        .select(
          expr(s"""transform(sequence(1, size(hs) - ${k - 1}),
                     i -> aggregate(slice(hs, i, $k), CAST(0 AS BIGINT),
                       (a, h) -> xxhash64(a, h)))""").as("hof"),
          gram_chain_digests(col("hs"), k).as("fast"))
        .filter(col("hof") =!= col("fast")).count()
      assert(mismatches === 0, s"k=$k")
    }
  }

  test("RepeatExtensions kernel == the interpreted extension-fold HOF " +
    "(the r13 SuffixDedup hot path, bit-for-bit)") {
    val K = 8; val M = 24
    def chainK(p: String) =
      s"aggregate(slice(hs, $p, $K), CAST(0 AS BIGINT), (a, h) -> xxhash64(a, h))"
    def extAt(pos: String) =
      s"""CASE WHEN least($M, size(hs) - CAST($pos AS INT) + 1) <= $K
            THEN array(named_struct('pos', $pos, 'l', CAST($K AS BIGINT),
                                    'dig', ${chainK(s"CAST($pos AS INT)")}))
            ELSE aggregate(
              sequence($K + 1, least($M, size(hs) - CAST($pos AS INT) + 1)),
              named_struct(
                'd', ${chainK(s"CAST($pos AS INT)")},
                'out', array(named_struct('pos', $pos, 'l', CAST($K AS BIGINT),
                                          'dig', ${chainK(s"CAST($pos AS INT)")}))),
              (st, L) -> named_struct(
                'd', xxhash64(st.d, element_at(hs, CAST($pos AS INT) + L - 1)),
                'out', concat(st.out, array(named_struct('pos', $pos,
                  'l', CAST(L AS BIGINT),
                  'dig', xxhash64(st.d, element_at(hs, CAST($pos AS INT) + L - 1)))))),
              st -> st.out)
          END"""
    // every position of every doc is a "candidate" here — a superset of
    // what SuffixDedupQueries feeds the kernel, including tails where
    // lmax < K (the CASE's first arm)
    val mismatches = docs
      .select(token_xxhashes(col("text")).as("hs"))
      .filter(size(col("hs")) >= K)
      .select(col("hs"),
        expr(s"transform(sequence(1, size(hs) - ${K - 1}), i -> CAST(i AS BIGINT))")
          .as("ps"))
      .select(
        expr(s"flatten(transform(ps, p -> ${extAt("p")}))").as("hof"),
        repeat_extensions(col("hs"), col("ps"), K, M).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches === 0)
  }

  test("kernel constants outside the method's range fail at column construction and at " +
    "SQL resolution") {
    // each bound is the one the GraftHash method enforces per row
    val cases = Seq[(String, () => org.apache.spark.sql.Column)](
      "graft_char_shingles(text, 6)" -> (() => char_shingle_set(col("text"), 6)),
      "graft_word_shingles(text, 8)" -> (() => word_shingle_set(col("text"), 8)),
      "graft_minhash(text, 16, 8)" -> (() => minhash_signature(col("text"), 16, 8)))
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("bound_docs")
    for ((call, build) <- cases) {
      assertThrows[IllegalArgumentException](build())
      val e = intercept[Exception] {
        spark.sql(s"SELECT $call FROM bound_docs").queryExecution.analyzed
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[IllegalArgumentException]), s"$call: got $causes")
    }
  }

  test("every kernel evaluates the same interpreted as in generated code") {
    // every 7th document and vector is NULL, and the short prefixes and
    // zero vectors make the null-returning methods return null; all inputs
    // come from parquet scans, so no kernel is constant-folded during planning
    val text = when(col("doc_id") % 7 =!= 0, col("text"))
    val vec = when(col("vec_id") % 7 =!= 0, col("embedding"))
    val centroids = Array.tabulate(3, 64)((c, i) => ((c + 1) * (i % 5) - 2).toLong)
    val lexicon = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
    def kernels(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      docs.select(col("doc_id"), text.as("t"), col("n_chars"),
          token_xxhashes(text).as("hs"))
        .select(col("doc_id"), poly_hash(col("t")), text_fingerprint(col("t")),
          minhash_signature(col("t"), 16, 3), simhash64(col("t"), 30),
          minhash_signature(substring(col("t"), 1, 6), 16, 3),
          ngram_jaccard(col("t"), substring(col("t"), 1, 40), 3),
          ngram_jaccard(substring(col("t"), 1, 2), substring(col("t"), 2, 1), 3),
          ngram_containment(substring(col("t"), 1, 40), col("t"), 3),
          sig_match_count(minhash_signature(col("t"), 16, 3),
            minhash_signature(substring(col("t"), 1, 200), 16, 3)),
          bloom_contains(lit(Array(0x5555555555555555L, -1L)), col("doc_id"), 3),
          zorder_key(col("doc_id"), col("n_chars")), tokens_native(col("t")),
          char_shingle_set(col("t"), 5), word_shingle_set(col("t"), 3),
          token_count(col("t")), bigram_hashes(col("t")), distinct_token_count(col("t")),
          stopword_hits(col("t"), lexicon), suffix_loop_period(col("t"), 3), col("hs"),
          bigram_xxhashes(col("t")), gram_chain_digests(col("hs"), 2),
          when(size(col("hs")) >= 2, repeat_extensions(col("hs"),
            expr("transform(sequence(1, size(hs) - 1), i -> CAST(i AS BIGINT))"), 2, 4)))
        .orderBy("doc_id"),
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), vec.as("v"), reverse(vec).as("w"), quantize_vec(vec).as("q"))
        .select(col("vec_id"), col("q"), quantized_cosine(col("v"), col("w")),
          quantized_cosine(col("v"), transform(col("v"), _ * 0.0f)),
          nearest_centroid(col("q"), centroids, Array(10L, 20L, 30L)),
          sign_lsh_bucket(col("v"), 8), long_dot(col("q"), reverse(col("q"))),
          l2sq_long(col("q"), reverse(col("q"))), maxsim_blocks(col("q"), reverse(col("q")), 4))
        .orderBy("vec_id"))
      .map(_.collect().toSeq)
    val generated = kernels()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted = try {
      import org.apache.spark.sql.catalyst.expressions.{InterpretedUnsafeProjection, Literal, UnsafeProjection}
      assert(UnsafeProjection.create(Seq(Literal(1))).isInstanceOf[InterpretedUnsafeProjection])
      kernels()
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    assert(generated.forall(_.nonEmpty))
    assert(interpreted.map(_.length) === generated.map(_.length))
    for ((g, i) <- generated.zip(interpreted); (a, b) <- g.zip(i)) assert(a === b)
  }

  test("BootstrapMoments skips null keys and values") {
    import spark.implicits._
    val df = Seq((Some(1L), Some(10L)), (None, Some(5L)), (Some(2L), None))
      .toDF("k", "v")
    val bm = df.agg(graft.functions.VectorAggregates
      .bootstrap_moments(col("k"), col("v"), 4).as("bm"))
      .head().getSeq[Long](0)
    val only = df.filter(col("k").isNotNull && col("v").isNotNull)
      .agg(graft.functions.VectorAggregates
        .bootstrap_moments(col("k"), col("v"), 4).as("bm"))
      .head().getSeq[Long](0)
    assert(bm === only)
  }
}
