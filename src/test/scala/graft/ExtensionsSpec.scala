package graft

import org.apache.spark.sql.SparkSession

/** graft's kernels as SQL functions — programmatic registration and the
  * spark.sql.extensions session path. */
class ExtensionsSpec extends SparkSpec {

  test("GraftFunctions.register makes every kernel callable from SQL") {
    GraftFunctions.register(spark)
    Tables.documents(spark, "/root/testdata/sf0.001").createOrReplaceTempView("ext_docs")
    val row = spark.sql("""
      SELECT graft_poly_hash(text) AS ph,
             graft_fingerprint(text) AS fp,
             graft_token_count(text) AS tc,
             graft_distinct_token_count(text) AS dtc,
             graft_simhash(text, 30) AS sh,
             size(graft_minhash(text, 16, 3)) AS mh,
             graft_ngram_jaccard(text, text, 3) AS jac,
             graft_token_count('a b  c ') AS lit_tc,
             graft_zorder(3, 5) AS z,
             graft_ngram_containment(substr(text, 1, 20), text, 3) AS cont,
             graft_sig_match_count(graft_minhash(text, 16, 3), graft_minhash(text, 16, 3)) AS smc,
             graft_bloom_contains(array(0L, 0L), doc_id, 3) AS bc
      FROM ext_docs ORDER BY doc_id LIMIT 1
    """).head()
    assert(row.getDouble(row.fieldIndex("jac")) === 1.0) // self-similarity
    assert(row.getInt(row.fieldIndex("mh")) === 16)
    assert(row.getInt(row.fieldIndex("lit_tc")) === 3)
    assert(row.getLong(row.fieldIndex("z")) === 39L)
    assert(row.getDouble(row.fieldIndex("cont")) === 1.0) // prefix ⊂ full text
    assert(row.getInt(row.fieldIndex("smc")) === 16) // identical signatures
    assert(!row.getBoolean(row.fieldIndex("bc"))) // empty bitset contains nothing
    // aggregate + newest scalars registered too
    val agg = spark.sql("""
      SELECT graft_sketch_quantile(n_chars, 0.5) AS med,
             size(graft_char_shingles(first(text), 5)) AS shn
      FROM ext_docs
    """).head()
    assert(agg.getSeq[Long](0).length === 1)
    assert(agg.getSeq[Long](0).head > 0)
    assert(agg.getInt(1) > 0)
    // round-8 vector kernels: dot with itself == ||v||², self-L2 == 0,
    // self-MaxSim == Σ_q max_d ⟨block q, block d⟩ (NOT the flat dot:
    // with monotone values every query block's best match is the
    // largest doc block, so MaxSim(v, v) ≥ dot(v, v))
    val vec = spark.sql("""
      SELECT graft_long_dot(v, v) AS dd, graft_l2sq(v, v) AS zz,
             graft_maxsim(v, v, 4) AS ms
      FROM (SELECT sequence(1L, 64L) AS v)
    """).head()
    assert(vec.getLong(0) === (1L to 64L).map(x => x * x).sum)
    assert(vec.getLong(1) === 0L)
    val blocks = (0 until 4).map(q => (1L to 16L).map(t => 16L * q + t))
    val expectedMs = blocks.map(bq =>
      blocks.map(bd => bq.zip(bd).map { case (a, b) => a * b }.sum).max).sum
    assert(vec.getLong(2) === expectedMs)
    assert(vec.getLong(2) >= vec.getLong(0))
    // kernel-vs-column-API agreement on the same data
    import org.apache.spark.sql.functions._
    val viaColumns = Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy("doc_id").limit(1)
      .select(graft.functions.expressions.poly_hash(col("text"))).head().getLong(0)
    assert(row.getLong(row.fieldIndex("ph")) === viaColumns)
  }

  test("bad kernel parameters fail at expression build, not per row") {
    // the r5 advice class: graft_suffix_loop_period(text, -1) used to
    // throw NegativeArraySizeException PER ROW at execution; every
    // parametered kernel now validates at build time with a named error
    val cases = Seq(
      "graft_suffix_loop_period(text, -1)" -> "maxP",
      "graft_minhash(text, 0, 5)" -> "numHashes",
      "graft_minhash(text, 16, 0)" -> "shingleK",
      "graft_simhash(text, 65)" -> "bits",
      "graft_simhash(text, 0)" -> "bits",
      "graft_ngram_jaccard(text, text, 9)" -> "n must be in [1, 8]",
      "graft_ngram_jaccard(text, text, 0)" -> "n must be in [1, 8]",
      "graft_lsh_bucket(CAST(array(1.0) AS ARRAY<FLOAT>), 64)" -> "planes",
      "graft_char_shingles(text, 0)" -> "k must be",
      "graft_word_shingles(text, -3)" -> "k must be",
      "graft_maxsim(array(1L), array(1L), 0)" -> "blocks")
    for ((exprSql, needle) <- cases) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $exprSql FROM ext_docs").queryExecution.analyzed
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(needle)),
        s"$exprSql should fail mentioning '$needle', got: ${messages(e)}")
    }
  }

  test("a BIGINT literal outside the int range fails, not narrowed to its low 32 bits") {
    GraftFunctions.register(spark)
    // 4294967312 = 2^32 + 16: narrowed with toInt it ran as numHashes = 16
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash('a b c d', 4294967312, 3)").queryExecution.analyzed
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("numHashes must fit an int")), messages(e))
    assert(spark.sql("SELECT size(graft_minhash('a b c d', 16L, 3))").head().getInt(0) === 16)
  }

  test("a session built with GraftExtensions has the functions pre-registered") {
    spark.sparkContext // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val got = s2.sql("SELECT graft_token_count('x y z w') AS n").head().getInt(0)
      assert(got === 4)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
