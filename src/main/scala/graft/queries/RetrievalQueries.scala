package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.expressions.tokens_native
import graft.queries.SqlMacros._

/** Round-4 retrieval/testing operators: BM25 document ranking with
  * dyadic-quantized IDF, Benjamini–Hochberg FDR control over per-brand
  * chi-square tests, and KMV-sketch set-difference/containment between
  * sources — IR scoring, multiple-testing control and sketch algebra,
  * deterministic for the oracle gate.
  */
object RetrievalQueries extends QueryGroup {

  /** Integer floor-log2 of a ratio num/den (both positive), clamped at 0
    * — the engine-portable IDF quantizer (libm log has engine-specific
    * final-ulp rounding; 30 exact integer comparisons do not). */
  private def log2Ratio(num: String, den: String): String =
    "CASE " + (30 to 1 by -1).map(k =>
      s"WHEN $num >= $den * ${1L << k} THEN $k").mkString(" ") + " ELSE 0 END"

  // ---------------------------------------------------------------- q416

  /** BM25 ranking (k1 = 1.2, b = 0.75) of every document against the
    * corpus's three mid-frequency query terms (document frequency
    * closest to N/10 — selective enough for a positive IDF, common
    * enough to hit many docs): the standard probabilistic IR score — the
    * length-normalized saturation term is cleared of fractions by
    * multiplying through by 10·total_tokens, and IDF is quantized to
    * floor-log2 of the Robertson ratio (q44's TF-IDF and q283's
    * saturation stop short of the real thing).
    *
    * Scale shape: postings for the THREE broadcast query terms only
    * ever leave the scan; corpus constants (N docs, total tokens) are a
    * one-row broadcast; products stay ≤ 2.2·10⁴·tf·A — 64-bit safe to
    * ~10¹³ corpus tokens, decimals beyond. */
  private val q416 = QueryDef(
    "q416_bm25_ranking",
    (spark, dir) => {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), tokens_native(col("text")).as("tk"))
      val docs = toks.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
      val posts = toks.select(col("doc_id"), explode(col("tk")).as("term"))
      val stats = docs.agg(count(lit(1)).as("nn"), sum(col("dl")).as("aa"))
      val terms = posts.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(stats.select(col("nn"))))
        // the three terms with df closest to N/10: selective enough for a
        // positive dyadic IDF, common enough to rank many docs
        .orderBy(abs(col("df") * 10 - col("nn")), col("term"))
        .limit(3)
        .select(col("term"), col("df"))
      val tf = posts.join(broadcast(terms), Seq("term"))
        .groupBy(col("doc_id"), col("term"), col("df"))
        .agg(count(lit(1)).as("tf"))
      tf.join(docs, Seq("doc_id")).crossJoin(broadcast(stats))
        .withColumn("idf_q",
          expr(log2Ratio("(2 * nn - 2 * df + 1)", "(2 * df + 1)")).cast("long"))
        .withColumn("sat_x1000",
          expr("22000 * tf * aa div (10 * tf * aa + 3 * aa + 9 * dl * nn)"))
        .groupBy(col("doc_id"))
        .agg(sum(expr("idf_q * sat_x1000")).as("score_q"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_q").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents),
      docs AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
      posts AS (SELECT doc_id, unnest(tk) AS term FROM tk),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(dl) AS BIGINT) AS aa
        FROM docs),
      terms AS (
        SELECT term, df FROM (
          SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM posts GROUP BY term) t CROSS JOIN stats
        ORDER BY abs(df * 10 - nn), term
        LIMIT 3),
      tf AS (
        SELECT p.doc_id, p.term, t.df, CAST(count(*) AS BIGINT) AS tf
        FROM posts p JOIN terms t USING (term)
        GROUP BY p.doc_id, p.term, t.df),
      scored AS (
        SELECT f.doc_id,
          CAST(${log2Ratio("(2 * s.nn - 2 * f.df + 1)", "(2 * f.df + 1)")} AS BIGINT)
            AS idf_q,
          22000 * f.tf * s.aa // (10 * f.tf * s.aa + 3 * s.aa + 9 * d.dl * s.nn)
            AS sat_x1000
        FROM tf f JOIN docs d USING (doc_id) CROSS JOIN stats s)
      SELECT doc_id, CAST(sum(idf_q * sat_x1000) AS BIGINT) AS score_q,
        CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM scored GROUP BY doc_id
      ORDER BY score_q DESC, doc_id
      LIMIT 10
    """))

  /** Each brand's 2×2 return-rate table against the rest of the
    * corpus, (p_brand, a, b, ta, tb, c, d), with its exact χ² statistic
    * `stat_ppm` = N·(ad−bc)²·10⁶ / ((a+b)(c+d)(a+c)(b+d)): one lineitem
    * scan folds to 25 brand cells, the totals are a one-row broadcast.
    * The multiple-testing queries (q417 BH, q628 BY vs BH, q664 Holm)
    * rank it. */
  private[queries] def brandChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val cells = li.groupBy(col("p_brand"))
      .agg(sum(col("y")).as("a"), sum(lit(1L) - col("y")).as("b"))
    val tot = cells.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    cells.crossJoin(broadcast(tot))
      .withColumn("c", col("ta") - col("a"))
      .withColumn("d", col("tb") - col("b"))
      // N·(ad−bc)²·10⁶ / ((a+b)(c+d)(a+c)(b+d)), exact in decimal(38,0)
      .withColumn("stat_ppm", expr("""
        CAST(CAST((ta + tb) AS DECIMAL(38,0))
          * (CAST(a * d - b * c AS DECIMAL(38,0)) * (a * d - b * c))
          * 1000000
        div (CAST((a + b) * (c + d) AS DECIMAL(38,0)) * (a + c) * (b + d))
        AS BIGINT)"""))
  }

  // ---------------------------------------------------------------- q417

  /** chi2(1) icdf(1 − 0.05·k/25) in ppm, k = 1..25 (precomputed from the
    * standard normal quantile; public constants). */
  private val bhPpm = Seq(9549535L, 8283814L, 7550302L, 7033474L, 6634896L,
    6310869L, 6038143L, 5802874L, 5596149L, 5411894L, 5245785L,
    5094632L, 4956018L, 4828067L, 4709292L, 4598496L, 4494703L,
    4397104L, 4305022L, 4217884L, 4135204L, 4056561L, 3981594L,
    3909985L, 3841458L)

  /** Benjamini–Hochberg FDR control (α = 0.05) over 25 simultaneous
    * hypotheses: each brand's 2×2 chi-square for "return rate differs
    * from the rest", with the step-up rule applied on EXACT integer
    * statistics — stat·10⁶ is one big-integer expression, and the χ²₁
    * critical values for every k/m level are embedded ppm constants
    * (public quantiles, precomputed once), so no CDF is ever evaluated
    * in-engine. The multiple-testing gate q119's single test lacks.
    *
    * Scale shape: one fact scan folds to 25 (brand, a, b) rows; totals
    * are a one-row broadcast; ranking/step-up run on the 25-row table.
    * The (ad−bc)² product is exact in decimal(38,0)/hugeint — good to
    * ~10⁹ rows per cell, normalized counts beyond. */
  private val q417 = QueryDef(
    "q417_bh_fdr_control",
    (spark, dir) => {
      val th = spark.range(1, 26).select(col("id").as("rk"),
        element_at(array(bhPpm.map(lit): _*), col("id").cast("int")).as("t_ppm"))
      val stats = brandChiSquare(spark, dir)
        .withColumn("rate_ppm", expr("a * 1000000 div (a + b)"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("stat_ppm").desc, col("p_brand"))))
        .join(broadcast(th), Seq("rk"))
      val kmax = stats
        .agg(coalesce(max(when(col("stat_ppm") >= col("t_ppm"), col("rk"))),
          lit(0L)).as("k_max"))
      stats.crossJoin(broadcast(kmax))
        .select(col("p_brand"), col("rate_ppm"), col("stat_ppm"),
          col("rk").cast("long").as("rank"), col("t_ppm"),
          when(col("rk") <= col("k_max"), 1L).otherwise(0L).as("rejected"))
        .orderBy(col("rank"))
    },
    Some {
      val values = bhPpm.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, ${t})" }.mkString(", ")
      s"""
      WITH th(rk, t_ppm) AS (VALUES $values),
      li AS (
        SELECT p.p_brand,
          CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      cells AS (
        SELECT p_brand, CAST(sum(y) AS BIGINT) AS a,
          CAST(sum(1 - y) AS BIGINT) AS b
        FROM li GROUP BY p_brand),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
        FROM cells),
      stats AS (
        SELECT p_brand, a, b, ta - a AS c, tb - b AS d, ta, tb,
          CAST(CAST(ta + tb AS HUGEINT)
              * (CAST(a * d - b * c AS HUGEINT) * (a * d - b * c))
              * 1000000
            // (CAST((a + b) * (c + d) AS HUGEINT) * (a + c) * (b + d))
            AS BIGINT) AS stat_ppm,
          a * 1000000 // (a + b) AS rate_ppm
        FROM cells CROSS JOIN tot),
      ranked AS (
        SELECT s2.*, t.t_ppm FROM (
          SELECT s.*, row_number() OVER (ORDER BY s.stat_ppm DESC, s.p_brand) AS rk
          FROM stats s) s2
        JOIN th t ON t.rk = s2.rk),
      km AS (
        SELECT coalesce(max(CASE WHEN stat_ppm >= t_ppm THEN rk END), 0) AS k_max
        FROM ranked)
      SELECT p_brand, CAST(rate_ppm AS BIGINT) AS rate_ppm, stat_ppm,
        CAST(rk AS BIGINT) AS rank, CAST(t_ppm AS BIGINT) AS t_ppm,
        CAST(CASE WHEN rk <= k_max THEN 1 ELSE 0 END AS BIGINT) AS rejected
      FROM ranked CROSS JOIN km
      ORDER BY rank
    """
    })

  // ---------------------------------------------------------------- q418

  /** KMV sketch set algebra, directional: for every ordered source pair
    * (a, b), the estimated distinct bigrams of a, of a∖b (union minus
    * b), and the CONTAINMENT a∩b / a — the asymmetric "is a a mirror or
    * subset of b" signal that q239's symmetric intersection cannot give
    * — each audited against the exact answer in ppm. Sketch algebra
    * means the sources never join on raw grams: only 64-hash sketches
    * meet.
    *
    * Scale shape: one pass builds a 64-value bottom-k sketch per source
    * (mergeable partials); the pair table is |sources|² sketch rows; the
    * exact audit joins on the 32-bit hash key, not the strings. */
  private val q418 = QueryDef(
    "q418_kmv_containment",
    (spark, dir) => {
      import graft.functions.KmvSketch.{kmv_bottom_k, kmv_estimate}
      val dh = CorpusQueries.bigramHashes(spark, dir).distinct()
      val sk = dh.groupBy(col("source"))
        .agg(kmv_bottom_k(col("h"), 64).as("sketch"))
      val pairs = sk.select(col("source").as("src_a"), col("sketch").as("ska"))
        .join(broadcast(sk.select(col("source").as("src_b"), col("sketch").as("skb"))),
          col("src_a") =!= col("src_b"))
        .withColumn("sku", expr("slice(array_sort(array_distinct(concat(ska, skb))), 1, 64)"))
        .withColumn("est_a", kmv_estimate("ska", 64))
        .withColumn("est_b", kmv_estimate("skb", 64))
        .withColumn("est_u", kmv_estimate("sku", 64))
        .select(col("src_a"), col("src_b"), col("est_a"),
          greatest(lit(0L), col("est_u") - col("est_b")).as("est_diff"),
          expr("""greatest(0, est_a + est_b - est_u) * 1000000
                  div greatest(est_a, 1)""").as("est_containment_ppm"))
      val exact = dh.select(col("source").as("src_a"), col("h"))
        .join(dh.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val sizes = dh.groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("exact_a"))
      pairs.join(exact, Seq("src_a", "src_b"), "left")
        .join(sizes, Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("est_a"), col("est_diff"),
          col("est_containment_ppm"),
          expr("""coalesce(exact_inter, 0) * 1000000
                  div exact_a""").as("exact_containment_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      bg AS (
        SELECT source,
          unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]) AS bg
        FROM tk WHERE len(tk) >= 2),
      ph AS (
        SELECT source,
          ${duckPolyHashOf("bg")} AS p
        FROM bg),
      dh AS (
        SELECT DISTINCT source, ((p % 2147483648) * 2654435761) % 4294967296 AS h
        FROM ph),
      r AS (
        SELECT source, h,
          CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rk
        FROM dh),
      sk AS (
        SELECT source, list_sort(list(h ORDER BY h)) AS sketch
        FROM r WHERE rk <= 64 GROUP BY source),
      est1 AS (
        SELECT source, sketch,
          CAST(CASE WHEN len(sketch) < 64 THEN len(sketch)
                    ELSE 63 * 4294967296 // sketch[64] END AS BIGINT) AS e
        FROM sk),
      pr AS (
        SELECT a.source AS src_a, b.source AS src_b, a.e AS est_a, b.e AS est_b,
          list_slice(list_sort(list_distinct(list_concat(a.sketch, b.sketch))), 1, 64)
            AS sku
        FROM est1 a JOIN est1 b ON a.source <> b.source),
      pu AS (
        SELECT src_a, src_b, est_a, est_b,
          CAST(CASE WHEN len(sku) < 64 THEN len(sku)
                    ELSE 63 * 4294967296 // sku[64] END AS BIGINT) AS est_u
        FROM pr),
      ests AS (
        SELECT src_a, src_b, est_a,
          greatest(0, est_u - est_b) AS est_diff,
          greatest(0, est_a + est_b - est_u) * 1000000
            // greatest(est_a, 1) AS est_containment_ppm
        FROM pu),
      ex AS (
        SELECT a.source AS src_a, b.source AS src_b,
          CAST(count(*) AS BIGINT) AS exact_inter
        FROM dh a JOIN dh b ON a.h = b.h AND a.source <> b.source
        GROUP BY 1, 2),
      sz AS (SELECT source AS src_a, CAST(count(*) AS BIGINT) AS exact_a
             FROM dh GROUP BY source)
      SELECT e.src_a, e.src_b, e.est_a, e.est_diff,
        CAST(e.est_containment_ppm AS BIGINT) AS est_containment_ppm,
        CAST(coalesce(x.exact_inter, 0) * 1000000 // s.exact_a AS BIGINT)
          AS exact_containment_ppm
      FROM ests e
      LEFT JOIN ex x ON x.src_a = e.src_a AND x.src_b = e.src_b
      JOIN sz s ON s.src_a = e.src_a
      ORDER BY e.src_a, e.src_b
    """))

  override def defs: Seq[QueryDef] = Seq(q416, q417, q418)
}
