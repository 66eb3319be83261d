package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 13: fidelity under compression and sampling —
  * CountSketch vs Count-Min bias, Hellinger drift with exact integer
  * square roots, and join-preserving sample alignment. All outputs
  * integers / strings with total ORDER BYs for the oracle gate.
  */
object FidelityPlanQueries extends QueryGroup {

  /** Exact integer sqrt both engines agree on: floor(libm sqrt) is
    * within ±1 for v < 2⁵², so one CASE fix-up makes it exact. */
  // ---------------------------------------------------------------- q579

  /** CountSketch vs Count-Min bias audit: build both sketches over the
    * corpus term counts with a DELIBERATELY tiny width (16 buckets ×
    * 5 rows, forcing collisions) and read back the 20 heaviest terms.
    * The structural contrast: Count-Min's min-of-rows estimate only
    * ever OVERSHOOTS (every collision adds), while CountSketch's
    * median of signed row estimates errs in both directions. Whether
    * the signed cancellation nets out cheaper depends on skew — and
    * this corpus's near-UNIFORM term frequencies are CountSketch's
    * worst case (colliding masses are as large as the queried term),
    * so the table honestly shows comparable error magnitudes with
    * opposite bias character: choose CM when one-sided guarantees
    * matter, CS when unbiasedness does. Bucket and sign come from
    * HIGH Knuth-hash bits (the q569 low-bit trap).
    *
    * Scale shape: term counts are the only corpus-sized aggregate;
    * the sketch build lands on 5×16 cells (terms × 5-row grid — the
    * sanctioned bounded-grid BNLJ); readback joins the 20-term panel
    * to those 80 cells; the median-of-5 is an in-group sorted-array
    * pick, never a window. */
  private val q579 = QueryDef(
    "q579_countsketch_bias_audit",
    (spark, dir) => {
      import graft.functions.expressions.{tokens_native, poly_hash}
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(0L, 1L, 2L, 3L, 4L).toDF("d")
      val terms = Tables.documents(spark, dir)
        .select(explode(tokens_native(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .select(col("term"), col("cnt"), poly_hash(col("term")).as("ph"))
      val hashed = terms.crossJoin(broadcast(grid))
        .withColumn("h", expr("((ph % 2147483648) * (2654435761 + 2 * d)) % 4294967296"))
        .select(col("term"), col("cnt"), col("d"),
          expr("h div 268435456").as("bucket"),
          expr("(h div 134217728) % 2 * 2 - 1").as("sgn"))
      val cells = hashed.groupBy(col("d"), col("bucket"))
        .agg(sum(col("cnt")).as("cm_sum"), sum(expr("sgn * cnt")).as("cs_sum"))
      val panel = terms.orderBy(col("cnt").desc, col("term")).limit(20)
        .select(col("term").as("pt"), col("cnt").as("true_count"))
      hashed.join(panel, col("term") === col("pt"))
        .join(cells, Seq("d", "bucket"))
        .groupBy(col("term"), col("true_count"))
        .agg(min(col("cm_sum")).as("cm_est"),
          expr("element_at(array_sort(collect_list(sgn * cs_sum)), 3)").as("cs_est"))
        .select(col("term"), col("true_count"), col("cm_est"),
          expr("cm_est - true_count").as("cm_overshoot"),
          col("cs_est"), expr("abs(cs_est - true_count)").as("cs_abs_err"))
        .orderBy(col("true_count").desc, col("term"))
    },
    Some(s"""
      WITH tc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt,
          ${duckPolyHashOf("term")} AS ph
        FROM (SELECT unnest($duckTokens) AS term
              FROM documents)
        GROUP BY term),
      grid(d) AS (VALUES (CAST(0 AS BIGINT)), (1), (2), (3), (4)),
      hashed AS (
        SELECT term, cnt, d,
          ((ph % 2147483648) * (2654435761 + 2 * d)) % 4294967296
            // 268435456 AS bucket,
          (((ph % 2147483648) * (2654435761 + 2 * d)) % 4294967296
            // 134217728) % 2 * 2 - 1 AS sgn
        FROM tc CROSS JOIN grid),
      cells AS (
        SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cm_sum,
          CAST(sum(sgn * cnt) AS BIGINT) AS cs_sum
        FROM hashed GROUP BY 1, 2),
      panel AS (SELECT term, cnt AS true_count FROM tc
                ORDER BY cnt DESC, term LIMIT 20),
      est AS (
        SELECT h.term, p.true_count,
          CAST(min(c.cm_sum) AS BIGINT) AS cm_est,
          CAST(quantile_disc(h.sgn * c.cs_sum, 0.5) AS BIGINT) AS cs_est
        FROM hashed h
        JOIN panel p ON p.term = h.term
        JOIN cells c ON c.d = h.d AND c.bucket = h.bucket
        GROUP BY 1, 2)
      SELECT term, true_count, cm_est,
        CAST(cm_est - true_count AS BIGINT) AS cm_overshoot,
        cs_est, CAST(abs(cs_est - true_count) AS BIGINT) AS cs_abs_err
      FROM est ORDER BY true_count DESC, term
    """))

  // ---------------------------------------------------------------- q580

  /** Hellinger drift census: per-source language mix vs the corpus
    * mix, measured by the Hellinger affinity BC = Σ√(pᵢ·qᵢ) — computed
    * EXACTLY in integers via a fix-up'd floor-sqrt (libm sqrt is
    * within ±1 ulp below 2⁵², so one CASE correction makes both
    * engines agree bit-for-bit). H² = 1 − BC is the drift score that,
    * unlike total variation (q153's family), weights proportional
    * differences of SMALL shares — the right lens when a rare language
    * silently doubles. Complements the TV/KS/Wasserstein/CvM drift
    * family with the geometric one.
    *
    * Scale shape: one keyed fold to (source, lang) cells, one to the
    * global lang mix; the BC sum joins catalog-sized cell tables. */
  private val q580 = QueryDef(
    "q580_hellinger_drift_census",
    (spark, dir) => {
      val cells = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      val bySrc = cells.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
      val byLang = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      val tot = cells.agg(sum(col("n")).as("n_all"))
      cells.join(bySrc, Seq("source")).join(byLang, Seq("lang"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_src"),
          expr("n * 1000000 div n_src").as("p_ppm"),
          expr("n_lang * 1000000 div n_all").as("q_ppm"))
        .groupBy(col("source"), col("n_src"))
        .agg(sum(expr(SqlMacros.isqrt("p_ppm * q_ppm"))).as("bc_ppm"))
        .select(col("source"), col("n_src").as("n_docs"),
          expr("least(bc_ppm, 1000000)").as("bc_ppm"),
          expr("greatest(1000000 - bc_ppm, 0)").as("hellinger_sq_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH cells AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      bs AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src
             FROM cells GROUP BY source),
      bl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
             FROM cells GROUP BY lang),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM cells),
      p AS (
        SELECT c.source, bs.n_src,
          CAST(c.n * 1000000 // bs.n_src AS BIGINT) AS p_ppm,
          CAST(bl.n_lang * 1000000 // tot.n_all AS BIGINT) AS q_ppm
        FROM cells c JOIN bs USING (source) JOIN bl USING (lang)
        CROSS JOIN tot),
      bc AS (
        SELECT source, n_src,
          CAST(sum(${SqlMacros.isqrt("p_ppm * q_ppm")}) AS BIGINT) AS bc_ppm
        FROM p GROUP BY 1, 2)
      SELECT source, n_src AS n_docs,
        CAST(least(bc_ppm, 1000000) AS BIGINT) AS bc_ppm,
        CAST(greatest(1000000 - bc_ppm, 0) AS BIGINT) AS hellinger_sq_ppm
      FROM bc ORDER BY source
    """))

  // ---------------------------------------------------------------- q581

  /** Join-preserving sample alignment audit: sample BOTH sides of the
    * orders⋈lineitem join at 10% three ways — aligned (both sides
    * keyed on the JOIN KEY with the SAME hash), misaligned (each side
    * its own hash stream, the default when two teams sample
    * independently), and one-sided (sample the dimension, keep the
    * fact) — and measure surviving join rows. Aligned keeps 10% of the
    * join intact; misaligned keeps ~1% (0.1 × 0.1); the table is THE
    * distributed-sampling pitfall, quantified. Thresholding the hash
    * (h < 2³²/10) makes the 10% exact-in-expectation and
    * key-consistent at any scale.
    *
    * Scale shape: flags are per-row hash predicates; one join + one
    * aggregate computes every strategy's survival simultaneously;
    * the 3-strategy readout unpivots from the one-row fold. */
  private val q581 = QueryDef(
    "q581_join_preserving_sample",
    (spark, dir) => {
      import graft.operators.Sampling
      val thr = 429496729L // floor(2^32 / 10)
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("ok"),
          (Sampling.keyHash(col("o_orderkey")) < thr).cast("long").as("keep_o"))
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"),
          (Sampling.keyHash(col("l_orderkey")) < thr).cast("long").as("keep_la"),
          (Sampling.keyHash(col("l_orderkey"), 2246822519L) < thr)
            .cast("long").as("keep_lb"))
      val one = o.join(l, Seq("ok")).agg(
        count(lit(1)).as("true_join_rows"),
        sum(expr("keep_o * keep_la")).as("j_aligned"),
        sum(expr("keep_o * keep_lb")).as("j_misaligned"),
        sum(col("keep_o")).as("j_one_sided"),
        sum(col("keep_la")).as("l_kept_a"),
        sum(col("keep_lb")).as("l_kept_b"))
      one.select(col("true_join_rows"), expr("""stack(3,
          'aligned', j_aligned,
          'misaligned', j_misaligned,
          'one_sided', j_one_sided) AS (strategy, joined_rows)"""))
        .select(col("strategy"), col("joined_rows"), col("true_join_rows"),
          expr("joined_rows * 1000000 div true_join_rows").as("join_recall_ppm"))
        .orderBy(col("strategy"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey AS ok,
          CASE WHEN ((o_orderkey % 2147483648) * 2654435761) % 4294967296
            < 429496729 THEN 1 ELSE 0 END AS keep_o
        FROM orders),
      l AS (
        SELECT l_orderkey AS ok,
          CASE WHEN ((l_orderkey % 2147483648) * 2654435761) % 4294967296
            < 429496729 THEN 1 ELSE 0 END AS keep_la,
          CASE WHEN ((l_orderkey % 2147483648) * 2246822519) % 4294967296
            < 429496729 THEN 1 ELSE 0 END AS keep_lb
        FROM lineitem),
      one AS (
        SELECT CAST(count(*) AS BIGINT) AS true_join_rows,
          CAST(sum(keep_o * keep_la) AS BIGINT) AS j_aligned,
          CAST(sum(keep_o * keep_lb) AS BIGINT) AS j_misaligned,
          CAST(sum(keep_o) AS BIGINT) AS j_one_sided
        FROM o JOIN l USING (ok)),
      s AS (
        SELECT true_join_rows, 'aligned' AS strategy, j_aligned AS joined_rows
          FROM one
        UNION ALL SELECT true_join_rows, 'misaligned', j_misaligned FROM one
        UNION ALL SELECT true_join_rows, 'one_sided', j_one_sided FROM one)
      SELECT strategy, joined_rows, true_join_rows,
        CAST(joined_rows * 1000000 // true_join_rows AS BIGINT)
          AS join_recall_ppm
      FROM s ORDER BY strategy
    """))

  def defs: Seq[QueryDef] = Seq(q579, q580, q581)
}
