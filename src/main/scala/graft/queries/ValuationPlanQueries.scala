package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 14: valuation and guarantee machinery — the two-pass
  * exact distributed median, KNN-Shapley data valuation, and
  * split-conformal coverage. All outputs integers / strings with total
  * ORDER BYs for the oracle gate.
  */
object ValuationPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q582

  /** Two-pass exact distributed median: pass 1 folds order values into
    * a ~1000-bin coarse histogram (65 536-cent bins) and locates the
    * bin holding the global lower-median rank; pass 2 re-scans ONLY
    * for a per-cent histogram of that one bin and picks the exact
    * value at the residual rank. This is how a cluster computes an
    * EXACT median without ever sorting rows: two aggregate passes,
    * both windows over histogram BINS (never rows), and the audit
    * reports how small pass 2's world is (bin_rows / n_rows in ppm —
    * the scan economy that makes exactness affordable at 100 TB).
    *
    * Scale shape: two hash aggregates over the scan; cumulative
    * windows run over ≤1024 coarse bins and ≤65 536 exact cent values
    * (value-resolution-bounded, the q64/CCDF sanction class); the
    * located bin re-enters pass 2 as a one-row broadcast. */
  private val q582 = QueryDef(
    "q582_two_pass_exact_median",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val vals = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"))
      val everything = Window.partitionBy()
      val coarse = vals.groupBy(expr("v div 65536").as("bin"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("r", expr("(sum(c) OVER () + 1) div 2"))
        .withColumn("n_rows", expr("sum(c) OVER ()"))
      val target = coarse.filter(col("cum") >= col("r"))
        .orderBy(col("bin")).limit(1)
        .select(col("bin").as("tbin"), (col("cum") - col("c")).as("rows_before"),
          col("c").as("bin_rows"), col("r"), col("n_rows"))
      vals.crossJoin(broadcast(target))
        .filter(expr("v div 65536 = tbin"))
        .groupBy(col("v"), col("rows_before"), col("bin_rows"),
          col("r"), col("n_rows"))
        .agg(count(lit(1)).as("vc"))
        .withColumn("vcum", sum(col("vc")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("rows_before") + col("vcum") >= col("r"))
        .orderBy(col("v")).limit(1)
        .select(col("n_rows"), col("v").as("exact_median_cents"),
          col("bin_rows").as("pass2_rows"),
          expr("bin_rows * 1000000 div n_rows").as("pass2_share_ppm"))
    },
    Some("""
      WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders),
      coarse AS (
        SELECT v // 65536 AS bin, CAST(count(*) AS BIGINT) AS c
        FROM vals GROUP BY 1),
      cum AS (
        SELECT bin, c,
          CAST(sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum,
          CAST((sum(c) OVER () + 1) // 2 AS BIGINT) AS r,
          CAST(sum(c) OVER () AS BIGINT) AS n_rows
        FROM coarse),
      target AS (
        SELECT bin AS tbin, cum - c AS rows_before, c AS bin_rows, r, n_rows
        FROM cum WHERE cum >= r ORDER BY bin LIMIT 1),
      fine AS (
        SELECT v, rows_before, bin_rows, r, n_rows,
          CAST(count(*) AS BIGINT) AS vc
        FROM vals CROSS JOIN target
        WHERE v // 65536 = tbin
        GROUP BY 1, 2, 3, 4, 5),
      fcum AS (
        SELECT *, CAST(sum(vc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS vcum
        FROM fine)
      SELECT n_rows, v AS exact_median_cents, bin_rows AS pass2_rows,
        CAST(bin_rows * 1000000 // n_rows AS BIGINT) AS pass2_share_ppm
      FROM fcum WHERE rows_before + vcum >= r ORDER BY v LIMIT 1
    """))

  // ---------------------------------------------------------------- q583

  /** KNN-Shapley data valuation (Jia et al.'s exact closed form): for
    * each of 10 test embeddings, rank the training embeddings by
    * distance and run the farthest-to-nearest recursion
    * sᵢ = sᵢ₊₁ + (aᵢ − aᵢ₊₁)·min(K,i)/(K·i) — which is exactly a
    * SUFFIX SUM of per-rank terms, so the "recursion" is one window
    * per test point. Averaged over the panel, the value tells you
    * which training points actually help a K-NN classifier label the
    * panel — the tractable member of the data-valuation family (exact
    * Shapley over models is exponential; q_shapley's coalition form
    * covers sources, this one prices individual EXAMPLES). Top 20 by
    * mean value in nano units.
    *
    * Scale shape: distances are one panel-broadcast pass (10 probes ×
    * corpus — the q25 precedent; the squared-L2 is the fused codegen'd
    * l2sq_long kernel, promoted round 8); ranking and the suffix sum are
    * windows PARTITIONED per test point; the final average is a keyed
    * fold over train ids. */
  private val q583 = QueryDef(
    "q583_knn_shapley_valuation",
    (spark, dir) => {
      val qv = "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr(qv).as("v"))
      val tests = base.filter(col("vec_id") < 10L)
        .select(col("vec_id").as("tid"), col("label").as("tlabel"), col("v").as("tv"))
      val train = base.filter(col("vec_id") >= 10L)
      val k = 5L
      val byTest = Window.partitionBy(col("tid"))
      val ranked = train.crossJoin(broadcast(tests))
        .select(col("tid"), col("vec_id"), col("label"),
          when(col("label") === col("tlabel"), 1L).otherwise(0L).as("a"),
          graft.functions.expressions.l2sq_long(col("v"), col("tv")).as("d2"))
        .withColumn("i", row_number().over(byTest.orderBy(col("d2"), col("vec_id"))))
        .withColumn("nn", count(lit(1)).over(byTest))
        .withColumn("a_next", lead(col("a"), 1).over(
          byTest.orderBy(col("d2"), col("vec_id"))))
      val terms = ranked.withColumn("c_nano",
        when(col("i") === col("nn"), expr("a * 1000000000 div nn"))
          .otherwise(expr(
            s"(a - a_next) * 1000000000 * least($k, i) div ($k * i)")))
      val shap = terms
        .withColumn("s_nano", sum(col("c_nano")).over(
          byTest.orderBy(col("i")).rowsBetween(0, Window.unboundedFollowing)))
      shap.groupBy(col("vec_id"), col("label"))
        .agg(count(lit(1)).as("n_tests"),
          expr("sum(s_nano) div count(1)").as("avg_shapley_nano"))
        .orderBy(col("avg_shapley_nano").desc, col("vec_id"))
        .limit(20)
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS v
        FROM embeddings),
      tests AS (SELECT vec_id AS tid, label AS tlabel, v AS tv
                FROM base WHERE vec_id < 10),
      ranked AS (
        SELECT t.tid, b.vec_id, b.label,
          CASE WHEN b.label = t.tlabel THEN 1 ELSE 0 END AS a,
          row_number() OVER w AS i,
          count(*) OVER (PARTITION BY t.tid) AS nn,
          lead(CASE WHEN b.label = t.tlabel THEN 1 ELSE 0 END) OVER w AS a_next
        FROM base b CROSS JOIN tests t
        WHERE b.vec_id >= 10
        WINDOW w AS (PARTITION BY t.tid ORDER BY
          list_sum(list_transform(range(1, 65), x ->
            (b.v[CAST(x AS INTEGER)] - t.tv[CAST(x AS INTEGER)])
            * (b.v[CAST(x AS INTEGER)] - t.tv[CAST(x AS INTEGER)]))),
          b.vec_id)),
      terms AS (
        SELECT tid, vec_id, label, i,
          CASE WHEN i = nn THEN a * 1000000000 // nn
            ELSE (a - a_next) * 1000000000 * least(5, i) // (5 * i) END AS c_nano
        FROM ranked),
      shap AS (
        SELECT tid, vec_id, label,
          CAST(sum(c_nano) OVER (PARTITION BY tid ORDER BY i
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
            AS s_nano
        FROM terms)
      SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_tests,
        CAST(sum(s_nano) // count(*) AS BIGINT) AS avg_shapley_nano
      FROM shap GROUP BY 1, 2
      ORDER BY avg_shapley_nano DESC, vec_id LIMIT 20
    """))

  // ---------------------------------------------------------------- q584

  /** Split-conformal coverage audit: fit the cheapest possible length
    * model (chars ≈ slope·tokens, ratio estimator on a hash-split
    * calibration half), take the conformal quantile of calibration
    * |residual|s at levels 80/90/95% — the ⌈(1−α)(n+1)⌉-th order
    * statistic, read bin-exactly off the residual-value histogram —
    * and measure EMPIRICAL coverage of ±q̂ intervals on the untouched
    * test half. Split conformal guarantees ≥ level coverage for ANY
    * model, however bad; the table shows the guarantee holding and
    * what interval width it costs. The distribution-free error bar
    * every scored pipeline can afford.
    *
    * Scale shape: one scan computes tokens/chars/halves; the slope is
    * a one-row broadcast; residual quantiles come from cumulative
    * windows over the value-resolution-bounded residual histogram
    * (the q64 sanction class); coverage is one conditional fold. */
  private val q584 = QueryDef(
    "q584_conformal_coverage_audit",
    (spark, dir) => {
      import graft.functions.expressions.token_count
      import graft.operators.Sampling
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(800L, 900L, 950L).toDF("level_pml")
      val base = Tables.documents(spark, dir)
        .select(col("n_chars").as("y"),
          token_count(col("text")).cast("long").as("x"),
          Sampling.keyHash(col("doc_id"), 2246822519L).as("h"))
        .filter(col("x") >= 1L)
        .select(col("y"), col("x"), expr("h div 2147483648").as("is_test"))
        .persist()
      val slope = base.filter(col("is_test") === 0L)
        .agg(expr("sum(y) * 1000 div sum(x)").as("m_milli"),
          count(lit(1)).as("n_cal"))
      val resid = base.crossJoin(broadcast(slope))
        .select(col("is_test"), col("n_cal"),
          expr("abs(y - x * m_milli div 1000)").as("rv"))
      val qhat = resid.filter(col("is_test") === 0L)
        .groupBy(col("rv"), col("n_cal")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("rv"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(grid))
        .filter(expr("cum * 1000 >= level_pml * (n_cal + 1)"))
        .groupBy(col("level_pml"))
        .agg(min(col("rv")).as("q_hat"), max(col("n_cal")).as("n_cal"))
      resid.filter(col("is_test") === 1L).select(col("rv"))
        .crossJoin(broadcast(qhat))
        .groupBy(col("level_pml"), col("q_hat"), col("n_cal"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("rv") <= col("q_hat"), 1L).otherwise(0L)).as("covered"))
        .select(col("level_pml"), col("n_cal"), col("n_test"), col("q_hat"),
          expr("covered * 1000000 div n_test").as("coverage_ppm"))
        .orderBy(col("level_pml"))
    },
    Some(s"""
      WITH base AS (
        SELECT n_chars AS y,
          CAST(len($duckTokens)
            AS BIGINT) AS x,
          ((doc_id % 2147483648) * 2246822519) % 4294967296
            // 2147483648 AS is_test
        FROM documents
        WHERE len($duckTokens) >= 1),
      slope AS (
        SELECT CAST(sum(y) * 1000 // sum(x) AS BIGINT) AS m_milli,
          CAST(count(*) AS BIGINT) AS n_cal
        FROM base WHERE is_test = 0),
      resid AS (
        SELECT is_test, n_cal,
          CAST(abs(y - x * m_milli // 1000) AS BIGINT) AS rv
        FROM base CROSS JOIN slope),
      grid(level_pml) AS (VALUES (CAST(800 AS BIGINT)), (CAST(900 AS BIGINT)),
        (CAST(950 AS BIGINT))),
      hist AS (
        SELECT rv, n_cal, CAST(count(*) AS BIGINT) AS c
        FROM resid WHERE is_test = 0 GROUP BY 1, 2),
      cum AS (
        SELECT rv, n_cal,
          CAST(sum(c) OVER (ORDER BY rv ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS cum
        FROM hist),
      qh AS (
        SELECT level_pml, CAST(min(rv) AS BIGINT) AS q_hat,
          CAST(max(n_cal) AS BIGINT) AS n_cal
        FROM cum CROSS JOIN grid
        WHERE cum * 1000 >= level_pml * (n_cal + 1)
        GROUP BY level_pml)
      SELECT qh.level_pml, qh.n_cal, CAST(count(*) AS BIGINT) AS n_test,
        qh.q_hat,
        CAST(sum(CASE WHEN r.rv <= qh.q_hat THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS coverage_ppm
      FROM (SELECT rv FROM resid WHERE is_test = 1) r CROSS JOIN qh
      GROUP BY 1, 2, 4 ORDER BY qh.level_pml
    """))

  def defs: Seq[QueryDef] = Seq(q582, q583, q584)
}
