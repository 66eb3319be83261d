package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-10 batch 7: inspection economics — the Dorfman pooled-testing
  * plan (what pool size minimizes expected tests at the observed defect
  * rate, the WW2 result that still prices every batched QC pipeline),
  * and the birthday-bound audit for fingerprint truncation (how many
  * bits can a content fingerprint drop before observed collisions
  * diverge from the n²/2^{b+1} expectation — the width decision before
  * a 100 TB exact-dedup run ships 8-byte vs 4-byte keys).
  */
object InspectionPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q712

  /** Dorfman pooled-inspection plan: with per-mille defect rate p
    * (single-unit lines, quantity = 1 — the ~2%% trace-level anomaly a
    * QC pipeline actually pools for; the 33%% return flag would just
    * say "never pool"), pooling k items costs
    * 1/k + 1 − (1−p)^k expected tests per item. The (1−p)^k term is
    * computed EXACTLY: q = 1000 − p_milli, and q^k for k ≤ 10 is a
    * CASE over the one-row q²/q⁴/q⁸ doubling ladder in decimal(38,0)
    * (1000¹⁰ = 10³⁰ < 10³⁸ — no double pow, whose 53-bit mantissa
    * already fails at 10³⁰). The argmin row is the pooling policy; the
    * k = 1 row is the unpooled baseline the plan must beat.
    *
    * Scale shape: one lineitem fold to the one-row defect rate; the
    * plan grid is 10 literal rows crossed with that row; the argmin is
    * a one-row broadcast back onto the grid. */
  private val q712 = QueryDef(
    "q712_dorfman_pooling_plan",
    (spark, dir) => {
      val rate = Tables.lineitem(spark, dir)
        .agg(count(lit(1)).as("n"),
          sum(when(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)") === 1,
            1L).otherwise(0L)).as("defects"))
        .select(col("n"), col("defects"),
          expr("defects * 1000 div n").as("p_milli"))
        .select(col("n"), col("defects"), col("p_milli"),
          expr("CAST(1000 - p_milli AS DECIMAL(38,0))").as("q1"))
        .selectExpr("n", "defects", "p_milli", "q1",
          "q1 * q1 AS q2", "q1 * q1 * q1 * q1 AS q4",
          "q1 * q1 * q1 * q1 * q1 * q1 * q1 * q1 AS q8")
      val grid = spark.sql(
        "SELECT * FROM VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)" +
          " AS t(k)").select(col("k").cast("long").as("k"))
      val costed = grid.crossJoin(broadcast(rate))
        .selectExpr("k", "p_milli",
          """CASE CAST(k AS INT)
             WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q2 * q1
             WHEN 4 THEN q4 WHEN 5 THEN q4 * q1 WHEN 6 THEN q4 * q2
             WHEN 7 THEN q4 * q2 * q1 WHEN 8 THEN q8
             WHEN 9 THEN q8 * q1 ELSE q8 * q2 END AS qk""")
        .selectExpr("k", "p_milli",
          // k = 1: one test per item, no second stage
          """CAST(CASE WHEN k = 1 THEN 1000000
             ELSE 1000000 div k + 1000000
               - CAST(qk * 1000000 div
                   (CASE CAST(k AS INT)
                    WHEN 2 THEN CAST(1000000 AS DECIMAL(38,0))
                    WHEN 3 THEN CAST(1000000000 AS DECIMAL(38,0))
                    WHEN 4 THEN CAST(1000000000000 AS DECIMAL(38,0))
                    WHEN 5 THEN CAST(1000000000000000 AS DECIMAL(38,0))
                    WHEN 6 THEN CAST(1000000000000000000 AS DECIMAL(38,0))
                    WHEN 7 THEN CAST(1000000000000000000 AS DECIMAL(38,0)) * 1000
                    WHEN 8 THEN CAST(1000000000000000000 AS DECIMAL(38,0)) * 1000000
                    WHEN 9 THEN CAST(1000000000000000000 AS DECIMAL(38,0)) * 1000000000
                    ELSE CAST(1000000000000000000 AS DECIMAL(38,0)) * 1000000000000
                    END) AS BIGINT)
             END AS BIGINT) AS e_tests_ppm""")
      val best = costed.agg(min(col("e_tests_ppm")).as("best_ppm"))
      costed.crossJoin(broadcast(best))
        .select(col("k"), col("p_milli"), col("e_tests_ppm"),
          when(col("e_tests_ppm") === col("best_ppm"), 1L).otherwise(0L)
            .as("is_best"))
        .orderBy(col("k"))
    },
    Some("""
      WITH rate AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN CAST(floor(l_quantity + 0.5) AS BIGINT) = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS defects
        FROM lineitem),
      ladder AS (
        SELECT n, defects, defects * 1000 // n AS p_milli,
          CAST(1000 - defects * 1000 // n AS HUGEINT) AS q1
        FROM rate),
      ladder2 AS (
        SELECT *, q1 * q1 AS q2, q1*q1*q1*q1 AS q4,
          q1*q1*q1*q1*q1*q1*q1*q1 AS q8
        FROM ladder),
      grid(k) AS (VALUES (CAST(1 AS BIGINT)),(2),(3),(4),(5),(6),(7),(8),
        (9),(10)),
      costed AS MATERIALIZED (
        SELECT k, p_milli,
          CAST(CASE WHEN k = 1 THEN 1000000
            ELSE 1000000 // k + 1000000
              - CAST((CASE CAST(k AS INT)
                 WHEN 2 THEN q2 WHEN 3 THEN q2 * q1
                 WHEN 4 THEN q4 WHEN 5 THEN q4 * q1 WHEN 6 THEN q4 * q2
                 WHEN 7 THEN q4 * q2 * q1 WHEN 8 THEN q8
                 WHEN 9 THEN q8 * q1 ELSE q8 * q2 END) * 1000000 //
                (CASE CAST(k AS INT)
                 WHEN 2 THEN CAST(1000000 AS HUGEINT)
                 WHEN 3 THEN CAST(1000000000 AS HUGEINT)
                 WHEN 4 THEN CAST(1000000000000 AS HUGEINT)
                 WHEN 5 THEN CAST(1000000000000000 AS HUGEINT)
                 WHEN 6 THEN CAST(1000000000000000000 AS HUGEINT)
                 WHEN 7 THEN CAST(1000000000000000000 AS HUGEINT) * 1000
                 WHEN 8 THEN CAST(1000000000000000000 AS HUGEINT) * 1000000
                 WHEN 9 THEN CAST(1000000000000000000 AS HUGEINT) * 1000000000
                 ELSE CAST(1000000000000000000 AS HUGEINT) * 1000000000000
                 END) AS BIGINT)
            END AS BIGINT) AS e_tests_ppm
        FROM grid CROSS JOIN ladder2),
      best AS (SELECT min(e_tests_ppm) AS best_ppm FROM costed)
      SELECT k, p_milli, e_tests_ppm,
        CAST(CASE WHEN e_tests_ppm = best_ppm THEN 1 ELSE 0 END AS BIGINT)
          AS is_best
      FROM costed CROSS JOIN best ORDER BY k
    """))

  // ---------------------------------------------------------------- q713

  /** Birthday-bound audit for fingerprint truncation: take q29's
    * dual-modulus content fingerprint, truncate to b ∈ {16, 24, 32}
    * bits, and compare OBSERVED colliding pairs (Σ C(m,2) over
    * truncated-value buckets) with the birthday expectation
    * n(n−1)/2^{b+1} (emitted ×1000 for exactness). Distinct-text
    * collisions at full width are ~2⁻⁶⁰; after truncation they are a
    * budget you choose — this is the table that chooses it.
    *
    * Scale shape: fingerprints are one narrow codegen pass; the 3-row
    * width grid multiplies the (doc, fp) projection ×3 before one
    * keyed fold per width; readouts are 3 rows. */
  private val q713 = QueryDef(
    "q713_fingerprint_truncation_audit",
    (spark, dir) => {
      val fp = Tables.documents(spark, dir)
        .select(graft.functions.expressions.text_fingerprint(col("text"))
          .as("fp"))
      val grid = spark.sql("SELECT * FROM VALUES (16),(24),(32) AS t(b)")
        .select(col("b").cast("long").as("b"))
      val buckets = fp.crossJoin(broadcast(grid))
        .select(col("b"),
          expr("fp % CAST(pow(2, b) AS BIGINT)").as("tfp"))
        .groupBy(col("b"), col("tfp")).agg(count(lit(1)).as("m"))
      buckets.groupBy(col("b"))
        .agg(sum(col("m")).as("n_docs"),
          count(lit(1)).as("n_buckets"),
          sum(expr("m * (m - 1) div 2")).as("obs_pairs"))
        .select(col("b"), col("n_docs"), col("n_buckets"), col("obs_pairs"),
          expr("""CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) * 1000
              div (2 * CAST(pow(2, b) AS DECIMAL(38,0))) AS BIGINT)""")
            .as("expected_pairs_milli"))
        .orderBy(col("b"))
    },
    Some(s"""
      WITH h AS (
        SELECT
          ${duckPolyHashOf("text")} * 998244353
          + list_reduce(list_prepend(0::BIGINT,
            [ord(c)::BIGINT for c in str_split(text,'')]),
            (h,c) -> (h*131+c) % 998244353) AS fp
        FROM documents),
      grid(b) AS (VALUES (CAST(16 AS BIGINT)), (24), (32)),
      buckets AS MATERIALIZED (
        SELECT b, fp % CAST(pow(2, b) AS BIGINT) AS tfp,
          CAST(count(*) AS BIGINT) AS m
        FROM h CROSS JOIN grid GROUP BY b, tfp)
      SELECT b, CAST(sum(m) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_buckets,
        CAST(sum(m * (m - 1) // 2) AS BIGINT) AS obs_pairs,
        CAST(CAST(sum(m) AS HUGEINT) * (sum(m) - 1) * 1000
          // (2 * CAST(pow(2, b) AS HUGEINT)) AS BIGINT)
          AS expected_pairs_milli
      FROM buckets GROUP BY b ORDER BY b
    """))

  def defs: Seq[QueryDef] = Seq(q712, q713)
}
