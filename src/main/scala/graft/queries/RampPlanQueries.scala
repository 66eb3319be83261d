package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 batch 8: two experimentation-platform procedures the suite's
  * multiplicity/SRM family still lacked — Holm's step-down FWER
  * correction (data-adaptive, strictly dominates Bonferroni; unlike
  * q640's fixed-sequence gate it needs no pre-specified order, and
  * unlike q628's BH/BY it controls FWER, not FDR) and a staged-ramp
  * sample-ratio audit (q225 checks a fixed 50/50 split; real feature
  * launches ramp 10% → 25% → 50%, and each STAGE must match its
  * planned fraction or the ramp's guardrail metrics are garbage).
  * Exact integers with total ORDER BYs for the oracle gate.
  */
object RampPlanQueries extends QueryGroup {

  /** χ²₁ critical values (ppm) at α = 0.05/(26−k) for Holm rank k —
    * public constants via the normal icdf (the q628 precedent),
    * z²(1 − α_k/2) · 10⁶. */
  private val holmCrit: Seq[(Long, Long)] = Seq(
    1L -> 9549536L, 2L -> 9474626L, 3L -> 9396574L, 4L -> 9315102L,
    5L -> 9229895L, 6L -> 9140593L, 7L -> 9046780L, 8L -> 8947972L,
    9L -> 8843605L, 10L -> 8733011L, 11L -> 8615396L, 12L -> 8489801L,
    13L -> 8355057L, 14L -> 8209716L, 15L -> 8051956L, 16L -> 7879439L,
    17L -> 7689093L, 18L -> 7476773L, 19L -> 7236689L, 20L -> 6960401L,
    21L -> 6634897L, 22L -> 6238533L, 23L -> 5731139L, 24L -> 5023886L,
    25L -> 3841459L)

  private val holmCritSql: String =
    holmCrit.map { case (k, c) => s"($k, $c)" }.mkString(", ")

  // ---------------------------------------------------------------- q664

  /** Holm step-down on q640's 25 brand return-rate statistics: sort
    * the tests by evidence (χ² descending = p ascending) and test rank
    * k at α/(m−k+1), stopping at the first failure — every test after
    * the stop is retained regardless of its own p. Controls FWER like
    * Bonferroni but recovers power as hypotheses reject; the verdict
    * column pair (bonferroni_reject vs holm_reject) shows exactly
    * which brands Holm saves.
    *
    * Scale shape: q640's corpus fold to 25 brand cells; ranking, the
    * broadcast critical-value grid join, and the stop-gate running
    * min all work on the 25-row statistic grid (the sanctioned
    * q417/q628 class); readout is 25 rows.
    *
    * SF CEILING (round-9 note, from the round-8 advice — q639's class):
    * the χ² numerator (ta+tb)·(ad−bc)²·10⁶ is computed in
    * DECIMAL(38,0) (HUGEINT on the oracle side). Worst case
    * (ad−bc = N²/4) that is ~N⁵·10⁶/16 — under 10³⁸ only for
    * N ≲ 2.5·10⁶ lineitems; realistically the per-brand return split
    * keeps ad−bc ≈ N²·δ with δ ≈ 1–2%, stretching the bound to roughly
    * N ≲ 10⁸ (between sf10 and sf100 on this fold). Past that, rescale
    * the four cells by a common factor (the statistic is
    * scale-invariant up to the ppm floor) before the multiply; the
    * failure mode prevented is a silent NULL under ANSI-off. */
  private val q664 = QueryDef(
    "q664_holm_stepdown",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val crit = holmCrit.toDF("rank", "crit_ppm")
      val stats = RetrievalQueries.brandChiSquare(spark, dir)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("stat_ppm").desc, col("p_brand"))).cast("long"))
      val judged = stats.join(broadcast(crit), Seq("rank"))
        .withColumn("passes", (col("stat_ppm") >= col("crit_ppm")).cast("long"))
        // Holm stops at the FIRST failure in evidence order
        .withColumn("holm_reject", min(col("passes")).over(
          Window.orderBy(col("rank")).rowsBetween(Window.unboundedPreceding, 0)))
      judged.select(col("rank"), col("p_brand"), col("stat_ppm"),
          col("crit_ppm"),
          // Bonferroni tests EVERY rank at the rank-1 (alpha/m) bar
          (col("stat_ppm") >= lit(holmCrit.head._2)).cast("long")
            .as("bonferroni_reject"),
          col("holm_reject"))
        .orderBy(col("rank"))
    },
    Some(s"""
      WITH crit(rank, crit_ppm) AS (VALUES $holmCritSql),
      li AS (
        SELECT p_brand, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      cells AS (
        SELECT p_brand, CAST(sum(y) AS BIGINT) AS a,
          CAST(sum(1 - y) AS BIGINT) AS b
        FROM li GROUP BY p_brand),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
              CAST(sum(b) AS BIGINT) AS tb FROM cells),
      stats AS (
        SELECT p_brand,
          CAST(CAST(ta + tb AS HUGEINT)
            * (CAST(a * (tb - b) - b * (ta - a) AS HUGEINT)
               * (a * (tb - b) - b * (ta - a))) * 1000000
            // (CAST((a + b) * (ta - a + tb - b) AS HUGEINT) * ta * tb)
            AS BIGINT) AS stat_ppm
        FROM cells CROSS JOIN tot),
      ranked AS (
        SELECT p_brand, stat_ppm,
          CAST(row_number() OVER (ORDER BY stat_ppm DESC, p_brand) AS BIGINT)
            AS rank
        FROM stats),
      judged AS (
        SELECT r.rank, r.p_brand, r.stat_ppm,
          CAST(c.crit_ppm AS BIGINT) AS crit_ppm,
          CAST(CASE WHEN r.stat_ppm >= c.crit_ppm THEN 1 ELSE 0 END AS BIGINT)
            AS passes
        FROM ranked r JOIN crit c ON c.rank = r.rank)
      SELECT rank, p_brand, stat_ppm, crit_ppm,
        CAST(CASE WHEN stat_ppm >= ${holmCrit.head._2} THEN 1 ELSE 0 END
          AS BIGINT) AS bonferroni_reject,
        CAST(min(passes) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS holm_reject
      FROM judged ORDER BY rank
    """))

  // ---------------------------------------------------------------- q665

  /** Staged-ramp SRM audit: a launch ramps its 1995 exposure by order
    * quarter — planned 10% → 25% → 50% → 50% of customers (exposure =
    * keyHash below the stage's ppm threshold, so a customer's arm is
    * STICKY across stages, as real ramps require). Per stage: observed
    * vs planned exposure and the one-proportion χ² in ppm,
    * (obs·10⁶ − n·plan)² div (n·plan·(10⁶−plan)) · 10⁶ — a hot stage
    * means the hash boundary or the assignment cache is broken, and
    * every guardrail read during that stage is untrustworthy.
    *
    * Scale shape: ONE orders scan crossed with the 4-row broadcast
    * stage grid, folded to 4 stage cells; verdicts are 4-row
    * arithmetic. */
  private val q665 = QueryDef(
    "q665_staged_ramp_srm",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val stages = Seq((1L, 100000L), (2L, 250000L), (3L, 500000L), (4L, 500000L))
        .toDF("stage", "plan_ppm")
      val rows = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select(expr("CAST(quarter(o_orderdate) AS BIGINT)").as("stage"),
          graft.operators.Sampling.keyHash(col("o_custkey")).as("h"))
      rows.join(broadcast(stages), Seq("stage"))
        // keyHash is uniform on [0, 2^32); exposure = low plan_ppm share
        .select(col("stage"), col("plan_ppm"),
          (expr("h * 1000000 div 4294967296") < col("plan_ppm"))
            .cast("long").as("exposed"))
        .groupBy(col("stage"), col("plan_ppm"))
        .agg(count(lit(1)).as("n"), sum(col("exposed")).as("n_exposed"))
        .select(col("stage"), col("plan_ppm"), col("n"), col("n_exposed"),
          expr("n_exposed * 1000000 div n").as("obs_ppm"),
          expr("""CAST(CAST(n_exposed * 1000000 - n * plan_ppm AS DECIMAL(38,0))
              * (n_exposed * 1000000 - n * plan_ppm) * 1000000
            div (CAST(n AS DECIMAL(38,0)) * plan_ppm * (1000000 - plan_ppm))
            AS BIGINT)""").as("chi2_ppm"))
        .withColumn("srm_flag", (col("chi2_ppm") >= 3841459L).cast("long"))
        .orderBy(col("stage"))
    },
    Some("""
      WITH stages(stage, plan_ppm) AS (VALUES
        (CAST(1 AS BIGINT), CAST(100000 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(250000 AS BIGINT)),
        (CAST(3 AS BIGINT), CAST(500000 AS BIGINT)),
        (CAST(4 AS BIGINT), CAST(500000 AS BIGINT))),
      rows_ AS (
        SELECT CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS stage,
          (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'),
      cells AS (
        SELECT r.stage, s.plan_ppm, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN r.h * 1000000 // 4294967296 < s.plan_ppm
            THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed
        FROM rows_ r JOIN stages s ON s.stage = r.stage
        GROUP BY r.stage, s.plan_ppm)
      SELECT stage, plan_ppm, n, n_exposed,
        CAST(n_exposed * 1000000 // n AS BIGINT) AS obs_ppm,
        CAST(CAST(n_exposed * 1000000 - n * plan_ppm AS HUGEINT)
            * (n_exposed * 1000000 - n * plan_ppm) * 1000000
          // (CAST(n AS HUGEINT) * plan_ppm * (1000000 - plan_ppm))
          AS BIGINT) AS chi2_ppm,
        CAST(CASE WHEN CAST(CAST(n_exposed * 1000000 - n * plan_ppm AS HUGEINT)
            * (n_exposed * 1000000 - n * plan_ppm) * 1000000
          // (CAST(n AS HUGEINT) * plan_ppm * (1000000 - plan_ppm))
          AS BIGINT) >= 3841459 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      FROM cells ORDER BY stage
    """))

  override def defs: Seq[QueryDef] = Seq(q664, q665)
}
