package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 15: robustness machinery — estimator breakdown under
  * contamination, quantile-regression slope fitting, and the placebo
  * regression-discontinuity check. All outputs integers / strings with
  * total ORDER BYs for the oracle gate.
  */
object RobustnessPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q585

  /** Estimator breakdown audit: corrupt a deterministic hash-chosen
    * 0% / 1% / 5% of order values by ×100 (a fat-finger unit bug — the
    * classic silent poisoning) and score three location estimators
    * against the CLEAN mean: the plain mean (breakdown point 0 — 1%
    * contamination roughly doubles it), the 10%-trimmed mean (each side — its 10% breakdown point sits safely above the 5% corruption), and the
    * median (breakdown 50%). The one-table argument for why every
    * KPI this engine reports should also ship its robust twin.
    *
    * Scale shape: corruption is a per-row hash predicate (HIGH bits);
    * the three cut values (p10, median, p90) come from the q582
    * TWO-PASS decomposition — a 65 536-cent coarse histogram locates
    * each target's bucket (cumulative windows over BINS, a few
    * thousand rows), then one filtered re-scan refines at value
    * resolution inside the ≤ bucket-sized world — never a
    * row-resolution histogram sort (cents here are near-distinct, so
    * the old value histogram WAS a row sort: 4.8 s solo at sf0.1,
    * round-12 probe); the 3-rate grid broadcasts onto the scan. */
  private val q585 = QueryDef(
    "q585_estimator_breakdown_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(0L, 10000L, 50000L).toDF("rate_ppm")
      val base = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"),
          Sampling.keyHash(col("o_orderkey"), 2246822519L).as("h"))
        .select(col("v"), expr("h div 4096").as("u")) // 20 high-ish bits
      val clean = base.agg(expr("sum(v) div count(1)").as("clean_mean"))
      val dirty = base.crossJoin(broadcast(grid))
        .select(col("rate_ppm"),
          when(expr("u * 1000000 < rate_ppm * 1048576"), col("v") * 100L)
            .otherwise(col("v")).as("w"))
      // q582 two-pass order statistics: targets are "min w with
      // cum*10 >= q*n" for q = 1 (p10), 5 (lower median), 9 (p90) —
      // pass 1 locates each target's 65 536-cent bucket, pass 2
      // refines at value resolution inside that one bucket
      val qgrid = Seq(1L, 5L, 9L).toDF("q")
      val coarse = dirty.groupBy(col("rate_ppm"), expr("w div 65536").as("bin"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("rate_ppm")).orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("rate_ppm"))))
      val target = coarse.crossJoin(broadcast(qgrid))
        .filter(expr("cum * 10 >= q * n"))
        .groupBy(col("rate_ppm"), col("q"))
        .agg(min(struct(col("bin"), (col("cum") - col("c")).as("rows_before"),
          col("n"))).as("t"))
        .select(col("rate_ppm"), col("q"), col("t.bin").as("tbin"),
          col("t.rows_before").as("rows_before"), col("t.n").as("n"))
      val cuts = dirty
        .join(broadcast(target), Seq("rate_ppm"))
        .filter(expr("w div 65536 = tbin"))
        .groupBy(col("rate_ppm"), col("q"), col("rows_before"), col("n"), col("w"))
        .agg(count(lit(1)).as("vc"))
        .withColumn("vcum", sum(col("vc")).over(
          Window.partitionBy(col("rate_ppm"), col("q")).orderBy(col("w"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(expr("(rows_before + vcum) * 10 >= q * n"))
        .groupBy(col("rate_ppm"), col("q")).agg(min(col("w")).as("cut_v"))
      val med = cuts.filter(col("q") === 5L)
        .select(col("rate_ppm"), col("cut_v").as("median_v"))
      // 10%-trimmed: drop the mass outside [p10, p90] cutoffs,
      // bin-granular (boundary values kept whole — documented rounding)
      val lo = cuts.filter(col("q") === 1L)
        .select(col("rate_ppm"), col("cut_v").as("lo_v"))
      val hi = cuts.filter(col("q") === 9L)
        .select(col("rate_ppm"), col("cut_v").as("hi_v"))
      val trimmed = dirty.join(lo, Seq("rate_ppm")).join(hi, Seq("rate_ppm"))
        .filter(col("w") >= col("lo_v") && col("w") <= col("hi_v"))
        .groupBy(col("rate_ppm")).agg(expr("sum(w) div count(1)").as("trimmed_mean"))
      val mean = dirty.groupBy(col("rate_ppm"))
        .agg(expr("sum(w) div count(1)").as("dirty_mean"))
      mean.join(trimmed, Seq("rate_ppm")).join(med, Seq("rate_ppm"))
        .crossJoin(broadcast(clean))
        .select(col("rate_ppm"), col("clean_mean").as("clean_mean_cents"),
          expr("abs(dirty_mean - clean_mean) * 1000000 div clean_mean")
            .as("mean_err_ppm"),
          expr("abs(trimmed_mean - clean_mean) * 1000000 div clean_mean")
            .as("trimmed_err_ppm"),
          expr("abs(median_v - clean_mean) * 1000000 div clean_mean")
            .as("median_err_ppm"))
        .orderBy(col("rate_ppm"))
    },
    Some("""
      WITH base AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          ((o_orderkey % 2147483648) * 2246822519) % 4294967296
            // 4096 AS u
        FROM orders),
      clean AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS clean_mean
                FROM base),
      grid(rate_ppm) AS (VALUES (CAST(0 AS BIGINT)), (CAST(10000 AS BIGINT)),
        (CAST(50000 AS BIGINT))),
      dirty AS (
        SELECT rate_ppm,
          CASE WHEN u * 1000000 < rate_ppm * 1048576 THEN v * 100 ELSE v END AS w
        FROM base CROSS JOIN grid),
      hist AS (
        SELECT rate_ppm, w, CAST(count(*) AS BIGINT) AS c
        FROM dirty GROUP BY 1, 2),
      cum AS (
        SELECT rate_ppm, w, c,
          CAST(sum(c) OVER (PARTITION BY rate_ppm ORDER BY w
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY rate_ppm) AS BIGINT) AS n
        FROM hist),
      med AS (SELECT rate_ppm, CAST(min(w) AS BIGINT) AS median_v
              FROM cum WHERE cum * 2 >= n GROUP BY 1),
      lo AS (SELECT rate_ppm, CAST(min(w) AS BIGINT) AS lo_v
             FROM cum WHERE cum * 10 >= n GROUP BY 1),
      hi AS (SELECT rate_ppm, CAST(min(w) AS BIGINT) AS hi_v
             FROM cum WHERE cum * 10 >= 9 * n GROUP BY 1),
      tm AS (
        SELECT d.rate_ppm, CAST(sum(w) // count(*) AS BIGINT) AS trimmed_mean
        FROM dirty d JOIN lo USING (rate_ppm) JOIN hi USING (rate_ppm)
        WHERE w >= lo_v AND w <= hi_v
        GROUP BY 1),
      mn AS (SELECT rate_ppm, CAST(sum(w) // count(*) AS BIGINT) AS dirty_mean
             FROM dirty GROUP BY 1)
      SELECT rate_ppm, clean_mean AS clean_mean_cents,
        CAST(abs(dirty_mean - clean_mean) * 1000000 // clean_mean AS BIGINT)
          AS mean_err_ppm,
        CAST(abs(trimmed_mean - clean_mean) * 1000000 // clean_mean AS BIGINT)
          AS trimmed_err_ppm,
        CAST(abs(median_v - clean_mean) * 1000000 // clean_mean AS BIGINT)
          AS median_err_ppm
      FROM mn JOIN tm USING (rate_ppm) JOIN med USING (rate_ppm)
      CROSS JOIN clean
      ORDER BY rate_ppm
    """))

  // ---------------------------------------------------------------- q586

  /** Quantile-regression slope fit: fit chars ≈ s·tokens at τ = 0.1 /
    * 0.5 / 0.9 by exact pinball-loss minimization over a 13-candidate
    * slope grid (3.0–6.0 chars/token in 0.25 steps) — the three lines
    * that bound a length model from below, the middle, and above.
    * Quantile lines, unlike the mean fit, survive the fat corrupted
    * tail q585 demonstrates; the τ-monotone slopes read out the
    * chars-per-token DISTRIBUTION, not just its center.
    *
    * Scale shape: the 39-cell (slope × τ) grid broadcasts onto one
    * document scan; each cell's pinball loss is one conditional sum;
    * the argmin is a grid-sized struct-min, no windows at all. */
  private val q586 = QueryDef(
    "q586_quantile_regression_grid",
    (spark, dir) => {
      import graft.functions.expressions.token_count
      val spark0 = spark
      import spark0.implicits._
      val slopes = (0 until 13).map(i => 3000L + 250L * i)
      val grid = (for { s <- slopes; t <- Seq(100L, 500L, 900L) } yield (s, t))
        .toDF("s_milli", "tau_pml")
      val base = Tables.documents(spark, dir)
        .select(col("n_chars").as("y"),
          token_count(col("text")).cast("long").as("x"))
        .filter(col("x") >= 1L)
      base.crossJoin(broadcast(grid))
        .select(col("s_milli"), col("tau_pml"),
          expr("y - x * s_milli div 1000").as("r"))
        .groupBy(col("s_milli"), col("tau_pml"))
        .agg(sum(expr(
          "CASE WHEN r >= 0 THEN tau_pml * r ELSE (tau_pml - 1000) * r END"))
          .as("pinball_pml"))
        .groupBy(col("tau_pml"))
        .agg(min(struct(col("pinball_pml"), col("s_milli"))).as("best"))
        .select(col("tau_pml"),
          col("best.s_milli").as("best_slope_milli"),
          col("best.pinball_pml").as("pinball_loss_pml"))
        .orderBy(col("tau_pml"))
    },
    Some {
      val cells = (0 until 13).map(i => 3000 + 250 * i)
        .flatMap(s => Seq(100, 500, 900).map(t => s"($s, $t)")).mkString(", ")
      s"""
      WITH grid(s_milli, tau_pml) AS (VALUES $cells),
      base AS (
        SELECT n_chars AS y,
          CAST(len($duckTokens)
            AS BIGINT) AS x
        FROM documents
        WHERE len($duckTokens) >= 1),
      loss AS (
        SELECT CAST(s_milli AS BIGINT) AS s_milli,
          CAST(tau_pml AS BIGINT) AS tau_pml,
          CAST(sum(CASE WHEN y - x * s_milli // 1000 >= 0
            THEN tau_pml * (y - x * s_milli // 1000)
            ELSE (tau_pml - 1000) * (y - x * s_milli // 1000) END)
            AS BIGINT) AS pinball_pml
        FROM base CROSS JOIN grid
        GROUP BY 1, 2),
      best AS (
        SELECT tau_pml, s_milli, pinball_pml,
          row_number() OVER (PARTITION BY tau_pml
            ORDER BY pinball_pml, s_milli) AS rk
        FROM loss)
      SELECT tau_pml, s_milli AS best_slope_milli,
        pinball_pml AS pinball_loss_pml
      FROM best WHERE rk = 1 ORDER BY tau_pml
    """
    })

  // ---------------------------------------------------------------- q587

  /** Placebo regression-discontinuity check: net item revenue trends
    * smoothly in the discount (price × (1 − d) — slope, no jump), so a
    * sharp-RD estimate at the 5% cutoff should find NOTHING — and the
    * audit shows the naive global above-vs-below comparison "finding"
    * a large effect (it absorbs the whole trend) while the local
    * bandwidth estimate shrinks toward zero as the window narrows.
    * The negative-control every threshold-based causal claim (free
    * shipping over $X, priority over size Y) should pass first.
    *
    * Scale shape: one scan folds (discount-bucket) cells — the running
    * variable has ≤ 11 discrete values, so local means at any
    * bandwidth are conditional sums over those cells; the 3-bandwidth
    * grid lands on the cell table. */
  private val q587 = QueryDef(
    "q587_placebo_rd_audit",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(1L, 2L, 3L).toDF("bw_pct")
      val cells = Tables.lineitem(spark, dir)
        .select(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("d"),
          expr("""CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
              div 100""").as("net"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"), sum(col("net")).as("s"))
      val global = cells.agg(
        expr("sum(CASE WHEN d >= 5 THEN s ELSE 0 END) " +
          "div greatest(sum(CASE WHEN d >= 5 THEN n ELSE 0 END), 1)")
          .as("g_above"),
        expr("sum(CASE WHEN d < 5 THEN s ELSE 0 END) " +
          "div greatest(sum(CASE WHEN d < 5 THEN n ELSE 0 END), 1)")
          .as("g_below"))
      cells.crossJoin(broadcast(grid))
        .groupBy(col("bw_pct"))
        .agg(
          expr("""sum(CASE WHEN d >= 5 AND d < 5 + bw_pct THEN s ELSE 0 END)
              div greatest(sum(CASE WHEN d >= 5 AND d < 5 + bw_pct
                THEN n ELSE 0 END), 1)""").as("local_above"),
          expr("""sum(CASE WHEN d >= 5 - bw_pct AND d < 5 THEN s ELSE 0 END)
              div greatest(sum(CASE WHEN d >= 5 - bw_pct AND d < 5
                THEN n ELSE 0 END), 1)""").as("local_below"),
          sum(when(expr("d >= 5 - bw_pct AND d < 5 + bw_pct"), col("n"))
            .otherwise(0L)).as("n_local"))
        .crossJoin(broadcast(global))
        .select(col("bw_pct"), col("n_local"),
          expr("local_above - local_below").as("local_jump_cents"),
          expr("g_above - g_below").as("global_diff_cents"))
        .orderBy(col("bw_pct"))
    },
    Some("""
      WITH cells AS (
        SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
            // 100) AS BIGINT) AS s
        FROM lineitem GROUP BY 1),
      gstats AS (
        SELECT
          CAST(sum(CASE WHEN d >= 5 THEN s ELSE 0 END)
            // greatest(sum(CASE WHEN d >= 5 THEN n ELSE 0 END), 1)
            AS BIGINT) AS g_above,
          CAST(sum(CASE WHEN d < 5 THEN s ELSE 0 END)
            // greatest(sum(CASE WHEN d < 5 THEN n ELSE 0 END), 1)
            AS BIGINT) AS g_below
        FROM cells),
      grid(bw_pct) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        (CAST(3 AS BIGINT))),
      loc AS (
        SELECT bw_pct,
          CAST(sum(CASE WHEN d >= 5 AND d < 5 + bw_pct THEN s ELSE 0 END)
            // greatest(sum(CASE WHEN d >= 5 AND d < 5 + bw_pct
              THEN n ELSE 0 END), 1) AS BIGINT) AS local_above,
          CAST(sum(CASE WHEN d >= 5 - bw_pct AND d < 5 THEN s ELSE 0 END)
            // greatest(sum(CASE WHEN d >= 5 - bw_pct AND d < 5
              THEN n ELSE 0 END), 1) AS BIGINT) AS local_below,
          CAST(sum(CASE WHEN d >= 5 - bw_pct AND d < 5 + bw_pct
            THEN n ELSE 0 END) AS BIGINT) AS n_local
        FROM cells CROSS JOIN grid GROUP BY 1)
      SELECT bw_pct, n_local,
        CAST(local_above - local_below AS BIGINT) AS local_jump_cents,
        CAST(g_above - g_below AS BIGINT) AS global_diff_cents
      FROM loc CROSS JOIN gstats ORDER BY bw_pct
    """))

  def defs: Seq[QueryDef] = Seq(q585, q586, q587)
}
