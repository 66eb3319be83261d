package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 9: selection and projection audits — JL sign-projection
  * distortion, optimal-stopping (secretary) rules, and winner's-curse
  * selection bias. All outputs integers / strings with total ORDER BYs
  * for the oracle gate.
  */
object ProjectionPlanQueries extends QueryGroup {

  /** Quantized-vector form (the repo's ×512 power-of-two convention),
    * each engine's dialect. The deterministic ±1 sign below uses bit 16
    * of the Knuth hash of the (coordinate, output-dim) index — NOT the
    * low bit, which an odd multiplier preserves from the input parity. */
  private val qvSpark =
    "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"

  // ---------------------------------------------------------------- q567

  /** Johnson–Lindenstrauss sign-projection distortion audit: project
    * the 64-dim embeddings onto ±1 random hyperplanes (a deterministic
    * sign matrix from hashed indices — the database-friendly JL
    * variant: no gaussians, the projection is a codegen'd per-row
    * expression) and measure, on all pairs of a 20-vector probe panel,
    * the ratio of projected to original squared distance at target
    * dims 8/16/32 (nested prefixes of one 32-dim projection). For sign
    * matrices E‖Sx‖² = d′·‖x‖², so ratio_ppm ≈ 10⁶ with spread
    * shrinking as d′ grows — the p10/p50/p90 band tells you the
    * smallest sketch dim that keeps neighbor structure before you
    * ship the projection corpus-wide.
    *
    * Scale shape: the projection is an in-row nested-HOF expression
    * (corpus-safe: one narrow pass, no shuffle); the audit measures
    * on a BOUNDED 20-probe panel (190 pairs — the q484 bounded-grid
    * precedent, sanctioned), and the quantile summary windows are
    * partitioned by target dim over those 190 rows. */
  private val q567 = QueryDef(
    "q567_jl_projection_distortion",
    (spark, dir) => {
      val proj = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 20L)
        .select(col("vec_id"), expr(qvSpark).as("qv"))
        .select(col("vec_id"), col("qv"), expr(
          """transform(sequence(0, 31), j ->
               aggregate(sequence(1, 64), 0L, (acc, i) -> acc +
                 CASE WHEN ((i * 32 + j) * 2654435761L) % 4294967296
                        div 65536 % 2 = 0
                 THEN element_at(qv, i) ELSE -element_at(qv, i) END))""")
          .as("y"))
      val a = proj.select(col("vec_id").as("ida"), col("qv").as("qa"), col("y").as("ya"))
      val b = proj.select(col("vec_id").as("idb"), col("qv").as("qb"), col("y").as("yb"))
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(8L, 16L, 32L).toDF("dprime")
      val ratios = a.join(b, col("ida") < col("idb"))
        .crossJoin(broadcast(grid))
        .select(col("dprime"), col("ida"), col("idb"),
          expr("""aggregate(sequence(1, 64), 0L, (acc, i) -> acc +
              (element_at(qa, i) - element_at(qb, i))
            * (element_at(qa, i) - element_at(qb, i)))""").as("d_orig2"),
          expr("""aggregate(sequence(1, CAST(dprime AS INT)), 0L, (acc, j) -> acc +
              (element_at(ya, j) - element_at(yb, j))
            * (element_at(ya, j) - element_at(yb, j)))""").as("d_proj2"))
        .select(col("dprime"), col("ida"), col("idb"),
          expr("d_proj2 * 1000000 div (dprime * d_orig2)").as("ratio_ppm"))
      val byD = Window.partitionBy(col("dprime"))
      val ordered = byD.orderBy(col("ratio_ppm"), col("ida"), col("idb"))
      ratios
        .withColumn("rn", row_number().over(ordered))
        .withColumn("np", count(lit(1)).over(byD))
        .groupBy(col("dprime")).agg(
          max(col("np")).as("n_pairs"),
          max(when(col("rn") === expr("(np * 10 + 99) div 100"),
            col("ratio_ppm"))).as("p10_ppm"),
          max(when(col("rn") === expr("(np * 50 + 99) div 100"),
            col("ratio_ppm"))).as("p50_ppm"),
          max(when(col("rn") === expr("(np * 90 + 99) div 100"),
            col("ratio_ppm"))).as("p90_ppm"))
        .orderBy(col("dprime"))
    },
    Some(s"""
      WITH proj AS (
        SELECT vec_id, qv,
          list_transform(range(0, 32), j ->
            CAST(list_sum(list_transform(range(1, 65), i ->
              CASE WHEN ((i * 32 + j) * 2654435761) % 4294967296 // 65536 % 2 = 0
              THEN qv[CAST(i AS INTEGER)]
              ELSE -qv[CAST(i AS INTEGER)] END)) AS BIGINT)) AS y
        FROM (SELECT vec_id, $duckQuantVec AS qv FROM embeddings WHERE vec_id < 20)),
      grid(dprime) AS (VALUES (CAST(8 AS BIGINT)), (CAST(16 AS BIGINT)),
        (CAST(32 AS BIGINT))),
      pairs AS (
        SELECT g.dprime, a.vec_id AS ida, b.vec_id AS idb,
          CAST(list_sum(list_transform(range(1, 65), i ->
            (a.qv[CAST(i AS INTEGER)] - b.qv[CAST(i AS INTEGER)])
            * (a.qv[CAST(i AS INTEGER)] - b.qv[CAST(i AS INTEGER)])))
            AS BIGINT) AS d_orig2,
          CAST(list_sum(list_transform(range(1, CAST(g.dprime AS INTEGER) + 1), j ->
            (a.y[CAST(j AS INTEGER)] - b.y[CAST(j AS INTEGER)])
            * (a.y[CAST(j AS INTEGER)] - b.y[CAST(j AS INTEGER)])))
            AS BIGINT) AS d_proj2
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id CROSS JOIN grid g),
      r AS (
        SELECT dprime, ida, idb,
          CAST(d_proj2 * 1000000 // (dprime * d_orig2) AS BIGINT) AS ratio_ppm
        FROM pairs),
      w AS (
        SELECT dprime, ratio_ppm,
          row_number() OVER (PARTITION BY dprime
            ORDER BY ratio_ppm, ida, idb) AS rn,
          count(*) OVER (PARTITION BY dprime) AS np
        FROM r)
      SELECT dprime, CAST(max(np) AS BIGINT) AS n_pairs,
        CAST(max(CASE WHEN rn = (np * 10 + 99) // 100 THEN ratio_ppm END)
          AS BIGINT) AS p10_ppm,
        CAST(max(CASE WHEN rn = (np * 50 + 99) // 100 THEN ratio_ppm END)
          AS BIGINT) AS p50_ppm,
        CAST(max(CASE WHEN rn = (np * 90 + 99) // 100 THEN ratio_ppm END)
          AS BIGINT) AS p90_ppm
      FROM w GROUP BY dprime ORDER BY dprime
    """))

  // ---------------------------------------------------------------- q568

  /** Optimal-stopping (secretary) audit: treat each order-month as a
    * hiring season whose candidates arrive in orderkey order with
    * value = order total, and score the classical stopping rule —
    * observe the first r% without committing, then take the first
    * candidate beating the observed best (or the last one if none
    * does) — at r = 25/37/50. The 1/e rule (r≈37) maximizes the
    * probability of picking the month's single best order; the audit
    * reports how often each r actually wins and the mean rank of what
    * it settles for — the evidence for sizing any look-then-leap
    * policy (reserve prices, preview windows, early-stopping
    * thresholds) on real arrival streams.
    *
    * Scale shape: every window is PARTITIONED by month (frames are
    * orders-per-month sized); the three rules reuse one prefix-max
    * pass; the final readout aggregates month verdicts into 3 rule
    * rows via stack from a one-row global. */
  private val q568 = QueryDef(
    "q568_secretary_stopping_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val byM = Window.partitionBy(col("ym"))
      val ordered = byM.orderBy(col("ok"))
      val prefix = ordered.rowsBetween(Window.unboundedPreceding, 0)
      var df = Tables.orders(spark, dir)
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"),
          col("o_orderkey").as("ok"), cents(col("o_totalprice")).as("x"))
        .withColumn("rn", row_number().over(ordered))
        .withColumn("n", count(lit(1)).over(byM))
        .withColumn("pmax", max(col("x")).over(prefix))
        .withColumn("mx", max(col("x")).over(byM))
        .withColumn("last_x", max(when(col("rn") === col("n"), col("x"))).over(byM))
      for (r <- Seq(25, 37, 50)) {
        df = df
          .withColumn(s"cut$r", expr(s"greatest((n * $r) div 100, 1)"))
          .withColumn(s"b$r",
            max(when(col("rn") === col(s"cut$r"), col("pmax"))).over(byM))
          .withColumn(s"prn$r",
            min(when(col("rn") > col(s"cut$r") && col("x") > col(s"b$r"),
              col("rn"))).over(byM))
          .withColumn(s"pick$r", coalesce(
            max(when(col("rn") === col(s"prn$r"), col("x"))).over(byM),
            col("last_x")))
          .withColumn(s"rank$r",
            sum(when(col("x") > col(s"pick$r"), 1L).otherwise(0L)).over(byM) + 1L)
      }
      val perMonth = df.groupBy(col("ym")).agg(
        max(when(expr("pick25 = mx"), 1L).otherwise(0L)).as("w25"),
        max(when(expr("pick37 = mx"), 1L).otherwise(0L)).as("w37"),
        max(when(expr("pick50 = mx"), 1L).otherwise(0L)).as("w50"),
        max(col("rank25")).as("r25"), max(col("rank37")).as("r37"),
        max(col("rank50")).as("r50"))
      perMonth.agg(
          count(lit(1)).as("n_stages"),
          sum(col("w25")).as("s25"), sum(col("w37")).as("s37"),
          sum(col("w50")).as("s50"),
          sum(col("r25")).as("t25"), sum(col("r37")).as("t37"),
          sum(col("r50")).as("t50"))
        .select(col("n_stages"), expr("""stack(3,
            CAST(25 AS BIGINT), s25, t25,
            CAST(37 AS BIGINT), s37, t37,
            CAST(50 AS BIGINT), s50, t50) AS (r_pct, n_best, rank_total)"""))
        .select(col("r_pct"), col("n_stages"), col("n_best"),
          expr("n_best * 1000000 div n_stages").as("best_pick_ppm"),
          expr("rank_total * 1000 div n_stages").as("avg_pick_rank_milli"))
        .orderBy(col("r_pct"))
    },
    Some("""
      WITH base AS (
        SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
          o_orderkey AS ok,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
        FROM orders),
      w AS (
        SELECT ym, ok, x,
          row_number() OVER m_ord AS rn,
          count(*) OVER m AS n,
          max(x) OVER (m_ord ROWS UNBOUNDED PRECEDING) AS pmax,
          max(x) OVER m AS mx
        FROM base
        WINDOW m AS (PARTITION BY ym),
               m_ord AS (PARTITION BY ym ORDER BY ok)),
      w2 AS (
        SELECT *, max(CASE WHEN rn = n THEN x END) OVER m AS last_x,
          greatest((n * 25) // 100, 1) AS cut25,
          greatest((n * 37) // 100, 1) AS cut37,
          greatest((n * 50) // 100, 1) AS cut50
        FROM w WINDOW m AS (PARTITION BY ym)),
      w3 AS (
        SELECT *,
          max(CASE WHEN rn = cut25 THEN pmax END) OVER m AS b25,
          max(CASE WHEN rn = cut37 THEN pmax END) OVER m AS b37,
          max(CASE WHEN rn = cut50 THEN pmax END) OVER m AS b50
        FROM w2 WINDOW m AS (PARTITION BY ym)),
      w4 AS (
        SELECT *,
          min(CASE WHEN rn > cut25 AND x > b25 THEN rn END) OVER m AS prn25,
          min(CASE WHEN rn > cut37 AND x > b37 THEN rn END) OVER m AS prn37,
          min(CASE WHEN rn > cut50 AND x > b50 THEN rn END) OVER m AS prn50
        FROM w3 WINDOW m AS (PARTITION BY ym)),
      w5 AS (
        SELECT *,
          coalesce(max(CASE WHEN rn = prn25 THEN x END) OVER m, last_x) AS pick25,
          coalesce(max(CASE WHEN rn = prn37 THEN x END) OVER m, last_x) AS pick37,
          coalesce(max(CASE WHEN rn = prn50 THEN x END) OVER m, last_x) AS pick50
        FROM w4 WINDOW m AS (PARTITION BY ym)),
      w6 AS (
        SELECT *,
          sum(CASE WHEN x > pick25 THEN 1 ELSE 0 END) OVER m + 1 AS rank25,
          sum(CASE WHEN x > pick37 THEN 1 ELSE 0 END) OVER m + 1 AS rank37,
          sum(CASE WHEN x > pick50 THEN 1 ELSE 0 END) OVER m + 1 AS rank50
        FROM w5 WINDOW m AS (PARTITION BY ym)),
      pm AS (
        SELECT ym,
          max(CASE WHEN pick25 = mx THEN 1 ELSE 0 END) AS w25,
          max(CASE WHEN pick37 = mx THEN 1 ELSE 0 END) AS w37,
          max(CASE WHEN pick50 = mx THEN 1 ELSE 0 END) AS w50,
          max(rank25) AS r25, max(rank37) AS r37, max(rank50) AS r50
        FROM w6 GROUP BY ym),
      one AS (
        SELECT CAST(count(*) AS BIGINT) AS n_stages,
          CAST(sum(w25) AS BIGINT) AS s25, CAST(sum(w37) AS BIGINT) AS s37,
          CAST(sum(w50) AS BIGINT) AS s50,
          CAST(sum(r25) AS BIGINT) AS t25, CAST(sum(r37) AS BIGINT) AS t37,
          CAST(sum(r50) AS BIGINT) AS t50
        FROM pm),
      rules AS (
        SELECT CAST(25 AS BIGINT) AS r_pct, n_stages, s25 AS n_best,
          t25 AS rank_total FROM one
        UNION ALL SELECT 37, n_stages, s37, t37 FROM one
        UNION ALL SELECT 50, n_stages, s50, t50 FROM one)
      SELECT r_pct, n_stages, n_best,
        CAST(n_best * 1000000 // n_stages AS BIGINT) AS best_pick_ppm,
        CAST(rank_total * 1000 // n_stages AS BIGINT) AS avg_pick_rank_milli
      FROM rules ORDER BY r_pct
    """))

  // ---------------------------------------------------------------- q569

  /** Winner's-curse audit: hash customers into 4/8/16 A/A arms, split
    * each arm into an estimation half and a holdout half, pick the
    * "winning" arm by estimation-half mean order value, and report the
    * winner's apparent lift over the grand mean next to the SAME
    * arm's lift on untouched holdout data. Every arm is identical by
    * construction, so the estimation lift is pure selection bias —
    * max of k noisy means — which grows with the number of arms while
    * the holdout lift hovers near zero. The one-table demonstration of
    * why the best variant of many always disappoints in the follow-up.
    *
    * Scale shape: one scan assigns the finest (16-arm × 2-half) cell;
    * all three arm counts re-aggregate those 32 cells (arm16 mod A
    * IS the coarser assignment — one pass over the corpus total); the
    * winner argmax and lifts run on grid-sized frames. */
  private val q569 = QueryDef(
    "q569_winners_curse_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      // HIGH hash bits for both assignments: an odd multiplier preserves
      // the key's low bits mod 2^k, so `% 16` / `% 2` would make the
      // half a deterministic function of the arm (and empty the
      // winner-holdout join); bits 28+ and 31 are independent-ish
      val cells = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("x"),
          Sampling.keyHash(col("o_custkey")).as("h1"),
          Sampling.keyHash(col("o_custkey"), 2246822519L).as("h2"))
        .select(col("x"), expr("h1 div 268435456").as("arm16"),
          expr("h2 div 2147483648").as("half"))
        .groupBy(col("arm16"), col("half"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(4L, 8L, 16L).toDF("n_arms")
      val perArm = cells.crossJoin(broadcast(grid))
        .groupBy(col("n_arms"), expr("arm16 % n_arms").as("arm"), col("half"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      val est = perArm.filter(col("half") === 0L)
        .select(col("n_arms"), col("arm"), expr("s div n").as("est_mean"))
      val hold = perArm.filter(col("half") === 1L)
        .select(col("n_arms"), col("arm"), expr("s div n").as("hold_mean"))
      val grand = perArm.groupBy(col("n_arms"), col("half"))
        .agg(expr("sum(s) div sum(n)").as("gm"))
      val gEst = grand.filter(col("half") === 0L)
        .select(col("n_arms"), col("gm").as("grand_est_mean"))
      val gHold = grand.filter(col("half") === 1L)
        .select(col("n_arms"), col("gm").as("grand_hold_mean"))
      val winner = est
        .withColumn("rk", row_number().over(Window.partitionBy(col("n_arms"))
          .orderBy(col("est_mean").desc, col("arm"))))
        .filter(col("rk") === 1)
        .select(col("n_arms"), col("arm").as("winner_arm"),
          col("est_mean").as("winner_est_mean"))
      winner
        .join(hold.withColumnRenamed("arm", "winner_arm"), Seq("n_arms", "winner_arm"))
        .join(gEst, Seq("n_arms")).join(gHold, Seq("n_arms"))
        .select(col("n_arms"), col("winner_arm"),
          col("winner_est_mean").as("winner_est_mean_cents"),
          col("grand_est_mean").as("grand_est_mean_cents"),
          expr("(winner_est_mean - grand_est_mean) * 1000000 div grand_est_mean")
            .as("est_lift_ppm"),
          expr("(hold_mean - grand_hold_mean) * 1000000 div grand_hold_mean")
            .as("holdout_lift_ppm"))
        .orderBy(col("n_arms"))
    },
    Some("""
      WITH cells AS (
        SELECT ((o_custkey % 2147483648) * 2654435761) % 4294967296
            // 268435456 AS arm16,
          ((o_custkey % 2147483648) * 2246822519) % 4294967296
            // 2147483648 AS half,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
        FROM orders GROUP BY 1, 2),
      grid(n_arms) AS (VALUES (CAST(4 AS BIGINT)), (CAST(8 AS BIGINT)),
        (CAST(16 AS BIGINT))),
      pa AS (
        SELECT g.n_arms, arm16 % g.n_arms AS arm, half,
          CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s
        FROM cells CROSS JOIN grid g GROUP BY 1, 2, 3),
      est AS (SELECT n_arms, arm, CAST(s // n AS BIGINT) AS est_mean
              FROM pa WHERE half = 0),
      hold AS (SELECT n_arms, arm, CAST(s // n AS BIGINT) AS hold_mean
               FROM pa WHERE half = 1),
      grand AS (
        SELECT n_arms, half, CAST(sum(s) // sum(n) AS BIGINT) AS gm
        FROM pa GROUP BY 1, 2),
      win AS (
        SELECT n_arms, arm AS winner_arm, est_mean AS winner_est_mean
        FROM (SELECT *, row_number() OVER (PARTITION BY n_arms
                ORDER BY est_mean DESC, arm) AS rk FROM est)
        WHERE rk = 1)
      SELECT w.n_arms, w.winner_arm,
        w.winner_est_mean AS winner_est_mean_cents,
        ge.gm AS grand_est_mean_cents,
        CAST((w.winner_est_mean - ge.gm) * 1000000 // ge.gm AS BIGINT)
          AS est_lift_ppm,
        CAST((h.hold_mean - gh.gm) * 1000000 // gh.gm AS BIGINT)
          AS holdout_lift_ppm
      FROM win w
      JOIN hold h ON h.n_arms = w.n_arms AND h.arm = w.winner_arm
      JOIN grand ge ON ge.n_arms = w.n_arms AND ge.half = 0
      JOIN grand gh ON gh.n_arms = w.n_arms AND gh.half = 1
      ORDER BY w.n_arms
    """))

  def defs: Seq[QueryDef] = Seq(q567, q568, q569)
}
