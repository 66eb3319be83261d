package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 batch 3: nominal-association measures — the log-free
  * answers to "are these two categorical columns related, and how
  * much?", which is the first question asked of any new metadata
  * column (does `source` predict `lang`? is event mix time-of-day
  * dependent?). Mutual information needs logarithms the exact-integer
  * oracle contract can't express; Goodman–Kruskal λ (modal PRE),
  * Goodman–Kruskal τ (Gini PRE), and Cramér's V (χ²-normalized) are
  * the standard log-free alternatives, and all three fold to exact
  * integer arithmetic over a dimension-bounded contingency table.
  * Complements q_gamma (ordinal concordance) — these are for UNORDERED
  * categories.
  */
object NominalAssocPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q651

  /** Goodman–Kruskal λ both ways on documents(source, lang): the
    * proportional reduction in MODAL prediction error. Guessing the
    * target's global mode errs N − max(marginal); knowing X errs
    * N − Σ_x max_y(n_xy); λ is the error reduction. λ = 0 means X's
    * value never changes the best guess (possible even under strong
    * dependence — λ is deliberately blunt); the two directions differ
    * whenever the table is asymmetric, which is exactly what the
    * direction column surfaces.
    *
    * Scale shape: ONE documents scan folds to the (source × lang)
    * contingency (dimension-bounded); both directions are arithmetic
    * over those cells; readout is 2 rows. */
  private val q651 = QueryDef(
    "q651_gk_lambda_direction",
    (spark, dir) => {
      val ct = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      def lambdaOf(x: String, y: String, tag: String) = {
        val modelCorrect = ct.groupBy(col(x)).agg(max(col("n")).as("mx"))
          .agg(sum(col("mx")).as("model_correct"))
        val baseCorrect = ct.groupBy(col(y)).agg(sum(col("n")).as("m"))
          .agg(max(col("m")).as("base_correct"))
        val n = ct.agg(sum(col("n")).as("n_total"))
        modelCorrect.crossJoin(baseCorrect).crossJoin(n)
          .select(lit(tag).as("direction"), col("n_total"),
            col("base_correct"), col("model_correct"),
            expr("""(model_correct - base_correct) * 1000000
                div (n_total - base_correct)""").as("lambda_ppm"))
      }
      lambdaOf("source", "lang", "source_to_lang")
        .unionAll(lambdaOf("lang", "source", "lang_to_source"))
        .orderBy(col("direction"))
    },
    Some("""
      WITH ct AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM ct),
      s2l AS (
        SELECT 'source_to_lang' AS direction, t.n_total,
          (SELECT CAST(max(m) AS BIGINT) FROM
            (SELECT sum(n) AS m FROM ct GROUP BY lang)) AS base_correct,
          (SELECT CAST(sum(mx) AS BIGINT) FROM
            (SELECT max(n) AS mx FROM ct GROUP BY source)) AS model_correct
        FROM tot t),
      l2s AS (
        SELECT 'lang_to_source' AS direction, t.n_total,
          (SELECT CAST(max(m) AS BIGINT) FROM
            (SELECT sum(n) AS m FROM ct GROUP BY source)) AS base_correct,
          (SELECT CAST(sum(mx) AS BIGINT) FROM
            (SELECT max(n) AS mx FROM ct GROUP BY lang)) AS model_correct
        FROM tot t),
      u AS (SELECT * FROM s2l UNION ALL SELECT * FROM l2s)
      SELECT direction, n_total, base_correct, model_correct,
        CAST((model_correct - base_correct) * 1000000
          // (n_total - base_correct) AS BIGINT) AS lambda_ppm
      FROM u ORDER BY direction
    """))

  // ---------------------------------------------------------------- q652

  /** Goodman–Kruskal τ both ways on documents(source, lang): the
    * Gini-impurity PRE that sees what λ's modal bluntness misses —
    * probabilistic prediction error drops whenever ANY cell deviates
    * from independence, not only when the conditional mode moves.
    * Expected correct guesses ×10⁶: model Σ_x ⌊S_x·10⁶/n_x⌋ (S_x =
    * Σ_y n_xy²), baseline ⌊S_··10⁶/N⌋; τ_ppm is the floored-composed
    * ratio — both engines evaluate the identical floor chain, so the
    * compare stays byte-exact.
    *
    * Scale shape: q651's contingency fold; per-direction work is one
    * keyed quadratic-sum over the bounded cells; readout is 2 rows. */
  private val q652 = QueryDef(
    "q652_gk_tau_direction",
    (spark, dir) => {
      val ct = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      // quadratic-sum and ppm terms in DECIMAL(38,0) (HUGEINT on the
      // oracle side): sx·10⁶ in raw BIGINT wraps past ~3·10⁶ docs per
      // class under ANSI-off (the q653 discipline; round-8 advice).
      // Exact while Σn²·10⁶ < 10³⁸ — N ≲ 10¹⁶ rows; the hits_ppm
      // readouts themselves stay ≤ N·10⁶, BIGINT-safe to N ≈ 9·10¹².
      def tauOf(x: String, y: String, tag: String) = {
        val model = ct.groupBy(col(x))
          .agg(sum(col("n").cast("decimal(38,0)") * col("n")).as("sx"),
            sum(col("n")).as("nx"))
          .agg(sum(expr("sx * 1000000 div nx")).as("model_hits_ppm"))
        val base = ct.groupBy(col(y)).agg(sum(col("n")).as("m"))
          .agg(sum(col("m").cast("decimal(38,0)") * col("m")).as("sy"))
        val n = ct.agg(sum(col("n")).as("n_total"))
        model.crossJoin(base).crossJoin(n)
          .select(lit(tag).as("direction"), col("n_total"),
            expr("sy * 1000000 div n_total").as("base_hits_ppm"),
            col("model_hits_ppm"))
          .select(col("direction"), col("n_total"), col("base_hits_ppm"),
            col("model_hits_ppm"),
            expr("""CAST(model_hits_ppm - base_hits_ppm AS DECIMAL(38,0)) * 1000000
                div (n_total * 1000000 - base_hits_ppm)""").as("tau_ppm"))
      }
      tauOf("source", "lang", "source_to_lang")
        .unionAll(tauOf("lang", "source", "lang_to_source"))
        .orderBy(col("direction"))
    },
    Some("""
      WITH ct AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM ct),
      s2l AS (
        SELECT 'source_to_lang' AS direction, t.n_total,
          (SELECT CAST(sum(CAST(m AS HUGEINT) * m) * 1000000 // t.n_total
             AS BIGINT) FROM
            (SELECT CAST(sum(n) AS BIGINT) AS m FROM ct GROUP BY lang))
            AS base_hits_ppm,
          (SELECT CAST(sum(sx * 1000000 // nx) AS BIGINT) FROM
            (SELECT sum(CAST(n AS HUGEINT) * n) AS sx,
                    CAST(sum(n) AS BIGINT) AS nx
             FROM ct GROUP BY source)) AS model_hits_ppm
        FROM tot t),
      l2s AS (
        SELECT 'lang_to_source' AS direction, t.n_total,
          (SELECT CAST(sum(CAST(m AS HUGEINT) * m) * 1000000 // t.n_total
             AS BIGINT) FROM
            (SELECT CAST(sum(n) AS BIGINT) AS m FROM ct GROUP BY source))
            AS base_hits_ppm,
          (SELECT CAST(sum(sx * 1000000 // nx) AS BIGINT) FROM
            (SELECT sum(CAST(n AS HUGEINT) * n) AS sx,
                    CAST(sum(n) AS BIGINT) AS nx
             FROM ct GROUP BY lang)) AS model_hits_ppm
        FROM tot t),
      u AS (SELECT * FROM s2l UNION ALL SELECT * FROM l2s)
      SELECT direction, n_total, base_hits_ppm, model_hits_ppm,
        CAST(CAST(model_hits_ppm - base_hits_ppm AS HUGEINT) * 1000000
          // (n_total * 1000000 - base_hits_ppm) AS BIGINT) AS tau_ppm
      FROM u ORDER BY direction
    """))

  // ---------------------------------------------------------------- q653

  /** Cramér's V battery over three table-spanning categorical pairs:
    * documents(source × lang), events(event_type × 6-hour day slot),
    * orders(orderpriority × orderstatus). χ² in exact ppm per cell —
    * (n_ij·N − r_i·c_j)²·10⁶ div (N·r_i·c_j), DECIMAL(38,0)
    * intermediates (exact while N⁴·10⁶ < 10³⁸, i.e. N ≲ 10⁸ rows per
    * pair; the q639 ceiling note's arithmetic) — then
    * V_milli = isqrt(χ²_ppm div (N·min(r−1, c−1))), the [0, 1000]
    * effect size that makes χ² comparable across differently-sized
    * tables. The battery form ranks the three relationships on one
    * scale.
    *
    * Scale shape: three independent scans, each folding to a
    * dimension-bounded contingency; margins join back on the bounded
    * cells (broadcast); readout is 3 rows.
    *
    * SCALING (round-8 probe): 1.05 s at sf0.01 → 1.47 s at sf0.1 (10×
    * data, 1.4× time) — three scans' worth of fixed job launches
    * dominate; the contingency arithmetic is SF-invariant. */
  private val q653 = QueryDef(
    "q653_cramers_v_battery",
    (spark, dir) => {
      def vOf(ctIn: org.apache.spark.sql.DataFrame, tag: String) = {
        val ct = ctIn.toDF("x", "y", "n")
        val rm = ct.groupBy(col("x")).agg(sum(col("n")).as("r"))
        val cm = ct.groupBy(col("y")).agg(sum(col("n")).as("c"))
        val tot = ct.agg(sum(col("n")).as("nt"),
          countDistinct(col("x")).as("nr"), countDistinct(col("y")).as("nc"))
        ct.join(broadcast(rm), Seq("x")).join(broadcast(cm), Seq("y"))
          .crossJoin(broadcast(tot))
          .select(col("nt"), col("nr"), col("nc"),
            expr("""CAST(CAST(n * nt - r * c AS DECIMAL(38,0))
                * (n * nt - r * c) * 1000000
              div (CAST(nt AS DECIMAL(38,0)) * r * c) AS BIGINT)""")
              .as("cell_ppm"))
          .groupBy(col("nt"), col("nr"), col("nc"))
          .agg(sum(col("cell_ppm")).as("chi2_ppm"))
          .select(lit(tag).as("pair"), col("nt").as("n"),
            expr("least(nr - 1, nc - 1)").as("df_min"), col("chi2_ppm"),
            expr(SqlMacros.isqrt("chi2_ppm div (nt * least(nr - 1, nc - 1))"))
              .as("v_milli"))
      }
      val docs = Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
        .groupBy(col("event_type"),
          expr("hour(ts) div 6").cast("long").as("slot"))
        .agg(count(lit(1)).as("n"))
      val ord = Tables.orders(spark, dir)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      vOf(docs, "doc_source_lang")
        .unionAll(vOf(ev, "event_type_dayslot"))
        .unionAll(vOf(ord, "order_priority_status"))
        .orderBy(col("pair"))
    },
    Some(s"""
      WITH ct1 AS (SELECT source AS x, lang AS y, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      ct2 AS (SELECT event_type AS x,
          CAST(CAST(hour(ts) AS BIGINT) // 6 AS BIGINT) AS y,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      ct3 AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
          CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
      v1 AS (
        SELECT 'doc_source_lang' AS pair, t.nt AS n,
          CAST(least(t.nr - 1, t.nc - 1) AS BIGINT) AS df_min,
          CAST(sum(CAST(c.n * t.nt - r.r * m.c AS HUGEINT)
              * (c.n * t.nt - r.r * m.c) * 1000000
            // (CAST(t.nt AS HUGEINT) * r.r * m.c)) AS BIGINT) AS chi2_ppm
        FROM ct1 c
        JOIN (SELECT x, CAST(sum(n) AS BIGINT) AS r FROM ct1 GROUP BY x) r
          ON r.x = c.x
        JOIN (SELECT y, CAST(sum(n) AS BIGINT) AS c FROM ct1 GROUP BY y) m
          ON m.y = c.y
        CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS nt,
          CAST(count(DISTINCT x) AS BIGINT) AS nr,
          CAST(count(DISTINCT y) AS BIGINT) AS nc FROM ct1) t
        GROUP BY t.nt, t.nr, t.nc),
      v2 AS (
        SELECT 'event_type_dayslot' AS pair, t.nt AS n,
          CAST(least(t.nr - 1, t.nc - 1) AS BIGINT) AS df_min,
          CAST(sum(CAST(c.n * t.nt - r.r * m.c AS HUGEINT)
              * (c.n * t.nt - r.r * m.c) * 1000000
            // (CAST(t.nt AS HUGEINT) * r.r * m.c)) AS BIGINT) AS chi2_ppm
        FROM ct2 c
        JOIN (SELECT x, CAST(sum(n) AS BIGINT) AS r FROM ct2 GROUP BY x) r
          ON r.x = c.x
        JOIN (SELECT y, CAST(sum(n) AS BIGINT) AS c FROM ct2 GROUP BY y) m
          ON m.y = c.y
        CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS nt,
          CAST(count(DISTINCT x) AS BIGINT) AS nr,
          CAST(count(DISTINCT y) AS BIGINT) AS nc FROM ct2) t
        GROUP BY t.nt, t.nr, t.nc),
      v3 AS (
        SELECT 'order_priority_status' AS pair, t.nt AS n,
          CAST(least(t.nr - 1, t.nc - 1) AS BIGINT) AS df_min,
          CAST(sum(CAST(c.n * t.nt - r.r * m.c AS HUGEINT)
              * (c.n * t.nt - r.r * m.c) * 1000000
            // (CAST(t.nt AS HUGEINT) * r.r * m.c)) AS BIGINT) AS chi2_ppm
        FROM ct3 c
        JOIN (SELECT x, CAST(sum(n) AS BIGINT) AS r FROM ct3 GROUP BY x) r
          ON r.x = c.x
        JOIN (SELECT y, CAST(sum(n) AS BIGINT) AS c FROM ct3 GROUP BY y) m
          ON m.y = c.y
        CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS nt,
          CAST(count(DISTINCT x) AS BIGINT) AS nr,
          CAST(count(DISTINCT y) AS BIGINT) AS nc FROM ct3) t
        GROUP BY t.nt, t.nr, t.nc),
      u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
            UNION ALL SELECT * FROM v3)
      SELECT pair, n, df_min, chi2_ppm,
        ${SqlMacros.isqrt("chi2_ppm // (n * df_min)")} AS v_milli
      FROM u ORDER BY pair
    """))

  override def defs: Seq[QueryDef] = Seq(q651, q652, q653)
}
