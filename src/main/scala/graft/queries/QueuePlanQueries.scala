package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-7 batch 4: service-capacity planning beyond the loss system —
  * Erlang-C wait probability (the delay-system companion to q560's
  * Erlang-B), Jackson tandem bottleneck analysis, and an EDF/backlog
  * feasibility audit under a capacity grid. All exact integer fixed
  * point (ppm/centi) with total ORDER BYs for the oracle gate.
  */
object QueuePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q608

  /** Erlang-C delay probability: where Erlang-B (q560) drops arrivals
    * that find all s servers busy, Erlang-C queues them, and
    * C(s, a) = s·B/(s − a·(1−B)) is the probability a caller WAITS —
    * the contact-center/thread-pool staffing statistic. Computed from
    * q560's exact ppm B-recursion per hour-of-day, read at s ∈
    * {4, 8, 12} plus the smallest s with P(wait) ≤ 20% (an unstable
    * system, a ≥ s, pins C at 10⁶: everyone waits, the queue diverges).
    *
    * Scale shape: [[CensusPlanQueries.erlangB]], as q560 — events fold
    * to 24 hour-of-day rows, the 12-step recursion is a codegen'd column
    * chain, no joins or windows. Fixed point: num = s·B·10⁸ ≤ 1.2 × 10¹⁵; den ≥ 1 by
    * the stability guard. */
  private val q608 = QueryDef(
    "q608_erlang_c_staffing",
    (spark, dir) => {
      var df = CensusPlanQueries.erlangB(spark, dir)
      for (c <- Seq(4, 8, 12))
        df = df.withColumn(s"c$c", expr(
          s"""CASE WHEN a_centi >= $c * 100 THEN 1000000
              ELSE ($c * b$c * 100) div (($c * 100000000 - a_centi * (1000000 - b$c)) div 1000000) END"""))
      val sla = (1 to 12).map { c =>
        s"""WHEN a_centi < $c * 100 AND ($c * b$c * 100)
            div (($c * 100000000 - a_centi * (1000000 - b$c)) div 1000000)
            <= 200000 THEN $c"""
      }.mkString(" ")
      df.select(col("hod"), col("a_centi"),
          col("c4").as("wait_prob_s4_ppm"), col("c8").as("wait_prob_s8_ppm"),
          col("c12").as("wait_prob_s12_ppm"),
          expr(s"CAST(CASE $sla ELSE -1 END AS BIGINT)").as("min_agents_20pct"))
        .orderBy(col("hod"))
    },
    Some {
      val steps = (1 to 12).map { c =>
        val prev = if (c == 1) "CAST(1000000 AS BIGINT)" else s"b${c - 1}"
        s"""h$c AS (SELECT *, CAST((1000000 * a_centi * $prev)
           // ($c * 100000000 + a_centi * $prev) AS BIGINT) AS b$c FROM h${c - 1})"""
      }.mkString(",\n      ")
      def cexpr(c: Int) =
        s"""CASE WHEN a_centi >= $c * 100 THEN 1000000
            ELSE ($c * b$c * 100) // (($c * 100000000 - a_centi * (1000000 - b$c)) // 1000000) END"""
      val sla = (1 to 12).map(c =>
        s"WHEN a_centi < $c * 100 AND (${cexpr(c)}) <= 200000 THEN $c").mkString(" ")
      s"""
      WITH h0 AS (
        SELECT hod, CAST(count(*) AS BIGINT) AS arrivals,
          CAST(count(DISTINCT day) AS BIGINT) AS n_days,
          CAST(count(*) * 100 // (count(DISTINCT day) * 6) AS BIGINT) AS a_centi
        FROM (SELECT (epoch_ms(ts) // 1000 // 3600) % 24 AS hod,
                epoch_ms(ts) // 1000 // 86400 AS day
              FROM events)
        GROUP BY hod),
      $steps
      SELECT hod, a_centi,
        CAST(${cexpr(4)} AS BIGINT) AS wait_prob_s4_ppm,
        CAST(${cexpr(8)} AS BIGINT) AS wait_prob_s8_ppm,
        CAST(${cexpr(12)} AS BIGINT) AS wait_prob_s12_ppm,
        CAST(CASE $sla ELSE -1 END AS BIGINT) AS min_agents_20pct
      FROM h12 ORDER BY hod
    """
    })

  // ---------------------------------------------------------------- q609

  /** Jackson tandem bottleneck: treat the five event types as stations
    * of a processing pipeline, each with measured arrival rate λᵢ
    * (events per observed second) and service demand sᵢ (mean value as
    * centi-seconds). Utilization ρᵢ = λᵢ·sᵢ; the max-ρ station is the
    * bottleneck, and the fleet's growth headroom before saturation is
    * 1/max ρ — the product-form network's first-order answer to "which
    * stage falls over first and how much traffic can we still take".
    *
    * Scale shape: one event scan → 5 per-type aggregate rows + a
    * one-row observed-span broadcast; all arithmetic on the 5-row
    * grid. */
  private val q609 = QueryDef(
    "q609_tandem_bottleneck",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), epochS(col("ts")).as("es"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("svc_centi"))
      val span = ev.agg((max(col("es")) - min(col("es")) + 1L).as("span_s"))
      val byType = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("arrivals"), sum(col("svc_centi")).as("svc_sum"))
        .withColumn("svc_centi", expr("svc_sum div arrivals"))
      val rho = byType.crossJoin(broadcast(span))
        .select(col("event_type"), col("arrivals"), col("svc_centi"),
          expr("arrivals * svc_centi * 10000 div span_s").as("rho_ppm"))
      val worst = rho.agg(max(col("rho_ppm")).as("max_rho_ppm"))
      rho.crossJoin(broadcast(worst))
        .select(col("event_type"), col("arrivals"), col("svc_centi"),
          col("rho_ppm"),
          (col("rho_ppm") === col("max_rho_ppm")).as("is_bottleneck"),
          expr("1000000000000 div max_rho_ppm").as("headroom_ppm"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, epoch_ms(ts) // 1000 AS es,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS svc_centi
        FROM events),
      span AS (SELECT CAST(max(es) - min(es) + 1 AS BIGINT) AS span_s FROM ev),
      t AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS arrivals,
          CAST(sum(svc_centi) // count(*) AS BIGINT) AS svc_centi
        FROM ev GROUP BY event_type),
      rho AS (
        SELECT event_type, arrivals, svc_centi,
          CAST(arrivals * svc_centi * 10000 // span_s AS BIGINT) AS rho_ppm
        FROM t CROSS JOIN span),
      w AS (SELECT CAST(max(rho_ppm) AS BIGINT) AS max_rho_ppm FROM rho)
      SELECT event_type, arrivals, svc_centi, rho_ppm,
        rho_ppm = max_rho_ppm AS is_bottleneck,
        CAST(1000000000000 // max_rho_ppm AS BIGINT) AS headroom_ppm
      FROM rho CROSS JOIN w ORDER BY event_type
    """))

  // ---------------------------------------------------------------- q610

  /** Deadline-feasibility audit by backlog recurrence: daily released
    * work w(t) (event values as centi-work) against a capacity grid
    * c ∈ {80%, 100%, 120%} of mean daily load. With a COMMON relative
    * deadline, EDF equals FIFO, and the backlog identity
    * backlog(t) = P(t) − min_{s ≤ t} P(s), P(t) = Σ(w − c), turns the
    * day-by-day max(0, prev + w − c) recurrence into two running
    * windows over the day series — max backlog then prices the worst
    * catch-up time, and feasibility under a D-day deadline is
    * max_backlog ≤ c·D.
    *
    * Scale shape: events fold to one row per observed day; the running
    * sum/min windows run over that calendar-bounded series (the q130
    * class); the 3-row capacity grid broadcasts. */
  private val q610 = QueryDef(
    "q610_deadline_backlog_audit",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(800L, 1000L, 1200L).toDF("cap_permille")
      val byDay = Tables.events(spark, dir)
        .select(epochS(col("ts")).as("es"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("w_centi"))
        .groupBy(expr("es div 86400").as("day"))
        .agg(sum(col("w_centi")).as("w"))
      val mean = byDay.agg(expr("sum(w) div count(1)").as("mean_w"),
        count(lit(1)).as("n_days"))
      val wP = Window.partitionBy(col("cap_permille")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val backlog = byDay.crossJoin(broadcast(grid))
        .crossJoin(broadcast(mean))
        .withColumn("c", expr("mean_w * cap_permille div 1000"))
        .withColumn("p", sum(col("w") - col("c")).over(wP))
        .withColumn("minp", least(min(col("p")).over(wP), lit(0L)))
        .withColumn("backlog", col("p") - col("minp"))
      backlog.groupBy(col("cap_permille"))
        .agg(max(col("c")).as("capacity_centi"),
          max(col("backlog")).as("max_backlog_centi"),
          max(col("n_days")).as("n_days"))
        .select(col("cap_permille"), col("capacity_centi"),
          col("max_backlog_centi"),
          expr("max_backlog_centi * 1000 div capacity_centi")
            .as("catchup_days_milli"),
          (col("max_backlog_centi") <= col("capacity_centi")).as("feasible_1d"),
          (col("max_backlog_centi") <= col("capacity_centi") * 3L).as("feasible_3d"))
        .orderBy(col("cap_permille"))
    },
    Some("""
      WITH grid(cap_permille) AS (VALUES (CAST(800 AS BIGINT)),
        (CAST(1000 AS BIGINT)), (CAST(1200 AS BIGINT))),
      byday AS (
        SELECT epoch_ms(ts) // 1000 // 86400 AS day,
          CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS w
        FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w,
              CAST(count(*) AS BIGINT) AS n_days FROM byday),
      b AS (
        SELECT cap_permille, day, w, mean_w * cap_permille // 1000 AS c,
          sum(w - mean_w * cap_permille // 1000) OVER
            (PARTITION BY cap_permille ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS p
        FROM byday CROSS JOIN grid CROSS JOIN m),
      bl AS (
        SELECT cap_permille, c,
          p - least(min(p) OVER (PARTITION BY cap_permille ORDER BY day
            ROWS UNBOUNDED PRECEDING), 0) AS backlog
        FROM b),
      agg AS (
        SELECT cap_permille, CAST(max(c) AS BIGINT) AS capacity_centi,
          CAST(max(backlog) AS BIGINT) AS max_backlog_centi
        FROM bl GROUP BY cap_permille)
      SELECT cap_permille, capacity_centi, max_backlog_centi,
        CAST(max_backlog_centi * 1000 // capacity_centi AS BIGINT)
          AS catchup_days_milli,
        max_backlog_centi <= capacity_centi AS feasible_1d,
        max_backlog_centi <= capacity_centi * 3 AS feasible_3d
      FROM agg ORDER BY cap_permille
    """))

  override def defs: Seq[QueryDef] = Seq(q608, q609, q610)
}
