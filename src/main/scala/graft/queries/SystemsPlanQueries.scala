package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.queries.SqlMacros._

/** Round-5 serving/storage-infrastructure planning operators: the
  * distributed-systems capacity math a 100 TB corpus platform runs over
  * its own telemetry — hedged-request tail latency (Dean & Barroso's
  * "The Tail at Scale"), quorum-read order statistics, Reed-Solomon
  * erasure-coding tradeoffs, group-commit batching, backlog-catchup
  * capacity, and replica region placement. All outputs integers with
  * total ORDER BYs; latency math runs on a value-resolution-bounded
  * CCDF (distinct latency values), never the raw event stream.
  */
object SystemsPlanQueries extends QueryGroup {

  /** Click-event "latency" population in exact centi-units, its CCDF
    * over DISTINCT values (le = #{lat ≤ v}, gt = #{lat > v}), and the
    * one-row total. The CCDF is bounded by value resolution (≤ ~50k
    * distinct cents regardless of SF) — every downstream pass works on
    * it, so the unpartitioned cumulative window is histogram-sized, not
    * data-sized. */
  private def latencyCcdf(spark: SparkSession, dir: String): DataFrame = {
    val lat = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(cents(col("value")).as("v"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lat.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("le", sum(col("c")).over(cum))
      .crossJoin(broadcast(lat.agg(count(lit(1)).as("n"))))
      .select(col("v"), col("le"), (col("n") - col("le")).as("gt"), col("n"))
  }

  private val ccdfSql: String = """
      lat AS (
        SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type = 'click'),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lat),
      ccdf AS (
        SELECT v, le, n - le AS gt, n FROM (
          SELECT v, sum(c) OVER (ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS le
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS c
                FROM lat GROUP BY v)) CROSS JOIN tot)"""

  // ---------------------------------------------------------------- q510

  /** Hedged-request tail-latency planner ("The Tail at Scale"): if a
    * request's reply has not arrived by deadline d, send one backup and
    * take the first answer. For d at the empirical p90/p95/p99, the
    * completion time is min(X₁, d + X₂) with X i.i.d. from the observed
    * latency CCDF, so P(T > t) = P(X > t)·P(X > t−d) — evaluated
    * EXACTLY on the grid {v} ∪ {v+d} of points where either factor
    * changes. Reports, per deadline: the extra backup load the policy
    * buys (P(X > d)) and the plain vs hedged p99 — the load/latency
    * tradeoff row a serving fleet reads before turning hedging on.
    *
    * Scale shape: everything after the one events scan runs on the
    * distinct-value CCDF (value-resolution-bounded, not data-sized);
    * the as-of lookups are running-min windows partitioned per
    * deadline (gt is monotone in v, so "gt at the largest v ≤ t" is a
    * prefix MIN over the pos-sorted union of CCDF and query points);
    * the totals row is a one-row broadcast. */
  private val q510 = QueryDef(
    "q510_tail_hedging_policy",
    (spark, dir) => {
      val ccdf = latencyCcdf(spark, dir).persist()
      // deadlines: k-th order statistics, k = ceil(n·pm/1000)
      // (le ≥ ceil(n·pm/1000) ⇔ le·1000 ≥ n·pm for positive integers)
      val deadlines = ccdf
        .select(col("v"), col("le"), col("n"),
          explode(array(lit(900L), lit(950L), lit(990L))).as("pm"))
        .filter(col("le") * 1000 >= col("n") * col("pm"))
        .groupBy(col("pm")).agg(min(col("v")).as("d"))
      // evaluation grid: both factors of P(X>t)·P(X>t−d) change only at
      // t ∈ {v} ∪ {v+d}
      val grid = ccdf.select(col("v"))
        .crossJoin(broadcast(deadlines))
        .select(col("pm"), col("d"),
          explode(array(col("v"), col("v") + col("d"))).as("t"))
        .distinct()
      // as-of lookup: gt at the largest CCDF v ≤ qpos (n when qpos is
      // below the whole support). gt is non-increasing in v, so it is a
      // running MIN over the (pos, isq)-sorted union.
      def gtAt(q: DataFrame, qpos: Column, out: String): DataFrame = {
        val probes = q.select(col("pm"), col("t"), qpos.as("pos"))
          .withColumn("gt_c", lit(null).cast("long")).withColumn("isq", lit(1))
        val anchors = ccdf.crossJoin(broadcast(deadlines.select(col("pm"))))
          .select(col("pm"), lit(null).cast("long").as("t"), col("v").as("pos"),
            col("gt").as("gt_c"), lit(0).as("isq"))
        val w = Window.partitionBy("pm").orderBy("pos", "isq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        anchors.unionByName(probes)
          .withColumn("runmin",
            min(coalesce(col("gt_c"), lit(Long.MaxValue))).over(w))
          .filter(col("isq") === 1)
          .select(col("pm"), col("t"), col("runmin").as(out))
      }
      val a = gtAt(grid, col("t"), "raw_a")
      val b = gtAt(grid, col("t") - col("d"), "raw_b")
      val hedged = a.join(b, Seq("pm", "t"))
        .crossJoin(broadcast(ccdf.select(col("n")).limit(1)))
        .select(col("pm"), col("t"),
          expr("least(n, raw_a)").as("ga"), expr("least(n, raw_b)").as("gb"),
          col("n"))
        .filter(expr("(ga * 1000000 div n) * gb div n <= 10000"))
        .groupBy(col("pm")).agg(min(col("t")).as("p99_hedged"))
      val p99Plain = ccdf.filter(col("gt") * 100 <= col("n"))
        .agg(min(col("v")).as("p99_plain"))
      deadlines
        .join(ccdf.select(col("v"), col("gt"), col("n")),
          col("d") === col("v"))
        .select(col("pm"), col("d"),
          expr("gt * 1000000 div n").as("extra_load_ppm"))
        .crossJoin(broadcast(p99Plain))
        .join(hedged, Seq("pm"))
        .select(col("pm").as("deadline_permille"), col("d").as("deadline_c"),
          col("extra_load_ppm"), col("p99_plain"), col("p99_hedged"))
        .orderBy(col("deadline_permille"))
    },
    Some(s"""
      WITH $ccdfSql,
      deadlines AS (
        SELECT pm, min(v) AS d
        FROM ccdf CROSS JOIN (SELECT unnest([900, 950, 990]) AS pm)
        WHERE le * 1000 >= n * pm GROUP BY pm),
      grid AS (
        SELECT DISTINCT pm, d, t
        FROM ccdf CROSS JOIN deadlines
          CROSS JOIN LATERAL (SELECT unnest([v, v + d]) AS t)),
      probes_a AS (
        SELECT pm, t, t AS pos, CAST(NULL AS BIGINT) AS gt_c, 1 AS isq
        FROM grid
        UNION ALL
        SELECT d.pm, CAST(NULL AS BIGINT), c.v, c.gt, 0
        FROM ccdf c CROSS JOIN deadlines d),
      a AS (
        SELECT pm, t, min(coalesce(gt_c, 9223372036854775807))
            OVER (PARTITION BY pm ORDER BY pos, isq
              ROWS UNBOUNDED PRECEDING) AS raw_a, isq
        FROM probes_a),
      probes_b AS (
        SELECT pm, t, t - d AS pos, CAST(NULL AS BIGINT) AS gt_c, 1 AS isq
        FROM grid
        UNION ALL
        SELECT d.pm, CAST(NULL AS BIGINT), c.v, c.gt, 0
        FROM ccdf c CROSS JOIN deadlines d),
      b AS (
        SELECT pm, t, min(coalesce(gt_c, 9223372036854775807))
            OVER (PARTITION BY pm ORDER BY pos, isq
              ROWS UNBOUNDED PRECEDING) AS raw_b, isq
        FROM probes_b),
      hedged AS (
        SELECT a.pm, min(a.t) AS p99_hedged
        FROM (SELECT pm, t, raw_a FROM a WHERE isq = 1) a
        JOIN (SELECT pm, t, raw_b FROM b WHERE isq = 1) b
          USING (pm, t) CROSS JOIN tot
        WHERE (least(n, raw_a) * 1000000 // n) * least(n, raw_b) // n <= 10000
        GROUP BY a.pm),
      plain AS (SELECT min(v) AS p99_plain FROM ccdf WHERE gt * 100 <= n)
      SELECT CAST(d.pm AS BIGINT) AS deadline_permille, d.d AS deadline_c,
        CAST(c.gt * 1000000 // c.n AS BIGINT) AS extra_load_ppm,
        plain.p99_plain, hedged.p99_hedged
      FROM deadlines d
      JOIN ccdf c ON d.d = c.v
      CROSS JOIN plain
      JOIN hedged ON hedged.pm = d.pm
      ORDER BY deadline_permille
    """))

  // ---------------------------------------------------------------- q511

  /** Quorum-read latency from order statistics: with N=3 replicas and
    * read quorum R, the client waits for the R-th fastest reply, so
    * P(T_R > t) = P(≥ N−R+1 replicas exceed t) — a polynomial in the
    * per-replica exceedance q(t) evaluated in exact floor-ppm
    * arithmetic on the latency CCDF. Emits p50/p99/p999 for R=1
    * (fastest-of-3, the read-repair racer), R=2 (majority), R=3
    * (read-your-writes against W=1) plus the matching write quorum —
    * the consistency/latency menu a storage tier chooses from.
    *
    * Scale shape: one events scan builds the value-resolution-bounded
    * CCDF; the R×grid evaluation is 3× that histogram; the total is a
    * one-row broadcast. */
  private val q511 = QueryDef(
    "q511_quorum_read_latency",
    (spark, dir) => {
      val ccdf = latencyCcdf(spark, dir)
      // q in ppm; all three quorum polynomials with identical floor order
      val evald = ccdf
        .select(col("v"), expr("gt * 1000000 div n").as("q"))
        .select(col("v"), col("q"),
          expr("q * q div 1000000").as("qq"),
          expr("1000000 - q").as("s"))
        .select(col("v"),
          explode(array(
            struct(lit(1L).as("r"), expr("(qq * q) div 1000000").as("p")),
            struct(lit(2L).as("r"),
              expr("3 * ((qq * (1000000 - q)) div 1000000) + (qq * q) div 1000000")
                .as("p")),
            struct(lit(3L).as("r"),
              expr("1000000 - ((s * s div 1000000) * s) div 1000000").as("p"))))
            .as("rp"))
        .select(col("rp.r").as("r"), col("v"), col("rp.p").as("p"))
      evald.groupBy(col("r")).agg(
          min(when(col("p") <= 500000L, col("v"))).as("p50"),
          min(when(col("p") <= 10000L, col("v"))).as("p99"),
          min(when(col("p") <= 1000L, col("v"))).as("p999"))
        .select(col("r").as("read_quorum"), (lit(4L) - col("r")).as("write_quorum"),
          col("p50"), col("p99"), col("p999"))
        .orderBy(col("read_quorum"))
    },
    Some(s"""
      WITH $ccdfSql,
      qs AS (
        SELECT v, q, q * q // 1000000 AS qq, 1000000 - q AS s
        FROM (SELECT v, gt * 1000000 // n AS q FROM ccdf)),
      evald AS (
        SELECT r, v, p FROM qs CROSS JOIN LATERAL (
          SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), (qq * q) // 1000000),
            (CAST(2 AS BIGINT),
             3 * ((qq * (1000000 - q)) // 1000000) + (qq * q) // 1000000),
            (CAST(3 AS BIGINT),
             1000000 - ((s * s // 1000000) * s) // 1000000)) AS t(r, p)))
      SELECT r AS read_quorum, 4 - r AS write_quorum,
        min(CASE WHEN p <= 500000 THEN v END) AS p50,
        min(CASE WHEN p <= 10000 THEN v END) AS p99,
        min(CASE WHEN p <= 1000 THEN v END) AS p999
      FROM evald GROUP BY r ORDER BY read_quorum
    """))

  // ---------------------------------------------------------------- q512

  /** Reed-Solomon erasure-coding plan: for RS(k,m) configs from plain
    * 3× replication (k=1,m=2) to RS(10,4), price the corpus at 4 KiB
    * blocks — storage overhead, stripe count, the k-block reads one
    * lost block's repair costs, and the exact hypergeometric
    * probability that the MINIMAL fatal failure count (m+1 simultaneous
    * node losses out of N=24) lands entirely on one stripe's placement
    * group. The durability/overhead/repair menu behind every storage
    * tier choice; wider stripes store cheaper but repair wider and die
    * to fewer coincident failures per stripe.
    *
    * Scale shape: one documents aggregate (total chars) cross-joined
    * onto a 4-row literal config grid — binomials are compile-time
    * constants of N=24. */
  private val q512 = QueryDef(
    "q512_erasure_code_plan",
    (spark, dir) => {
      val nNodes = 24
      def binom(n: Int, k: Int): Long =
        if (k < 0 || k > n) 0L
        else (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
      val block = 4096L
      val configs = Seq((1L, 2L), (4L, 2L), (6L, 3L), (10L, 4L))
      val spark0 = spark
      import spark0.implicits._
      val grid = configs.map { case (k, m) =>
        (k, m, binom((k + m).toInt, (m + 1).toInt) * 1000000L /
          binom(nNodes, (m + 1).toInt))
      }.toDF("k", "m", "loss_ppm_at_min_kill")
      val total = Tables.documents(spark, dir)
        .agg(sum(col("n_chars")).as("total_chars"))
      broadcast(grid).crossJoin(total)
        .select(col("k"), col("m"),
          expr("(k + m) * 1000000 div k").as("storage_overhead_ppm"),
          expr("(total_chars + k * 4096 - 1) div (k * 4096)").as("stripes"),
          expr("((total_chars + k * 4096 - 1) div (k * 4096)) * (k + m)")
            .as("stored_blocks"),
          col("k").as("repair_reads_per_lost_block"),
          (col("m") + 1).as("min_kill_nodes"),
          col("loss_ppm_at_min_kill"))
        .orderBy(col("k"), col("m"))
    },
    Some {
      val nNodes = 24
      def binom(n: Int, k: Int): Long =
        if (k < 0 || k > n) 0L
        else (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
      val rows = Seq((1L, 2L), (4L, 2L), (6L, 3L)) :+ (10L, 4L)
      val values = rows.map { case (k, m) =>
        s"(CAST($k AS BIGINT), CAST($m AS BIGINT), CAST(${
          binom((k + m).toInt, (m + 1).toInt) * 1000000L /
            binom(nNodes, (m + 1).toInt)} AS BIGINT))"
      }.mkString(", ")
      s"""
      WITH grid(k, m, loss_ppm_at_min_kill) AS (VALUES $values),
      total AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars
                FROM documents)
      SELECT k, m,
        (k + m) * 1000000 // k AS storage_overhead_ppm,
        (total_chars + k * 4096 - 1) // (k * 4096) AS stripes,
        ((total_chars + k * 4096 - 1) // (k * 4096)) * (k + m)
          AS stored_blocks,
        k AS repair_reads_per_lost_block,
        m + 1 AS min_kill_nodes,
        loss_ppm_at_min_kill
      FROM grid CROSS JOIN total
      ORDER BY k, m
    """
    })

  // ---------------------------------------------------------------- q513

  /** Group-commit (write batching) sweep: flush the log at fixed
    * boundaries every w ∈ {1, 5, 20, 100} ms of event time; each event
    * waits until its window's flush. Exact per-window accounting —
    * commit count, fsync reduction vs per-event commits, total and
    * mean added latency, mean batch size (milli-events) — the
    * latency-for-throughput curve that picks a WAL flush interval.
    *
    * Scale shape: one events scan per nothing — the four windows ride
    * one explode; per-window rollups are 4-group aggregates; no joins,
    * no windows. */
  private val q513 = QueryDef(
    "q513_group_commit_sweep",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(unix_micros(col("ts").cast("timestamp")).as("us"))
        .select(col("us"),
          explode(array(lit(1000L), lit(5000L), lit(20000L), lit(100000L)))
            .as("w"))
      ev.groupBy(col("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(expr("us div w")).as("n_commits"),
          sum(expr("(us div w + 1) * w - us")).as("sum_wait_us"))
        .select((col("w") / 1000L).cast("long").as("window_ms"),
          col("n_events"), col("n_commits"),
          expr("(n_events - n_commits) * 1000000 div n_events")
            .as("fsync_reduction_ppm"),
          expr("sum_wait_us div n_events").as("mean_wait_us"),
          expr("n_events * 1000 div n_commits").as("batch_milli"))
        .orderBy(col("window_ms"))
    },
    Some("""
      WITH ev AS (
        SELECT epoch_us(ts) AS us, w
        FROM events CROSS JOIN (SELECT unnest([1000, 5000, 20000, 100000]) AS w)),
      agg AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_events,
          CAST(count(DISTINCT us // w) AS BIGINT) AS n_commits,
          CAST(sum((us // w + 1) * w - us) AS BIGINT) AS sum_wait_us
        FROM ev GROUP BY w)
      SELECT CAST(w // 1000 AS BIGINT) AS window_ms, n_events, n_commits,
        (n_events - n_commits) * 1000000 // n_events AS fsync_reduction_ppm,
        sum_wait_us // n_events AS mean_wait_us,
        n_events * 1000 // n_commits AS batch_milli
      FROM agg ORDER BY window_ms
    """))

  // ---------------------------------------------------------------- q514

  /** Backlog-catchup capacity plan: after a 2-hour outage at the PEAK
    * hourly arrival rate, a consumer with capacity multiplier
    * μ = mult‰ of the average rate drains the backlog in
    * B/(μ − λ_avg) hours while arrivals continue. Emits, per candidate
    * multiplier: the surplus rate, exact catchup time in milli-hours
    * (or infeasible), and the multiplier needed to recover within 4
    * hours — the "how much headroom do we actually buy" table behind
    * a streaming fleet's capacity reservation.
    *
    * Scale shape: one events scan → per-hour counts → three scalar
    * aggregates; the multiplier grid is a 4-row literal cross join. */
  private val q514 = QueryDef(
    "q514_backlog_catchup_plan",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val hourly = Tables.events(spark, dir)
        .select((epochS(col("ts")) / 3600L).cast("long").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
      val stats = hourly.agg(
        max(col("c")).as("peak"),
        (sum(col("c")) / countDistinct(col("h"))).cast("long").as("lam"))
      val grid = broadcast(stats)
        .select(col("peak"), col("lam"),
          explode(array(lit(1100L), lit(1250L), lit(1500L), lit(2000L)))
            .as("mult_permille"))
      grid.select(col("mult_permille"),
          col("lam").as("avg_hourly"), col("peak").as("peak_hourly"),
          (col("peak") * 2).as("backlog_events"),
          expr("lam * (mult_permille - 1000) div 1000").as("surplus_hourly"),
          when(expr("lam * (mult_permille - 1000) div 1000") <= 0, lit(-1L))
            .otherwise(expr(
              "peak * 2 * 1000 div (lam * (mult_permille - 1000) div 1000)"))
            .as("catchup_milli_hours"),
          expr("1000 + (peak * 2 * 1000 + 4 * lam - 1) div (4 * lam)")
            .as("mult_needed_4h_permille"))
        .orderBy(col("mult_permille"))
    },
    Some("""
      WITH hourly AS (
        SELECT epoch_ms(ts) // 1000 // 3600 AS h, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      stats AS (
        SELECT max(c) AS peak,
          CAST(floor(CAST(sum(c) AS DOUBLE) / count(DISTINCT h)) AS BIGINT)
            AS lam
        FROM hourly),
      grid AS (
        SELECT peak, lam, CAST(mult AS BIGINT) AS mult_permille
        FROM stats CROSS JOIN (SELECT unnest([1100, 1250, 1500, 2000]) AS mult))
      SELECT mult_permille, lam AS avg_hourly, peak AS peak_hourly,
        peak * 2 AS backlog_events,
        lam * (mult_permille - 1000) // 1000 AS surplus_hourly,
        CASE WHEN lam * (mult_permille - 1000) // 1000 <= 0 THEN -1
          ELSE peak * 2 * 1000 // (lam * (mult_permille - 1000) // 1000)
          END AS catchup_milli_hours,
        1000 + (peak * 2 * 1000 + 4 * lam - 1) // (4 * lam)
          AS mult_needed_4h_permille
      FROM grid ORDER BY mult_permille
    """))

  // ---------------------------------------------------------------- q515

  /** Replica region placement: serve the order stream from two of the
    * five geographic regions; orders from customers whose home region
    * hosts a replica read locally, the rest cross region. Scores every
    * C(5,2) placement by locally-served order fraction — the
    * data-gravity table that places read replicas where the traffic
    * actually originates.
    *
    * Scale shape: orders⋈customer is the only data-sized join (key
    * equi-join); nation/region and the 10-row placement grid are
    * broadcast; per-region totals are a 5-row aggregate joined twice
    * onto the pair grid. */
  private val q515 = QueryDef(
    "q515_replica_placement_plan",
    (spark, dir) => {
      val perRegion = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("cnt"))
        .persist()
      val pairs = perRegion.select(col("r_name").as("region_a"), col("cnt").as("cnt_a"))
        .crossJoin(broadcast(
          perRegion.select(col("r_name").as("region_b"), col("cnt").as("cnt_b"))))
        .filter(col("region_a") < col("region_b"))
      pairs
        .crossJoin(broadcast(perRegion.agg(sum(col("cnt")).as("total"))))
        .select(col("region_a"), col("region_b"),
          (col("cnt_a") + col("cnt_b")).as("local_orders"), col("total"),
          expr("(cnt_a + cnt_b) * 1000000 div total").as("local_ppm"))
        .orderBy(col("local_ppm").desc, col("region_a"), col("region_b"))
    },
    Some("""
      WITH per_region AS (
        SELECT r_name, CAST(count(*) AS BIGINT) AS cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name),
      total AS (SELECT sum(cnt) AS total FROM per_region)
      SELECT a.r_name AS region_a, b.r_name AS region_b,
        a.cnt + b.cnt AS local_orders, CAST(total AS BIGINT) AS total,
        CAST((a.cnt + b.cnt) * 1000000 // total AS BIGINT) AS local_ppm
      FROM per_region a JOIN per_region b ON a.r_name < b.r_name
      CROSS JOIN total
      ORDER BY local_ppm DESC, region_a, region_b
    """))

  // ---------------------------------------------------------------- q516

  /** Continuous-batching gain (Orca/vLLM vs static batching): a static
    * inference batch of B sequences decodes until its LONGEST member
    * finishes (everyone pays B × max tokens); continuous batching
    * admits a new sequence the moment one retires (everyone pays their
    * own length). Costed exactly over arrival-order batches of the
    * document stream for B ∈ {4, 8, 16, 32} — the headline speedup
    * that justifies an iteration-level scheduler.
    *
    * Scale shape: batch id is doc_id div B — a pure projection, no
    * window; one two-level aggregation per B (4× explode), continuous
    * cost is the same Σ tokens for every B. */
  private val q516 = QueryDef(
    "q516_continuous_batching_gain",
    (spark, dir) => {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr("size(filter(split(text, ' '), t -> t != ''))").cast("long")
            .as("tok"))
        .select(col("doc_id"), col("tok"),
          explode(array(lit(4L), lit(8L), lit(16L), lit(32L))).as("b"))
      toks.groupBy(col("b"), expr("doc_id div b").as("batch"))
        .agg(count(lit(1)).as("nb"), max(col("tok")).as("mx"),
          sum(col("tok")).as("tk"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("b") * col("mx")).as("static_steps"),
          sum(col("tk")).as("continuous_steps"))
        .select(col("b").as("batch_size"), col("n_batches"),
          col("static_steps"), col("continuous_steps"),
          expr("(static_steps - continuous_steps) * 1000000 div static_steps")
            .as("savings_ppm"))
        .orderBy(col("batch_size"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
          CAST(len($duckTokens)
            AS BIGINT) AS tok
        FROM documents),
      batched AS (
        SELECT b, doc_id // b AS batch, count(*) AS nb, max(tok) AS mx,
          sum(tok) AS tk
        FROM toks CROSS JOIN (SELECT unnest([4, 16, 8, 32]) AS b)
        GROUP BY b, doc_id // b),
      agg AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n_batches,
          CAST(sum(b * mx) AS BIGINT) AS static_steps,
          CAST(sum(tk) AS BIGINT) AS continuous_steps
        FROM batched GROUP BY b)
      SELECT CAST(b AS BIGINT) AS batch_size, n_batches, static_steps,
        continuous_steps,
        (static_steps - continuous_steps) * 1000000 // static_steps
          AS savings_ppm
      FROM agg ORDER BY batch_size
    """))

  // ---------------------------------------------------------------- q517

  /** Gang-scheduling fragmentation: jobs demanding g GPUs (gang = all
    * lineitems of an order, capped at 8) pack onto 8-GPU nodes; a node
    * hosts ⌊8/g⌋ gangs, stranding 8 mod (g·⌊8/g⌋) GPUs each — the
    * internal fragmentation that makes a "fully booked" GPU cluster run
    * at 87% utilization. Per gang size: job count, nodes needed,
    * stranded GPUs, utilization ppm, plus the demand share — the
    * fragmentation census behind bin-packing/MIG consolidation work.
    *
    * Scale shape: one lineitem→order-size aggregation (equi-group),
    * then an 8-row-max per-g rollup; the total GPU demand is a one-row
    * broadcast. */
  private val q517 = QueryDef(
    "q517_gang_schedule_fragmentation",
    (spark, dir) => {
      val gangs = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(least(count(lit(1)), lit(8L)).as("g"))
      val perG = gangs.groupBy(col("g")).agg(count(lit(1)).as("n_jobs"))
        .select(col("g"), col("n_jobs"),
          expr("8 div g").as("jobs_per_node"),
          expr("(n_jobs + (8 div g) - 1) div (8 div g)").as("nodes_needed"))
      perG
        .crossJoin(broadcast(
          gangs.agg(sum(col("g")).as("total_gpus_demanded"))))
        .select(col("g").as("gang_gpus"), col("n_jobs"),
          col("jobs_per_node"), col("nodes_needed"),
          expr("nodes_needed * 8 - n_jobs * g").as("stranded_gpus"),
          expr("n_jobs * g * 1000000 div (nodes_needed * 8)").as("util_ppm"),
          expr("n_jobs * g * 1000000 div total_gpus_demanded")
            .as("demand_share_ppm"))
        .orderBy(col("gang_gpus"))
    },
    Some("""
      WITH gangs AS (
        SELECT l_orderkey, least(CAST(count(*) AS BIGINT), 8) AS g
        FROM lineitem GROUP BY l_orderkey),
      per_g AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_jobs, 8 // g AS jobs_per_node,
          (CAST(count(*) AS BIGINT) + (8 // g) - 1) // (8 // g) AS nodes_needed
        FROM gangs GROUP BY g),
      tot AS (SELECT CAST(sum(g) AS BIGINT) AS total_gpus_demanded FROM gangs)
      SELECT g AS gang_gpus, n_jobs, jobs_per_node, nodes_needed,
        nodes_needed * 8 - n_jobs * g AS stranded_gpus,
        CAST(n_jobs * g * 1000000 // (nodes_needed * 8) AS BIGINT) AS util_ppm,
        CAST(n_jobs * g * 1000000 // total_gpus_demanded AS BIGINT)
          AS demand_share_ppm
      FROM per_g CROSS JOIN tot ORDER BY gang_gpus
    """))

  // ---------------------------------------------------------------- q518

  /** Retry-budget amplification: with per-shard failure rate f (error
    * events over all events, shard = user_id mod 8) and a budget of r
    * retries, success probability is 1 − f^(r+1) and offered load is
    * the truncated geometric Σ f^i — the pair that shows where retry
    * budgets stop buying availability and start amplifying outages
    * (retry storms). Exact floor-ppm powers per (shard, r ∈ 0..3).
    *
    * Scale shape: one events scan → 8-shard aggregate; the 4-budget
    * grid rides an explode on 8 rows. */
  private val q518 = QueryDef(
    "q518_retry_budget_amplification",
    (spark, dir) => {
      val shards = Tables.events(spark, dir)
        .select((col("user_id") % 8).as("shard"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), sum(col("is_err")).as("errs"))
        .select(col("shard"), expr("errs * 1000000 div n").as("f"))
        .select(col("shard"), col("f"),
          expr("f * f div 1000000").as("f2"))
        .select(col("shard"), col("f"), col("f2"),
          expr("f2 * f div 1000000").as("f3"),
          expr("f2 * f2 div 1000000").as("f4"))
      shards
        .select(col("shard"), col("f").as("fail_ppm"),
          explode(array(lit(0L), lit(1L), lit(2L), lit(3L))).as("budget"),
          col("f"), col("f2"), col("f3"), col("f4"))
        .select(col("shard"), col("fail_ppm"), col("budget"),
          (lit(1000000L) - expr(
            "CASE budget WHEN 0 THEN f WHEN 1 THEN f2 WHEN 2 THEN f3 ELSE f4 END"))
            .as("success_ppm"),
          expr("(1000000 + CASE WHEN budget >= 1 THEN f ELSE 0 END" +
            " + CASE WHEN budget >= 2 THEN f2 ELSE 0 END" +
            " + CASE WHEN budget >= 3 THEN f3 ELSE 0 END) div 1000")
            .as("attempts_milli"))
        .orderBy(col("shard"), col("budget"))
    },
    Some("""
      WITH shards AS (
        SELECT user_id % 8 AS shard, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS errs
        FROM events GROUP BY 1),
      powers AS (
        SELECT shard, f, f2, f2 * f // 1000000 AS f3, f2 * f2 // 1000000 AS f4
        FROM (SELECT shard, f, f * f // 1000000 AS f2
              FROM (SELECT shard, errs * 1000000 // n AS f FROM shards))),
      grid AS (
        SELECT shard, f, f2, f3, f4, CAST(budget AS BIGINT) AS budget
        FROM powers CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS budget))
      SELECT CAST(shard AS BIGINT) AS shard, CAST(f AS BIGINT) AS fail_ppm,
        budget,
        CAST(1000000 - (CASE budget WHEN 0 THEN f WHEN 1 THEN f2
          WHEN 2 THEN f3 ELSE f4 END) AS BIGINT) AS success_ppm,
        CAST((1000000 + CASE WHEN budget >= 1 THEN f ELSE 0 END
          + CASE WHEN budget >= 2 THEN f2 ELSE 0 END
          + CASE WHEN budget >= 3 THEN f3 ELSE 0 END) // 1000 AS BIGINT)
          AS attempts_milli
      FROM grid ORDER BY shard, budget
    """))

  // ---------------------------------------------------------------- q519

  /** Fan-out tail amplification: a request fanned out to s shards
    * completes at the MAX of s draws, so P(done ≤ t) = F(t)^s — the
    * reason a shard-level p99 becomes the user-level median at s=100
    * ("The Tail at Scale" §fan-out). For s ∈ {4, 16, 64, 256}: the
    * median and p99 of the max, and the probability the fan-out blows
    * the single-shard p99 — exact floor-ppm powers by repeated
    * squaring on the latency CCDF.
    *
    * Scale shape: everything runs on the value-resolution-bounded CCDF
    * (one events scan); powers are projections; the single-shard p99
    * anchor is a one-row broadcast. */
  private val q519 = QueryDef(
    "q519_fanout_tail_amplification",
    (spark, dir) => {
      val ccdf = latencyCcdf(spark, dir)
        .select(col("v"), expr("le * 1000000 div n").as("p1"), col("gt"),
          col("n"))
        .select(col("v"), col("gt"), col("n"), col("p1"),
          expr("p1 * p1 div 1000000").as("p2"))
        .select(col("v"), col("gt"), col("n"), col("p1"),
          expr("p2 * p2 div 1000000").as("p4"))
        .select(col("v"), col("gt"), col("n"), col("p1"), col("p4"),
          expr("(p4 * p4 div 1000000) * (p4 * p4 div 1000000) div 1000000")
            .as("p16"))
        .select(col("v"), col("gt"), col("n"), col("p1"), col("p4"),
          col("p16"),
          expr("(p16 * p16 div 1000000) * (p16 * p16 div 1000000) div 1000000")
            .as("p64sq"))
        .select(col("v"), col("gt"), col("n"), col("p1"), col("p4"),
          col("p16"), col("p64sq").as("p64"),
          expr("(p64sq * p64sq div 1000000) * (p64sq * p64sq div 1000000) div 1000000")
            .as("p256"))
        .persist()
      val p99single = ccdf.filter(col("gt") * 100 <= col("n"))
        .agg(min(col("v")).as("p99_single"))
      val evald = ccdf.select(col("v"),
          explode(array(
            struct(lit(4L).as("s"), col("p4").as("fs")),
            struct(lit(16L).as("s"), col("p16").as("fs")),
            struct(lit(64L).as("s"), col("p64").as("fs")),
            struct(lit(256L).as("s"), col("p256").as("fs")))).as("e"))
        .select(col("e.s").as("s"), col("v"), col("e.fs").as("fs"))
      val quantiles = evald.groupBy(col("s")).agg(
        min(when(lit(1000000L) - col("fs") <= 500000L, col("v"))).as("p50_max"),
        min(when(lit(1000000L) - col("fs") <= 10000L, col("v"))).as("p99_max"))
      val blow = evald
        .crossJoin(broadcast(p99single))
        .filter(col("v") === col("p99_single"))
        .select(col("s"), (lit(1000000L) - col("fs")).as("blown_at_single_p99_ppm"))
      quantiles.join(blow, Seq("s"))
        .select(col("s").as("fanout"), col("p50_max"), col("p99_max"),
          col("blown_at_single_p99_ppm"))
        .orderBy(col("fanout"))
    },
    Some(s"""
      WITH $ccdfSql,
      powers AS (
        SELECT v, gt, n, p1, p4, p16, p64sq AS p64,
          (p64sq * p64sq // 1000000) * (p64sq * p64sq // 1000000) // 1000000
            AS p256
        FROM (
          SELECT v, gt, n, p1, p4, p16,
            ((p16 * p16 // 1000000) * (p16 * p16 // 1000000) // 1000000)
              AS p64sq
          FROM (
            SELECT v, gt, n, p1, p4,
              (p4 * p4 // 1000000) * (p4 * p4 // 1000000) // 1000000 AS p16
            FROM (
              SELECT v, gt, n, p1, p2 * p2 // 1000000 AS p4
              FROM (
                SELECT v, gt, n, p1, p1 * p1 // 1000000 AS p2
                FROM (SELECT v, gt, n, le * 1000000 // n AS p1
                      FROM ccdf)))))),
      single AS (SELECT min(v) AS p99_single FROM ccdf WHERE gt * 100 <= n),
      evald AS (
        SELECT s, v, CASE s WHEN 4 THEN p4 WHEN 16 THEN p16
          WHEN 64 THEN p64 ELSE p256 END AS fs
        FROM powers CROSS JOIN (SELECT unnest([4, 16, 64, 256]) AS s)),
      quant AS (
        SELECT s, min(CASE WHEN 1000000 - fs <= 500000 THEN v END) AS p50_max,
          min(CASE WHEN 1000000 - fs <= 10000 THEN v END) AS p99_max
        FROM evald GROUP BY s),
      blow AS (
        SELECT s, CAST(1000000 - fs AS BIGINT) AS blown_at_single_p99_ppm
        FROM evald CROSS JOIN single WHERE v = p99_single)
      SELECT CAST(s AS BIGINT) AS fanout, p50_max, p99_max,
        blown_at_single_p99_ppm
      FROM quant JOIN blow USING (s) ORDER BY fanout
    """))

  // ---------------------------------------------------------------- q520

  /** Load-shedding (brownout) priority plan: under overload, drop the
    * cheapest traffic first — event types ranked by revenue per event,
    * shed ascending until the target fraction of events is gone, the
    * marginal type pro-rated. For shed targets of 10/25/50% of events:
    * how many types go dark entirely and what revenue fraction
    * survives — the table that turns "we must shed 25%" into a concrete
    * drop policy with a known revenue cost.
    *
    * Scale shape: one events fold to the 5-row per-type table; the
    * cumulative order and the 3-target sweep run on those 5 rows (the
    * window is type-cardinality-sized); totals are a one-row
    * broadcast. */
  private val q520 = QueryDef(
    "q520_load_shed_priority_plan",
    (spark, dir) => {
      val types = Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("rev"))
        .select(col("event_type"), col("n"), col("rev"),
          expr("rev * 1000 div n").as("density_milli"))
      val cum = Window.orderBy(col("density_milli"), col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = Window.orderBy(col("density_milli"), col("event_type"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = types
        .withColumn("cum_n", sum(col("n")).over(cum))
        .withColumn("cum_rev", sum(col("rev")).over(cum))
        .withColumn("prev_n", coalesce(sum(col("n")).over(prev), lit(0L)))
        .withColumn("prev_rev", coalesce(sum(col("rev")).over(prev), lit(0L)))
      ranked
        .crossJoin(broadcast(types.agg(sum(col("n")).as("tot_n"),
          sum(col("rev")).as("tot_rev"))))
        .select(col("event_type"), col("n"), col("rev"), col("density_milli"),
          col("prev_n"), col("prev_rev"), col("tot_n"), col("tot_rev"),
          explode(array(lit(100L), lit(250L), lit(500L))).as("shed_permille"))
        // the marginal type: sheds whatever of the target the cheaper
        // types did not cover, pro-rated at its own revenue density
        .select(col("shed_permille"), col("event_type"),
          expr("least(n, greatest(0, tot_n * shed_permille div 1000 - prev_n))")
            .as("shed_events"),
          col("n"), col("rev"), col("tot_n"), col("tot_rev"))
        .groupBy(col("shed_permille"))
        .agg(
          sum(when(col("shed_events") === col("n"), 1L).otherwise(0L))
            .as("types_fully_shed"),
          sum(col("shed_events")).as("events_shed"),
          sum(expr("shed_events * rev div n")).as("revenue_shed"),
          max(col("tot_n")).as("tot_n"), max(col("tot_rev")).as("tot_rev"))
        .select(col("shed_permille"), col("types_fully_shed"),
          col("events_shed"),
          expr("events_shed * 1000000 div tot_n").as("events_shed_ppm"),
          expr("(tot_rev - revenue_shed) * 1000000 div tot_rev")
            .as("revenue_retained_ppm"))
        .orderBy(col("shed_permille"))
    },
    Some("""
      WITH types AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        FROM events GROUP BY event_type),
      d AS (SELECT *, CAST(rev * 1000 // n AS BIGINT) AS density_milli
            FROM types),
      ranked AS (
        SELECT *,
          coalesce(CAST(sum(n) OVER (ORDER BY density_milli, event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
            AS prev_n
        FROM d),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
                CAST(sum(rev) AS BIGINT) AS tot_rev FROM types),
      sweep AS (
        SELECT shed_permille, event_type, n, rev, tot_n, tot_rev,
          least(n, greatest(0, tot_n * shed_permille // 1000 - prev_n))
            AS shed_events
        FROM ranked CROSS JOIN tot
        CROSS JOIN (SELECT CAST(unnest([100, 250, 500]) AS BIGINT)
                      AS shed_permille))
      SELECT shed_permille,
        CAST(sum(CASE WHEN shed_events = n THEN 1 ELSE 0 END) AS BIGINT)
          AS types_fully_shed,
        CAST(sum(shed_events) AS BIGINT) AS events_shed,
        CAST(sum(shed_events) * 1000000 // max(tot_n) AS BIGINT)
          AS events_shed_ppm,
        CAST((max(tot_rev) - sum(shed_events * rev // n)) * 1000000
          // max(tot_rev) AS BIGINT) AS revenue_retained_ppm
      FROM sweep GROUP BY shed_permille ORDER BY shed_permille
    """))

  // ---------------------------------------------------------------- q521

  /** Active-active write-conflict rate: two lineitems touching the same
    * part from DIFFERENT suppliers within the replication lag window
    * would collide on a multi-leader inventory row. Counts conflicting
    * ordered pairs for lag ∈ {1 h, 6 h, 24 h} — the conflict-rate curve
    * that decides between CRDT merge, single-leader, or per-key
    * leases.
    *
    * Scale shape: q105's coarse-bucket discipline — writes meet only
    * writes from their own or the previous day bucket (never a full
    * per-part history), so the self-join is (part, day)-local; one
    * rollup per lag rides an explode.
    *
    * TIMING note (round-7 root-cause of the r5→r6 1.82 s → 2.96 s
    * drift, no code change): the dominant term was GENERATED-CLASS
    * CACHE THRASH — Spark's codegen cache defaults to 100 entries, so
    * a 599-query suite evicts continuously and q521 re-ran janino on
    * plans the warm-up had already compiled. With the cache sized to
    * the suite (spark.sql.codegen.cache.maxEntries, GraftSession.local)
    * q521 is back to 1.83 s in-suite at sf0.1. The secondary term
    * (~0.4 s, measured with/without the guard) was the r6
    * always-clearCache honesty change; both effects were measurement
    * protocol, not plan regressions. */
  private val q521 = QueryDef(
    "q521_write_conflict_rate",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val writes = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          epochS(col("l_shipdate")).as("ts"))
      val a = writes
        .select(col("pk"), col("sk").as("sk_a"), col("ts").as("ts_a"),
          explode(array(expr("ts div 86400"), expr("ts div 86400 + 1")))
            .as("bucket"))
      val b = writes
        .select(col("pk"), col("sk").as("sk_b"), col("ts").as("ts_b"),
          expr("ts div 86400").as("bucket"))
      val pairs = a.join(b, Seq("pk", "bucket"))
        .filter(col("ts_b") > col("ts_a") ||
          (col("ts_b") === col("ts_a") && col("sk_b") > col("sk_a")))
        .filter(col("sk_a") =!= col("sk_b"))
        .filter(col("ts_b") - col("ts_a") <= 86400L)
        .select(col("pk"), (col("ts_b") - col("ts_a")).as("dt"))
      pairs
        .select(col("pk"), col("dt"),
          explode(array(lit(3600L), lit(21600L), lit(86400L))).as("lag_s"))
        .filter(col("dt") <= col("lag_s"))
        .groupBy(col("lag_s"))
        .agg(count(lit(1)).as("conflict_pairs"),
          countDistinct(col("pk")).as("parts_affected"))
        .crossJoin(broadcast(writes.agg(count(lit(1)).as("n"))))
        .select(col("lag_s"), col("conflict_pairs"), col("parts_affected"),
          expr("conflict_pairs * 1000000 div n")
            .as("conflicts_per_million_writes"))
        .orderBy(col("lag_s"))
    },
    Some("""
      WITH writes AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
          CAST(epoch_ms(l_shipdate) // 1000 AS BIGINT) AS ts
        FROM lineitem),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM writes),
      pairs AS (
        SELECT a.pk, b.ts - a.ts AS dt
        FROM writes a JOIN writes b
          ON a.pk = b.pk
          AND (b.ts > a.ts OR (b.ts = a.ts AND b.sk > a.sk))
          AND a.sk <> b.sk
          AND b.ts - a.ts <= 86400),
      sweep AS (
        SELECT CAST(lag_s AS BIGINT) AS lag_s, pk, dt
        FROM pairs CROSS JOIN (SELECT unnest([3600, 21600, 86400]) AS lag_s)
        WHERE dt <= lag_s)
      SELECT lag_s, CAST(count(*) AS BIGINT) AS conflict_pairs,
        CAST(count(DISTINCT pk) AS BIGINT) AS parts_affected,
        CAST(count(*) * 1000000 // max(n) AS BIGINT)
          AS conflicts_per_million_writes
      FROM sweep CROSS JOIN tot GROUP BY lag_s ORDER BY lag_s
    """))

  // ---------------------------------------------------------------- q522

  /** Little's-law bulkhead sizing: per event type, offered load
    * L = λ·S (arrival rate over the observed span × service demand,
    * reading the event's value as service milliseconds) gives the
    * steady-state concurrency that type needs; its bulkhead pool is L
    * plus 20% headroom. The isolation-pool table that stops one slow
    * endpoint from draining a shared thread pool.
    *
    * Scale shape: one events fold to per-type (count, Σ service,
    * span); everything after is arithmetic on ≤ 5 rows. */
  private val q522 = QueryDef(
    "q522_bulkhead_little_law",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      Tables.events(spark, dir)
        .select(col("event_type"), epochS(col("ts")).as("ts_s"),
          cents(col("value")).as("svc_10us"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("svc_10us")).as("svc_sum"),
          (max(col("ts_s")) - min(col("ts_s"))).as("span_s"))
        .select(col("event_type"), col("n"), col("span_s"),
          // λ in milli-events/s over the observed span
          expr("n * 1000 div span_s").as("lambda_milli"),
          // mean service in 10 µs units (= value ms with 2 decimals)
          expr("svc_sum div n").as("mean_svc_10us"),
          // L = λ·S in micro-concurrency: svc_sum·10µs / span
          expr("svc_sum * 10 div span_s").as("load_micro"))
        .select(col("event_type"), col("n"), col("span_s"),
          col("lambda_milli"), col("mean_svc_10us"), col("load_micro"),
          // pool = ceil(1.2 × L)
          expr("(load_micro * 12 div 10 + 999999) div 1000000").as("pool_size"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH per AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
            AS svc_sum,
          CAST(max(epoch_ms(ts) // 1000) - min(epoch_ms(ts) // 1000)
            AS BIGINT) AS span_s
        FROM events GROUP BY event_type)
      SELECT event_type, n, span_s,
        CAST(n * 1000 // span_s AS BIGINT) AS lambda_milli,
        CAST(svc_sum // n AS BIGINT) AS mean_svc_10us,
        CAST(svc_sum * 10 // span_s AS BIGINT) AS load_micro,
        CAST(((svc_sum * 10 // span_s) * 12 // 10 + 999999) // 1000000
          AS BIGINT) AS pool_size
      FROM per ORDER BY event_type
    """))

  override def defs: Seq[QueryDef] =
    Seq(q510, q511, q512, q513, q514, q515, q516, q517, q518, q519,
      q520, q521, q522)
}
