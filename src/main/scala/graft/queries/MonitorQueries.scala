package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.{cents, epochS}
import graft.functions.expressions.poly_hash
import graft.operators.Sampling
import graft.queries.SqlMacros._

/** Round-4 monitoring/profiling operators: group-sequential experiment
  * monitoring with O'Brien–Fleming-style boundaries, a one-pass melted
  * NDV profile (exact vs HLL per column), and the sharded-histogram
  * merge certificate for distributed quantiles — deterministic for the
  * oracle gate.
  */
object MonitorQueries extends QueryGroup {

  /** Linear-counting estimates m·ln(m/V) for m = 64 registers and V
    * empty registers, precomputed to integer literals (no libm at run
    * time; both engines share the identical constants). */
  private def lcCase(suffix: String): String = {
    val whens = (1 to 63).map(vv =>
      s"WHEN zeros = $vv THEN ${math.round(64.0 * math.log(64.0 / vv))}$suffix")
    s"CASE ${whens.mkString(" ")} ELSE 0$suffix END"
  }
  private val LinearCounting: String = lcCase("L")
  private val LinearCountingSql: String = lcCase("")

  /** O'Brien–Fleming-style z² boundaries (×1000) for 4 equally spaced
    * interim looks at overall α ≈ 0.05: z = 4.333, 2.963, 2.359, 2.014.
    * Embedded constants (like q417's χ² quantiles) — no CDF in-engine. */
  private val ObfChi2Milli = Seq(18775L, 8779L, 5565L, 4056L)

  // ---------------------------------------------------------------- q449

  /** Group-sequential experiment monitor: users hash-split 50/50, the
    * outcome is "≥ 12 purchases by the look date", and four interim
    * looks (weeks 2/4/6/8) each compute the exact 2×2 χ² (×1000, pure
    * integer — q417's statistic) against the O'Brien–Fleming boundary
    * for that look — spend almost no α early, keep full power late; the
    * first crossing is flagged. On this data the week-8 look crosses
    * (45 vs 58 heavy buyers across hash arms, χ² = 5.24 > 4.06): the
    * monitor surfacing that the hash split is NOT balanced with respect
    * to heavy purchasers — exactly the alarm q225's one-shot SRM audit
    * exists to catch earlier.
    *
    * Scale shape: one events scan folds to per-user (arm, first
    * activity, first purchase) — everything after is user-count-sized,
    * then 4 rows; boundaries are literals. */
  private val q449 = QueryDef(
    "q449_group_sequential_monitor",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), epochS(col("ts")).as("s"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(col("s")).as("first_s"))
        .withColumn("arm", Sampling.keyHash(col("user_id")) % 2L)
      val t0 = users.agg(min(col("first_s")).as("t0"))
      // outcome: >= 12 purchases by the look cutoff (an "ever purchased"
      // outcome saturates on this data — every user converts by week 2)
      val purch = ev.filter(col("event_type") === "purchase")
        .crossJoin(broadcast(t0))
        .select(col("user_id"), explode(expr("array(1L, 2L, 3L, 4L)")).as("look"),
          col("s"), col("t0"))
        .filter(col("s") <= col("t0") + col("look") * lit(14L * 86400L))
        .groupBy(col("user_id"), col("look")).agg(count(lit(1)).as("buys"))
      val looks = users.crossJoin(broadcast(t0))
        .select(col("*"), explode(expr("array(1L, 2L, 3L, 4L)")).as("look"))
        .withColumn("cutoff", col("t0") + col("look") * lit(14L * 86400L))
        .filter(col("first_s") <= col("cutoff"))
        .join(purch, Seq("user_id", "look"), "left")
        .withColumn("conv", (coalesce(col("buys"), lit(0L)) >= 12L).cast("long"))
        .groupBy(col("look"))
        .agg(
          sum((col("arm") === 0L).cast("long")).as("n_a"),
          sum((col("arm") === 1L).cast("long")).as("n_b"),
          sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
      val bounds = ObfChi2Milli.zipWithIndex.map { case (b, i) =>
        struct(lit(i + 1L).as("look"), lit(b).as("boundary_milli"))
      }
      val boundDf = spark.range(1)
        .select(explode(array(bounds: _*)).as("b")).select(col("b.*"))
      val scored = looks.join(broadcast(boundDf), Seq("look"))
        .withColumn("chi2_milli", expr(
          """CAST(CAST(n_a + n_b AS DECIMAL(38,0))
               * (CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b)
                  - CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a))
               * (CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b)
                  - CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a))
               * 1000
               div (CAST(n_a AS DECIMAL(38,0)) * n_b
                    * greatest(conv_a + conv_b, 1)
                    * greatest(n_a + n_b - conv_a - conv_b, 1))
             AS BIGINT)"""))
        .withColumn("crossed",
          (col("chi2_milli") >= col("boundary_milli")).cast("long"))
      val firstX = scored.filter(col("crossed") === 1L)
        .agg(min(col("look")).as("xlook"))
      scored.crossJoin(broadcast(firstX))
        .select(col("look"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
          col("chi2_milli"), col("boundary_milli"), col("crossed"),
          (col("look") === coalesce(col("xlook"), lit(-1L))).cast("long")
            .as("is_first_crossing"))
        .orderBy(col("look"))
    },
    Some {
      val boundsSql = ObfChi2Milli.zipWithIndex
        .map { case (b, i) => s"(${i + 1}, $b)" }.mkString(", ")
      s"""
      WITH ev AS (
        SELECT user_id, event_type, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s
        FROM events),
      users AS (
        SELECT user_id, min(s) AS first_s,
          ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 AS arm
        FROM ev GROUP BY user_id),
      t0 AS (SELECT min(first_s) AS t0 FROM users),
      purch AS (
        SELECT user_id, l.look, CAST(count(*) AS BIGINT) AS buys
        FROM ev CROSS JOIN t0
        CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS look) l
        WHERE event_type = 'purchase' AND s <= t0.t0 + l.look * 1209600
        GROUP BY 1, 2),
      looks AS (
        SELECT l.look,
          CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN arm = 0 AND coalesce(p.buys, 0) >= 12
            THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
          CAST(sum(CASE WHEN arm = 1 AND coalesce(p.buys, 0) >= 12
            THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        FROM users u CROSS JOIN t0
        CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS look) l
        LEFT JOIN purch p ON p.user_id = u.user_id AND p.look = l.look
        WHERE u.first_s <= t0.t0 + l.look * 1209600
        GROUP BY l.look),
      bounds AS (SELECT * FROM (VALUES $boundsSql) AS t(look, boundary_milli)),
      scored AS (
        SELECT lk.*, b.boundary_milli,
          CAST(CAST(n_a + n_b AS HUGEINT)
            * (CAST(conv_a AS HUGEINT) * (n_b - conv_b)
               - CAST(conv_b AS HUGEINT) * (n_a - conv_a))
            * (CAST(conv_a AS HUGEINT) * (n_b - conv_b)
               - CAST(conv_b AS HUGEINT) * (n_a - conv_a))
            * 1000
            // (CAST(n_a AS HUGEINT) * n_b
               * greatest(conv_a + conv_b, 1)
               * greatest(n_a + n_b - conv_a - conv_b, 1))
            AS BIGINT) AS chi2_milli
        FROM looks lk JOIN bounds b ON lk.look = b.look),
      x AS (
        SELECT min(look) AS xlook FROM scored
        WHERE chi2_milli >= boundary_milli)
      SELECT CAST(look AS BIGINT) AS look, n_a, n_b, conv_a, conv_b, chi2_milli,
        CAST(boundary_milli AS BIGINT) AS boundary_milli,
        CAST(CASE WHEN chi2_milli >= boundary_milli THEN 1 ELSE 0 END AS BIGINT)
          AS crossed,
        CAST(CASE WHEN look = coalesce(x.xlook, -1) THEN 1 ELSE 0 END AS BIGINT)
          AS is_first_crossing
      FROM scored CROSS JOIN x
      ORDER BY look
    """
    })

  // ---------------------------------------------------------------- q450

  /** One-pass NDV profile sweep: six orders columns melted to
    * (column, canonical string value) rows, then per column the EXACT
    * distinct count next to the 64-register HLL estimate built on the
    * same melt — the table-profiler that prices what q419 proved:
    * ONE scan plus a vocabulary-sized shuffle profiles every column,
    * where a naive profiler runs one distinct query per column (6
    * scans; 60 on a real table). Canonical value formats (dates as
    * yyyy-MM-dd, money as cents) keep both engines' hashes identical.
    *
    * Scale shape: the melt multiplies rows ×6 but folds map-side for
    * HLL registers; the exact path shuffles one row per (column,
    * distinct value) — the profiler's true cost, shown side by side. */
  private val q450 = QueryDef(
    "q450_ndv_profile_sweep",
    (spark, dir) => {
      val melted = Tables.orders(spark, dir)
        .select(explode(array(
          struct(lit("o_orderkey").as("c"),
            col("o_orderkey").cast("string").as("val")),
          struct(lit("o_custkey").as("c"), col("o_custkey").cast("string").as("val")),
          struct(lit("o_orderstatus").as("c"), col("o_orderstatus").as("val")),
          struct(lit("o_totalprice").as("c"),
            cents(col("o_totalprice")).cast("string").as("val")),
          struct(lit("o_orderdate").as("c"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("val")),
          struct(lit("o_orderpriority").as("c"), col("o_orderpriority").as("val"))))
          .as("m"))
        .select(col("m.c").as("column"), col("m.val"))
        .withColumn("h", Sampling.keyHash(poly_hash(col("val"))))
      val exact = melted.groupBy(col("column"))
        .agg(countDistinct(col("val")).as("exact_ndv"))
      val log2Of = "CASE " + (30 to 1 by -1).map(k =>
        s"WHEN (h % 67108864) >= ${1L << k} THEN $k").mkString(" ") + " ELSE 0 END"
      val regs = melted
        .groupBy(col("column"), expr("h div 67108864").as("bucket"))
        .agg(max(expr(
          s"CASE WHEN h % 67108864 = 0 THEN 27 ELSE 26 - ($log2Of) END")).as("m"))
      val grid = exact.select(col("column"))
        .select(col("column"), explode(expr("sequence(0L, 63L)")).as("bucket"))
      val hll = grid.join(regs, Seq("column", "bucket"), "left")
        .select(col("column"), coalesce(col("m"), lit(0L)).as("m"))
        .groupBy(col("column"))
        .agg(sum(expr("shiftleft(1L, CAST(32 - m AS INT))")).as("denom"),
          sum(expr("CAST(m = 0 AS LONG)")).as("zeros"))
        .withColumn("raw", expr("709 * 4096 * 4294967296 div (1000 * denom)"))
        // small-range (linear counting) correction: raw HLL reads 15x
        // high when most registers are empty (measured: ndv 3 -> 46)
        .select(col("column"),
          expr(s"CASE WHEN zeros > 0 AND raw < 160 THEN ($LinearCounting) " +
            "ELSE raw END").as("hll_ndv"))
      exact.join(hll, Seq("column"))
        .select(col("column"), col("exact_ndv"), col("hll_ndv"),
          expr("abs(hll_ndv - exact_ndv) * 1000000 div greatest(exact_ndv, 1)")
            .as("err_ppm"))
        .orderBy(col("column"))
    },
    Some {
      val log2Of = "CASE " + (30 to 1 by -1).map(k =>
        s"WHEN (h % 67108864) >= ${1L << k} THEN $k").mkString(" ") + " ELSE 0 END"
      s"""
      WITH melted AS (
        SELECT m.c AS "column", m.val FROM orders,
        LATERAL (VALUES
          ('o_orderkey', CAST(o_orderkey AS VARCHAR)),
          ('o_custkey', CAST(o_custkey AS VARCHAR)),
          ('o_orderstatus', o_orderstatus),
          ('o_totalprice', CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
            AS VARCHAR)),
          ('o_orderdate', strftime(o_orderdate, '%Y-%m-%d')),
          ('o_orderpriority', o_orderpriority)) AS m(c, val)),
      hashed AS (
        SELECT "column", val,
          ((${duckPolyHashOf("val")} % 2147483648)
            * 2654435761) % 4294967296 AS h
        FROM melted),
      exact AS (
        SELECT "column", CAST(count(DISTINCT val) AS BIGINT) AS exact_ndv
        FROM melted GROUP BY 1),
      regs AS (
        SELECT "column", h // 67108864 AS bucket,
          max(CASE WHEN h % 67108864 = 0 THEN 27 ELSE 26 - ($log2Of) END) AS m
        FROM hashed GROUP BY 1, 2),
      grid AS (
        SELECT e."column", g.bucket
        FROM exact e, LATERAL (SELECT unnest(range(0, 64)) AS bucket) g),
      raw AS (
        SELECT "column",
          709 * 4096 * 4294967296 //
            (1000 * CAST(sum(1::BIGINT << CAST(32 - coalesce(m, 0) AS INTEGER))
              AS BIGINT)) AS raw,
          CAST(sum(CASE WHEN coalesce(m, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS zeros
        FROM grid LEFT JOIN regs USING ("column", bucket)
        GROUP BY 1),
      hll AS (
        SELECT "column",
          CASE WHEN zeros > 0 AND raw < 160 THEN ($LinearCountingSql)
               ELSE raw END AS hll_ndv
        FROM raw)
      SELECT e."column", e.exact_ndv, CAST(h.hll_ndv AS BIGINT) AS hll_ndv,
        abs(h.hll_ndv - e.exact_ndv) * 1000000 // greatest(e.exact_ndv, 1)
          AS err_ppm
      FROM exact e JOIN hll h USING ("column")
      ORDER BY e."column"
    """
    })

  // ---------------------------------------------------------------- q451

  /** Sharded-histogram merge certificate for distributed quantiles:
    * order totals split into 8 hash shards, each shard builds its own
    * 64-bucket equi-depth histogram INDEPENDENTLY (per-shard windows —
    * what executors do), the 512 buckets merge by bucket-max cumulative
    * mass, and merged p50/p90/p99 upper-bound estimates are scored
    * against the exact global ranks — the error a scatter/gather
    * percentile actually pays (q434 prices bucket WIDTH; this prices
    * the MERGE).
    *
    * Scale shape: per-shard cumulative windows partition by shard
    * (parallelism = shards); the merge and scoring run on 512 bucket
    * rows; only the exact side needs the global value histogram. */
  private val q451 = QueryDef(
    "q451_sharded_quantile_merge",
    (spark, dir) => {
      val vals = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"), col("o_orderkey").as("k"))
        .withColumn("shard", col("k") % 8L)
      val shardHist = vals.groupBy(col("shard"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val wSh = Window.partitionBy(col("shard")).orderBy(col("v"))
      val buckets = shardHist
        .withColumn("cum", sum(col("cnt")).over(wSh))
        .withColumn("stot", sum(col("cnt")).over(Window.partitionBy(col("shard"))))
        .withColumn("depth", expr("greatest(stot div 64, 1L)"))
        .groupBy(col("shard"), expr("least((cum - cnt) div depth, 63L)").as("bkt"))
        .agg(max(col("v")).as("bmax"), sum(col("cnt")).as("bcnt"))
      val merged = buckets
        .withColumn("mcum", sum(col("bcnt")).over(
          Window.orderBy(col("bmax"), col("shard"), col("bkt"))))
      val tot = vals.agg(count(lit(1)).as("n"))
      val ranks = tot.select(explode(expr("array(50L, 90L, 99L)")).as("p"),
        col("n")).withColumn("r", expr("(n - 1) * p div 100 + 1"))
      val est = merged.join(broadcast(ranks), col("mcum") >= col("r"))
        .groupBy(col("p")).agg(min(col("bmax")).as("est_cents"))
      val exact = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))))
        .crossJoin(broadcast(ranks.select(col("p").as("p2"), col("r"))))
        .filter(col("cum") >= col("r"))
        .groupBy(col("p2")).agg(min(col("v")).as("exact_cents"))
      est.join(broadcast(exact), col("p") === col("p2"))
        .select(col("p"), col("exact_cents"), col("est_cents"),
          expr("abs(est_cents - exact_cents)").as("err_cents"),
          expr("abs(est_cents - exact_cents) * 1000000 div exact_cents")
            .as("err_ppm"))
        .orderBy(col("p"))
    },
    Some("""
      WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          o_orderkey % 8 AS shard
        FROM orders),
      sh AS (
        SELECT shard, v, CAST(count(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1, 2),
      cum AS (
        SELECT shard, v, cnt,
          sum(cnt) OVER (PARTITION BY shard ORDER BY v) AS cum,
          sum(cnt) OVER (PARTITION BY shard) AS stot
        FROM sh),
      buckets AS (
        SELECT shard, least((cum - cnt) // greatest(stot // 64, 1), 63) AS bkt,
          max(v) AS bmax, CAST(sum(cnt) AS BIGINT) AS bcnt
        FROM cum GROUP BY 1, 2),
      merged AS (
        SELECT bmax, bcnt,
          sum(bcnt) OVER (ORDER BY bmax, shard, bkt) AS mcum
        FROM buckets),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
      ranks AS (
        SELECT CAST(p AS BIGINT) AS p, (n - 1) * p // 100 + 1 AS r
        FROM tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) ps),
      est AS (
        SELECT p, min(bmax) AS est_cents
        FROM merged JOIN ranks ON merged.mcum >= ranks.r
        GROUP BY p),
      vh AS (
        SELECT v, sum(CAST(cnt AS BIGINT)) AS cnt FROM sh GROUP BY v),
      exact AS (
        SELECT p, min(v) AS exact_cents
        FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM vh)
        CROSS JOIN ranks
        WHERE cum >= r
        GROUP BY p)
      SELECT e.p, x.exact_cents, e.est_cents,
        abs(e.est_cents - x.exact_cents) AS err_cents,
        abs(e.est_cents - x.exact_cents) * 1000000 // x.exact_cents AS err_ppm
      FROM est e JOIN exact x ON e.p = x.p
      ORDER BY e.p
    """))

  override def defs: Seq[QueryDef] = Seq(q449, q450, q451)
}
