package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.queries.SqlMacros._

/** Round-4 synopsis/signal operators: HyperLogLog register sketching
  * (baked off against KMV and exact counts), Haar wavelet synopsis of
  * the revenue series, and lead–lag cross-correlation between brand
  * series — cardinality sketching, hierarchical synopses and temporal
  * alignment, deterministic for the oracle gate.
  */
object SynopsisQueries extends QueryGroup {

  /** Integer floor-log2 via exact comparisons (no libm). */
  private def log2Of(x: String): String =
    "CASE " + (30 to 1 by -1).map(k =>
      s"WHEN $x >= ${1L << k} THEN $k").mkString(" ") + " ELSE 0 END"

  // ---------------------------------------------------------------- q419

  /** HyperLogLog with 64 registers, head-to-head against the KMV sketch
    * and the exact answer: per source, the distinct-bigram count via
    * max-leading-zero registers (the raw HLL estimator — α·m²·2³²/Σ2⁻ᴹ
    * as ONE exact integer expression, Σ2⁻ᴹ cleared to Σ2^(32−M)), the
    * KMV bottom-64 estimate, and both errors in ppm — the cardinality-
    * sketch bake-off that tells an engine which sketch to deploy where.
    * Registers need no distinct pass (max is idempotent), which is HLL's
    * operational edge over KMV at 100 TB.
    *
    * Scale shape: one scan folds to ≤ |sources|·64 register rows
    * (map-side max-combine); the dense register grid is a broadcast
    * sequence join; no row ever carries more than (source, bucket, ρ). */
  private val q419 = QueryDef(
    "q419_hll_register_sketch",
    (spark, dir) => {
      import graft.functions.KmvSketch.{kmv_bottom_k, kmv_estimate}
      val hs = CorpusQueries.bigramHashes(spark, dir)
      val regs = hs
        .select(col("source"), expr("h div 67108864").as("bucket"),
          expr(s"CASE WHEN h % 67108864 = 0 THEN 27 " +
            s"ELSE 26 - (${log2Of("(h % 67108864)")}) END").as("rho"))
        .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("m"))
      val grid = hs.select(col("source")).distinct()
        .select(col("source"), explode(expr("sequence(0L, 63L)")).as("bucket"))
      val hll = grid.join(regs, Seq("source", "bucket"), "left")
        .select(col("source"), coalesce(col("m"), lit(0L)).as("m"))
        .groupBy(col("source"))
        .agg(sum(expr("shiftleft(1L, CAST(32 - m AS INT))")).as("denom"))
        // α₆₄·m²·2³² / Σ2^(32−M); α₆₄ = 0.709 carried as 709/1000
        .select(col("source"),
          expr("709 * 4096 * 4294967296 div (1000 * denom)").as("hll_est"))
      val dh = hs.distinct()
      val kmv = dh.groupBy(col("source"))
        .agg(kmv_bottom_k(col("h"), 64).as("sketch"),
          count(lit(1)).as("exact_distinct"))
        .withColumn("kmv_est", kmv_estimate("sketch", 64))
        .drop("sketch")
      hll.join(kmv, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("hll_est"), col("kmv_est"),
          expr("abs(hll_est - exact_distinct) * 1000000 div greatest(exact_distinct, 1)")
            .as("hll_err_ppm"),
          expr("abs(kmv_est - exact_distinct) * 1000000 div greatest(exact_distinct, 1)")
            .as("kmv_err_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, $duckTokens AS tk
        FROM documents),
      bg AS (
        SELECT source,
          unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]) AS bg
        FROM tk WHERE len(tk) >= 2),
      ph AS (
        SELECT source,
          ${duckPolyHashOf("bg")} AS p
        FROM bg),
      hsrc AS (
        SELECT source, ((p % 2147483648) * 2654435761) % 4294967296 AS h
        FROM ph),
      regs AS (
        SELECT source, h // 67108864 AS bucket,
          max(CASE WHEN h % 67108864 = 0 THEN 27
                   ELSE 26 - (${log2Of("(h % 67108864)")}) END) AS m
        FROM hsrc GROUP BY 1, 2),
      grid AS (
        SELECT s.source, g.bucket
        FROM (SELECT DISTINCT source FROM hsrc) s,
          LATERAL (SELECT unnest(range(0, 64)) AS bucket) g),
      hll AS (
        SELECT source,
          709 * 4096 * 4294967296 //
            (1000 * CAST(sum(1::BIGINT << CAST(32 - coalesce(m, 0) AS INTEGER)) AS BIGINT))
            AS hll_est
        FROM grid LEFT JOIN regs USING (source, bucket)
        GROUP BY source),
      dh AS (SELECT DISTINCT source, h FROM hsrc),
      r AS (
        SELECT source, h,
          CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rk
        FROM dh),
      sk AS (
        SELECT source, list_sort(list(h ORDER BY h)) AS sketch,
          CAST(max(cnt) AS BIGINT) AS exact_distinct
        FROM (SELECT source, h, rk, count(*) OVER (PARTITION BY source) AS cnt FROM r)
        WHERE rk <= 64 GROUP BY source),
      kmv AS (
        SELECT source, exact_distinct,
          CAST(CASE WHEN len(sketch) < 64 THEN len(sketch)
                    ELSE 63 * 4294967296 // sketch[64] END AS BIGINT) AS kmv_est
        FROM sk)
      SELECT h.source, k.exact_distinct, CAST(h.hll_est AS BIGINT) AS hll_est,
        k.kmv_est,
        CAST(abs(h.hll_est - k.exact_distinct) * 1000000
          // greatest(k.exact_distinct, 1) AS BIGINT) AS hll_err_ppm,
        CAST(abs(k.kmv_est - k.exact_distinct) * 1000000
          // greatest(k.exact_distinct, 1) AS BIGINT) AS kmv_err_ppm
      FROM hll h JOIN kmv k USING (source)
      ORDER BY h.source
    """))

  // ---------------------------------------------------------------- q420

  /** Haar wavelet synopsis of the first 256 days of order revenue:
    * unnormalized detail coefficients at levels 1–3 (half-block sum
    * differences over blocks of 2/4/8 days), with per-level L1 energy
    * and the dominant block — the hierarchical synopsis that ranks WHERE
    * the series moves at each time scale (q410's v-optimal histogram is
    * the piecewise-constant cousin over the value domain). Pure integer:
    * signed cent sums, no normalization divisions.
    *
    * Scale shape: one orders scan folds to ≤ 256 (day, cents) rows (the
    * dense grid is a broadcast sequence left-join); the three level
    * aggregations and the per-level argmax window run on that. */
  private val q420 = QueryDef(
    "q420_haar_synopsis",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val d0 = daily.agg(min(col("day")).as("d0"))
      val idx = daily.crossJoin(broadcast(d0))
        .select(datediff(col("day"), col("d0")).cast("long").as("d"), col("rev_c"))
        .filter(col("d") < 256)
      val grid = spark.range(0, 256).select(col("id").as("d"))
        .join(idx, Seq("d"), "left")
        .select(col("d"), coalesce(col("rev_c"), lit(0L)).as("v"))
        .persist() // 256 rows feeding three level folds
      def level(l: Int) = {
        val half = 1L << (l - 1)
        grid.groupBy(expr(s"d div ${1L << l}").as("b"))
          .agg(sum(expr(s"v * (1 - 2 * ((d div $half) % 2))")).as("c"))
          .select(lit(l.toLong).as("level"), col("b"), col("c"))
      }
      val coeffs = level(1).unionAll(level(2)).unionAll(level(3))
      val wRk = Window.partitionBy(col("level"))
        .orderBy(abs(col("c")).desc, col("b"))
      coeffs
        .withColumn("rk", row_number().over(wRk))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_coeffs"),
          sum(abs(col("c"))).as("l1_energy_c"),
          max(abs(col("c"))).as("max_abs_c"),
          min(when(col("rk") === 1, col("b"))).as("argmax_block"))
        .orderBy(col("level"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      d0 AS (SELECT min(day) AS d0 FROM daily),
      idx AS (
        SELECT date_diff('day', d0, day) AS d, rev_c
        FROM daily CROSS JOIN d0
        WHERE date_diff('day', d0, day) < 256),
      grid AS (
        SELECT g.d, coalesce(i.rev_c, 0) AS v
        FROM (SELECT unnest(range(0, 256)) AS d) g
        LEFT JOIN idx i USING (d)),
      coeffs AS (
        SELECT CAST(1 AS BIGINT) AS level, d // 2 AS b,
          CAST(sum(v * (1 - 2 * ((d // 1) % 2))) AS BIGINT) AS c
        FROM grid GROUP BY 2
        UNION ALL
        SELECT 2, d // 4, CAST(sum(v * (1 - 2 * ((d // 2) % 2))) AS BIGINT)
        FROM grid GROUP BY 2
        UNION ALL
        SELECT 3, d // 8, CAST(sum(v * (1 - 2 * ((d // 4) % 2))) AS BIGINT)
        FROM grid GROUP BY 2),
      ranked AS (
        SELECT level, b, c,
          row_number() OVER (PARTITION BY level ORDER BY abs(c) DESC, b) AS rk
        FROM coeffs)
      SELECT level, CAST(count(*) AS BIGINT) AS n_coeffs,
        CAST(sum(abs(c)) AS BIGINT) AS l1_energy_c,
        CAST(max(abs(c)) AS BIGINT) AS max_abs_c,
        CAST(min(CASE WHEN rk = 1 THEN b END) AS BIGINT) AS argmax_block
      FROM ranked GROUP BY level
      ORDER BY level
    """))

  // ---------------------------------------------------------------- q421

  /** Lead–lag cross-correlation between the two top-revenue brands'
    * daily series: the exact scaled covariance n·Σxy − Σx·Σy at every
    * shift k ∈ [−7, +7], flagging the maximizing lag — does brand A's
    * demand LEAD brand B's (supply-chain echo), which q255's
    * self-ACF and q66's same-day correlation cannot see. Dollar units +
    * decimal/hugeint combination keep every product exact.
    *
    * Scale shape: facts fold once to (brand, day, dollars); the lag
    * explosion is ×15 on ONE brand's daily table (calendar-sized); the
    * best-lag flag is a one-row broadcast max. */
  private val q421 = QueryDef(
    "q421_lead_lag_xcorr",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), expr("CAST(l_shipdate AS DATE)").as("day"),
          expr("CAST(floor(l_extendedprice + 0.5) AS BIGINT)").as("usd"))
      val top2 = li.groupBy(col("p_brand")).agg(sum(col("usd")).as("tot"))
        .orderBy(col("tot").desc, col("p_brand")).limit(2)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("tot").desc, col("p_brand"))))
        .select(col("p_brand"), col("rk"))
      val daily = li.join(broadcast(top2), Seq("p_brand"))
        .groupBy(col("rk"), col("day")).agg(sum(col("usd")).as("v"))
        .persist() // two calendar-sized series feed the 15-lag join
      val a = daily.filter(col("rk") === 1)
        .select(col("day").as("da"), col("v").as("x"))
        .select(explode(expr("sequence(-7, 7)")).as("k"), col("da"), col("x"))
      val b = daily.filter(col("rk") === 2)
        .select(col("day").as("db"), col("v").as("y"))
      val lags = a.join(b, expr("db = date_add(da, k)"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(expr("x * y")).as("sxy"))
        .withColumn("cov_scaled", expr(
          "CAST(n_days AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      val best = lags.agg(max(col("cov_scaled")).as("best_cov"))
      lags.crossJoin(broadcast(best))
        .select(col("k").cast("long").as("lag_days"), col("n_days"),
          col("cov_scaled").cast("long").as("cov_scaled"),
          when(col("cov_scaled") === col("best_cov"), 1L).otherwise(0L)
            .as("is_best"))
        .orderBy(col("lag_days"))
    },
    Some("""
      WITH li AS (
        SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
          CAST(floor(l.l_extendedprice + 0.5) AS BIGINT) AS usd
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      top2 AS (
        SELECT p_brand, row_number() OVER (ORDER BY sum(usd) DESC, p_brand) AS rk
        FROM li GROUP BY p_brand
        ORDER BY sum(usd) DESC, p_brand LIMIT 2),
      daily AS (
        SELECT t.rk, day, CAST(sum(usd) AS BIGINT) AS v
        FROM li JOIN top2 t USING (p_brand)
        GROUP BY t.rk, day),
      a AS (
        SELECT k.k, day AS da, v AS x
        FROM daily, LATERAL (SELECT unnest(range(-7, 8)) AS k) k
        WHERE rk = 1),
      b AS (SELECT day AS db, v AS y FROM daily WHERE rk = 2),
      lags AS (
        SELECT a.k, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.y) AS BIGINT) AS sy,
          CAST(sum(a.x * b.y) AS BIGINT) AS sxy
        FROM a JOIN b ON b.db = a.da + CAST(a.k AS INTEGER)
        GROUP BY a.k),
      sc AS (
        SELECT k, n_days,
          CAST(n_days AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_scaled
        FROM lags),
      best AS (SELECT max(cov_scaled) AS best_cov FROM sc)
      SELECT CAST(k AS BIGINT) AS lag_days, n_days,
        CAST(cov_scaled AS BIGINT) AS cov_scaled,
        CAST(CASE WHEN cov_scaled = best_cov THEN 1 ELSE 0 END AS BIGINT)
          AS is_best
      FROM sc CROSS JOIN best
      ORDER BY lag_days
    """))

  override def defs: Seq[QueryDef] = Seq(q419, q420, q421)
}
