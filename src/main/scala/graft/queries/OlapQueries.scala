package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.{cents, epochS}
import graft.operators.Sampling
import graft.queries.SqlMacros._

/** Round-4 OLAP heavy shapes: the remaining classic TPC-H decision-support
  * query forms (Q21 multi-correlated self-join, Q22 anti-join against an
  * aggregate threshold, Q16 NOT-IN supplier diversity) re-expressed as
  * single-pass keyed aggregations, plus a deterministic Poisson-bootstrap
  * confidence interval — the resampling method that actually scales
  * (per-row weight vectors, map-side combined; no data replication).
  *
  * All arithmetic is engine-portable: integer cents, integer epoch
  * seconds, and doubles only as images of exact integers under identical
  * IEEE expressions on both engines.
  */
object OlapQueries extends QueryGroup {

  /** TPC-H Q21's shape (suppliers who kept waiting multi-supplier
    * orders): for finished orders touched by ≥2 suppliers where EXACTLY
    * ONE supplier shipped late (> 365 days after the order date —
    * adapted to this dataset's synthetic ship lags; the reference schema
    * has no commit/receipt dates), blame that supplier and rank by
    * blamed-order count.
    *
    * Scale shape: the textbook EXISTS + NOT-EXISTS double self-join is
    * rewritten as ONE groupBy over the order's lines — n_supp and
    * n_late_supp are distinct-counts, and when n_late_supp = 1 the
    * blamed supplier IS max(late supplier). One shuffle on l_orderkey
    * (co-partitioned with the orders join), one vocabulary-sized
    * supplier agg; the quadratic self-join never materializes. */
  private val q319 = QueryDef(
    "q319_tpch_q21_late_blame",
    (spark, dir) => {
      val lateCut = 365L * 86400L
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), epochS(col("o_orderdate")).as("o_s"))
      val perOrder = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), epochS(col("l_shipdate")).as("ship_s"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late_supp",
          when(col("ship_s") > col("o_s") + lateCut, col("l_suppkey")))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("late_supp")).as("n_late_supp"),
          max(col("late_supp")).as("blamed"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      perOrder.groupBy(col("blamed").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
          Seq("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(25)
    },
    Some("""
      WITH per_order AS (
        SELECT l_orderkey,
          count(DISTINCT l_suppkey) AS n_supp,
          count(DISTINCT CASE WHEN epoch_ms(l_shipdate) // 1000
                                   > epoch_ms(o_orderdate) // 1000 + 365*86400
                              THEN l_suppkey END) AS n_late_supp,
          max(CASE WHEN epoch_ms(l_shipdate) // 1000
                        > epoch_ms(o_orderdate) // 1000 + 365*86400
                   THEN l_suppkey END) AS blamed
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey)
      SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM per_order JOIN supplier ON blamed = s_suppkey
      WHERE n_supp >= 2 AND n_late_supp = 1
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 25
    """))

  /** TPC-H Q22's shape (dormant capital): customers in three target
    * segments whose balance exceeds the average positive balance of
    * that population, and who placed NO order in the final year of the
    * dataset (every customer here has SOME order, so "never ordered"
    * is adapted to "dormant for the last 365 days"). Per segment:
    * customer count + total idle balance.
    *
    * Scale shape: the threshold and the cutoff are one-row aggregates
    * cross-joined (broadcast nested loop of exactly one row — q64's
    * sanctioned pattern, no driver collect); the "no recent order"
    * predicate is a left-anti join against the distinct recent
    * customer keys. The avg comparison is exact: cents(bal)·n >
    * sum_cents, all in 64-bit integers. */
  private val q320 = QueryDef(
    "q320_tpch_q22_dormant_capital",
    (spark, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
      val cust = Tables.customer(spark, dir)
        .filter(col("c_mktsegment").isin(segs: _*))
        .select(col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("bal_c"))
      val thr = cust.filter(col("bal_c") > 0)
        .agg(sum(col("bal_c")).as("pos_sum"), count(lit(1)).as("pos_n"))
      val orders = Tables.orders(spark, dir)
        .select(col("o_custkey"), epochS(col("o_orderdate")).as("od_s"))
      val cutoff = orders.agg((max(col("od_s")) - 365L * 86400L).as("cut_s"))
      val recent = orders.crossJoin(broadcast(cutoff))
        .filter(col("od_s") >= col("cut_s"))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(thr))
        .filter(col("bal_c") * col("pos_n") > col("pos_sum"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_dormant"), sum(col("bal_c")).as("idle_cents"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_mktsegment,
          CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_c
        FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
      thr AS (
        SELECT CAST(sum(bal_c) AS BIGINT) AS pos_sum,
               CAST(count(*) AS BIGINT) AS pos_n
        FROM cust WHERE bal_c > 0),
      cut AS (
        SELECT max(epoch_ms(o_orderdate) // 1000) - 365*86400 AS cut_s FROM orders),
      recent AS (
        SELECT DISTINCT o_custkey FROM orders, cut
        WHERE epoch_ms(o_orderdate) // 1000 >= cut_s)
      SELECT c_mktsegment,
        CAST(count(*) AS BIGINT) AS n_dormant,
        CAST(sum(bal_c) AS BIGINT) AS idle_cents
      FROM cust, thr
      WHERE bal_c * pos_n > pos_sum
        AND c_custkey NOT IN (SELECT o_custkey FROM recent)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  /** TPC-H Q16's shape (supplier diversity per part class): for each
    * (p_brand, p_size), how many DISTINCT suppliers have shipped that
    * part — excluding "complaint" suppliers (negative balance, this
    * dataset's proxy for Q16's complaint-comment scan). The part-supplier
    * link is derived from lineitem (no partsupp table here).
    *
    * Scale shape: lineitem collapses to distinct (partkey, suppkey)
    * FIRST (the only big shuffle, on partkey — and it combines
    * map-side); the exclude set is vocabulary-sized and broadcast as a
    * left-anti; part join is keyed; the final distinct-count groups a
    * vocabulary-sized (brand, size) space. */
  private val q321 = QueryDef(
    "q321_tpch_q16_supplier_diversity",
    (spark, dir) => {
      val links = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val complaints = Tables.supplier(spark, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      links
        .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
        .limit(100)
    },
    Some("""
      WITH links AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      ok AS (
        SELECT l_partkey, l_suppkey FROM links
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      SELECT p_brand, p_size,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM ok JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_size
      LIMIT 100
    """))

  /** Deterministic Poisson-bootstrap 95% CI for mean order value per
    * market segment (B = 200 replicates). The multinomial bootstrap
    * cannot be distributed (it needs a global draw); the Poisson(1)
    * approximation gives each row an i.i.d. weight, so each replicate
    * is a weighted mean — the standard resampling design at cluster
    * scale. Weights come from the keyed hash (key shifted by
    * b·1103515245 mod 2^31 per replicate → decorrelated streams; see
    * BootstrapMoments), inverse-CDF'd through hard-coded
    * integer thresholds (floor(CDF·2^32)) so both engines compute
    * identical integers; the tail is truncated at w = 6 (residual mass
    * 6e-4, identically on both sides).
    *
    * Scale shape: the order rows are scanned ONCE and never replicated —
    * the native bootstrap_moments aggregate computes every weight inside
    * its fused update loop (zero per-row allocation) and ships one
    * long[2B] buffer per (segment, partition), combined map-side. The B
    * replicate means then unfold from the aggregate (vocabulary-sized)
    * and the CI is order-statistics rank 5 / rank 196 of 200. */
  private val q322 = QueryDef(
    "q322_poisson_bootstrap_ci",
    (spark, dir) => {
      val B = 200
      val rows = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
          cents(col("o_totalprice")).as("v"))
      val agg = rows.groupBy(col("segment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("v")).as("sum_v"),
          graft.functions.VectorAggregates
            .bootstrap_moments(col("o_orderkey"), col("v"), B).as("bm"))
      val reps = agg
        .select(col("segment"), col("n_orders"), col("sum_v"),
          posexplode(expr(
            s"zip_with(slice(bm, 1, $B), slice(bm, ${B + 1}, $B), (a, b) -> struct(a AS sw, b AS swx))"))
            .as(Seq("b0", "p")))
        .select(col("segment"), col("n_orders"), col("sum_v"),
          (col("b0") + 1).as("b"),
          (col("p.swx").cast("double") / col("p.sw").cast("double")).as("rep_mean"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("segment")).orderBy(col("rep_mean"), col("b"))))
      reps.filter(col("rk") === 5 || col("rk") === 196)
        .groupBy(col("segment"), col("n_orders"), col("sum_v"))
        .agg(min(when(col("rk") === 5, col("rep_mean"))).as("ci_lo_cents"),
          min(when(col("rk") === 196, col("rep_mean"))).as("ci_hi_cents"))
        .select(col("segment"), col("n_orders"),
          (col("sum_v").cast("double") / col("n_orders").cast("double")).as("mean_cents"),
          col("ci_lo_cents"), col("ci_hi_cents"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH rows_v AS (
        SELECT c_mktsegment AS segment, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey),
      weighted AS (
        SELECT segment, v, b,
          CASE
            WHEN h < 1580030168 THEN 0
            WHEN h < 3160060337 THEN 1
            WHEN h < 3950075421 THEN 2
            WHEN h < 4213413783 THEN 3
            WHEN h < 4279248373 THEN 4
            WHEN h < 4292415291 THEN 5
            ELSE 6 END AS w
        FROM (
          SELECT segment, v, b,
            (((o_orderkey % 2147483648) + 1103515245*b) % 2147483648 * 2654435761)
              % 4294967296 AS h
          FROM rows_v, generate_series(1, 200) g(b))),
      reps AS (
        SELECT segment, b,
          CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS rep_mean
        FROM weighted GROUP BY segment, b),
      ranked AS (
        SELECT segment, rep_mean,
          row_number() OVER (PARTITION BY segment ORDER BY rep_mean, b) AS rk
        FROM reps),
      base AS (
        SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(v) AS BIGINT) AS sum_v
        FROM rows_v GROUP BY segment)
      SELECT base.segment, n_orders,
        CAST(sum_v AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_cents,
        min(CASE WHEN rk = 5 THEN rep_mean END) AS ci_lo_cents,
        min(CASE WHEN rk = 196 THEN rep_mean END) AS ci_hi_cents
      FROM base JOIN ranked ON base.segment = ranked.segment
      WHERE rk = 5 OR rk = 196
      GROUP BY base.segment, n_orders, sum_v
      ORDER BY base.segment
    """))

  /** Exact distributed multiple regression (two predictors + intercept)
    * via sufficient statistics: per brand, OLS of line quantity on
    * discount (bps) and part retail price (cents) — demand elasticity
    * as one keyed aggregate. The normal-equations solve (Cramer 3×3)
    * runs on the aggregated sums only, with IDENTICAL double-arithmetic
    * expression text on both engines (sums stay exact integers —
    * decimal(38,0)/HUGEINT for the squares so the 100 TB row counts
    * can't wrap — then one shared IEEE solve).
    *
    * Scale shape: one keyed lineitem↔part join + one hash aggregate to
    * 9 sums per brand; the regression itself touches vocabulary-sized
    * data. This is how distributed OLS is actually done — no gradient
    * loop, no per-row weight vector. */
  private val q323 = QueryDef(
    "q323_ols_two_factor_demand",
    (spark, dir) => {
      val rows = Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          floor(col("l_quantity") + 0.5).cast("long").as("y"),
          floor(col("l_discount") * 10000 + 0.5).cast("long").as("x1"))
        .join(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"),
            cents(col("p_retailprice")).as("x2")),
          col("l_partkey") === col("p_partkey"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val sums = rows.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"), sum(col("y")).as("sy"),
          sum(dec(col("x1") * col("x1"))).as("sx11"),
          sum(dec(col("x1") * col("x2"))).as("sx12"),
          sum(dec(col("x2") * col("x2"))).as("sx22"),
          sum(dec(col("x1") * col("y"))).as("sx1y"),
          sum(dec(col("x2") * col("y"))).as("sx2y"),
          sum(dec(col("y") * col("y"))).as("syy"))
      sums.selectExpr(Seq("p_brand", "n") ++ olsCastExprs: _*)
        .selectExpr(Seq("p_brand", "n") ++ olsDetExprs: _*)
        .selectExpr(Seq("p_brand", "n") ++ olsOutExprs: _*)
        .orderBy(col("p_brand"))
    },
    Some(s"""
      WITH rows_r AS (
        SELECT p_brand,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS y,
          CAST(floor(l_discount*10000 + 0.5) AS BIGINT) AS x1,
          CAST(floor(p_retailprice*100 + 0.5) AS BIGINT) AS x2
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      sums AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
          CAST(sum(y) AS BIGINT) AS sy,
          sum(CAST(x1*x1 AS HUGEINT)) AS sx11,
          sum(CAST(x1*x2 AS HUGEINT)) AS sx12,
          sum(CAST(x2*x2 AS HUGEINT)) AS sx22,
          sum(CAST(x1*y AS HUGEINT)) AS sx1y,
          sum(CAST(x2*y AS HUGEINT)) AS sx2y,
          sum(CAST(y*y AS HUGEINT)) AS syy
        FROM rows_r GROUP BY p_brand),
      casted AS (SELECT p_brand, n, ${olsCastExprs.mkString(", ")} FROM sums),
      dets AS (SELECT p_brand, n, ${olsDetExprs.mkString(", ")} FROM casted)
      SELECT p_brand, n, ${olsOutExprs.mkString(", ")}
      FROM dets ORDER BY p_brand
    """))

  // the OLS solve — ONE expression text evaluated by both engines so
  // every IEEE operation matches bit-for-bit
  private def olsCastExprs: Seq[String] = Seq(
    "CAST(n AS DOUBLE) AS fn",
    "CAST(sx1 AS DOUBLE) AS fx1", "CAST(sx2 AS DOUBLE) AS fx2",
    "CAST(sy AS DOUBLE) AS fy",
    "CAST(sx11 AS DOUBLE) AS f11", "CAST(sx12 AS DOUBLE) AS f12",
    "CAST(sx22 AS DOUBLE) AS f22",
    "CAST(sx1y AS DOUBLE) AS f1y", "CAST(sx2y AS DOUBLE) AS f2y",
    "CAST(syy AS DOUBLE) AS fyy")
  private def olsDetExprs: Seq[String] = Seq(
    "fy", "f1y", "f2y", "fyy", "fn",
    "fn*(f11*f22 - f12*f12) - fx1*(fx1*f22 - f12*fx2) + fx2*(fx1*f12 - f11*fx2) AS dd",
    "fy*(f11*f22 - f12*f12) - fx1*(f1y*f22 - f12*f2y) + fx2*(f1y*f12 - f11*f2y) AS d0",
    "fn*(f1y*f22 - f12*f2y) - fy*(fx1*f22 - f12*fx2) + fx2*(fx1*f2y - f1y*fx2) AS d1",
    "fn*(f11*f2y - f1y*f12) - fx1*(fx1*f2y - f1y*fx2) + fy*(fx1*f12 - f11*fx2) AS d2")
  private def olsOutExprs: Seq[String] = Seq(
    "d0/dd AS b0", "d1/dd AS b1", "d2/dd AS b2",
    "1 - (fyy - (d0/dd)*fy - (d1/dd)*f1y - (d2/dd)*f2y) / (fyy - fy*fy/fn) AS r2")

  /** Spearman rank correlation (tie-averaged) between line quantity and
    * discount, per return flag — the monotonic complement of q180's
    * Pearson matrix and q224's concordance. The defining trick at
    * scale: tie-averaged ranks are a pure function of the VALUE
    * HISTOGRAM (rank(v) = count below v + (count at v + 1)/2), so no
    * per-row sort ever happens — ranks come from a vocabulary-sized
    * cumulative sum broadcast back onto the joint histogram, and the
    * correlation's moments reduce over histogram CELLS, not rows.
    * Doubled ranks (2·rank) keep everything integer; moments accumulate
    * in decimal(38,0)/HUGEINT; the final Pearson-on-ranks is one shared
    * IEEE expression.
    *
    * Scale shape: one groupBy to the (flag, qty, bps) joint histogram
    * (the only row-scale shuffle, map-side combined), then
    * vocabulary-sized windows and joins. */
  private val q324 = QueryDef(
    "q324_spearman_rank_corr",
    (spark, dir) => {
      val vals = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity") + 0.5).cast("long").as("x"),
          floor(col("l_discount") * 10000 + 0.5).cast("long").as("y"))
      val jh = vals.groupBy(col("flag"), col("x"), col("y")).agg(count(lit(1)).as("cnt"))
      def doubledRanks(grain: String) = {
        val w = Window.partitionBy(col("flag")).orderBy(col(grain))
        jh.groupBy(col("flag"), col(grain)).agg(sum(col("cnt")).as("c"))
          .select(col("flag"), col(grain),
            (lit(2) * (sum(col("c")).over(w) - col("c")) + col("c") + 1)
              .as(s"r2$grain"))
      }
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      jh.join(broadcast(doubledRanks("x")), Seq("flag", "x"))
        .join(broadcast(doubledRanks("y")), Seq("flag", "y"))
        .groupBy(col("flag"))
        .agg(sum(col("cnt")).as("n"),
          sum(dec(col("cnt")) * col("r2x")).as("sx"),
          sum(dec(col("cnt")) * col("r2y")).as("sy"),
          sum(dec(col("cnt")) * col("r2x") * col("r2x")).as("sxx"),
          sum(dec(col("cnt")) * col("r2y") * col("r2y")).as("syy"),
          sum(dec(col("cnt")) * col("r2x") * col("r2y")).as("sxy"))
        .selectExpr(Seq("flag", "n") ++ spearmanCastExprs: _*)
        .selectExpr("flag", "n", spearmanRhoExpr)
        .orderBy(col("flag"))
    },
    Some(s"""
      WITH vals AS (
        SELECT l_returnflag AS flag,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
          CAST(floor(l_discount*10000 + 0.5) AS BIGINT) AS y
        FROM lineitem),
      jh AS (SELECT flag, x, y, CAST(count(*) AS BIGINT) AS cnt
             FROM vals GROUP BY flag, x, y),
      hx AS (
        SELECT flag, x,
          2*(sum(c) OVER (PARTITION BY flag ORDER BY x) - c) + c + 1 AS r2x
        FROM (SELECT flag, x, CAST(sum(cnt) AS BIGINT) AS c FROM jh GROUP BY flag, x)),
      hy AS (
        SELECT flag, y,
          2*(sum(c) OVER (PARTITION BY flag ORDER BY y) - c) + c + 1 AS r2y
        FROM (SELECT flag, y, CAST(sum(cnt) AS BIGINT) AS c FROM jh GROUP BY flag, y)),
      sums AS (
        SELECT jh.flag, CAST(sum(cnt) AS BIGINT) AS n,
          sum(CAST(cnt AS HUGEINT) * r2x) AS sx,
          sum(CAST(cnt AS HUGEINT) * r2y) AS sy,
          sum(CAST(cnt AS HUGEINT) * r2x * r2x) AS sxx,
          sum(CAST(cnt AS HUGEINT) * r2y * r2y) AS syy,
          sum(CAST(cnt AS HUGEINT) * r2x * r2y) AS sxy
        FROM jh JOIN hx ON jh.flag = hx.flag AND jh.x = hx.x
                JOIN hy ON jh.flag = hy.flag AND jh.y = hy.y
        GROUP BY jh.flag),
      casted AS (SELECT flag, n, ${spearmanCastExprs.mkString(", ")} FROM sums)
      SELECT flag, n, $spearmanRhoExpr
      FROM casted ORDER BY flag
    """))

  private def spearmanCastExprs: Seq[String] = Seq(
    "CAST(n AS DOUBLE) AS fn",
    "CAST(sx AS DOUBLE) AS fx", "CAST(sy AS DOUBLE) AS fy",
    "CAST(sxx AS DOUBLE) AS fxx", "CAST(syy AS DOUBLE) AS fyy",
    "CAST(sxy AS DOUBLE) AS fxy")
  private def spearmanRhoExpr: String =
    "(fn*fxy - fx*fy) / sqrt((fn*fxx - fx*fx) * (fn*fyy - fy*fy)) AS rho"

  /** Dictionary-encoding plan: for each low-cardinality string column
    * across the schema, would dictionary encoding shrink it — rows,
    * distinct values, raw bytes, dict bytes (distinct-value bytes +
    * rows × code width chosen from the cardinality), savings in ppm.
    * The storage-layout decision a columnar lake makes per column;
    * complements q126 (file compaction) and q297 (varint planning).
    *
    * Scale shape: one value-grain aggregate per column (map-side
    * combined to the vocabulary), then a vocabulary-sized reduction —
    * the raw strings are never shuffled, only (value, count) pairs. */
  private val q325 = QueryDef(
    "q325_dictionary_encoding_plan",
    (spark, dir) => {
      def plan(df: DataFrame, c: String, tag: String) =
        df.select(col(c).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_distinct"),
            sum(col("cnt") * length(col("v"))).as("raw_bytes"),
            sum(length(col("v"))).as("dict_value_bytes"))
          .select(lit(tag).as("column_name"), col("n_rows"), col("n_distinct"),
            col("raw_bytes"),
            (col("dict_value_bytes") +
              col("n_rows") * when(col("n_distinct") <= 256, 1L)
                .when(col("n_distinct") <= 65536, 2L).otherwise(4L)).as("dict_bytes"))
          .withColumn("saved_ppm",
            expr("(raw_bytes - dict_bytes) * 1000000 div raw_bytes"))
          .withColumn("use_dict", col("dict_bytes") < col("raw_bytes"))
      plan(Tables.orders(spark, dir), "o_orderpriority", "orders.o_orderpriority")
        .unionAll(plan(Tables.orders(spark, dir), "o_orderstatus", "orders.o_orderstatus"))
        .unionAll(plan(Tables.customer(spark, dir), "c_mktsegment", "customer.c_mktsegment"))
        .unionAll(plan(Tables.part(spark, dir), "p_brand", "part.p_brand"))
        .unionAll(plan(Tables.part(spark, dir), "p_type", "part.p_type"))
        .unionAll(plan(Tables.lineitem(spark, dir), "l_returnflag", "lineitem.l_returnflag"))
        .unionAll(plan(Tables.events(spark, dir), "event_type", "events.event_type"))
        .unionAll(plan(Tables.documents(spark, dir), "lang", "documents.lang"))
        .orderBy(col("column_name"))
    },
    Some {
      def duckPlan(tbl: String, c: String, tag: String) = s"""
        SELECT '$tag' AS column_name,
          CAST(sum(cnt) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(sum(cnt * len(v)) AS BIGINT) AS raw_bytes,
          CAST(sum(len(v)) + sum(cnt) * (CASE WHEN count(*) <= 256 THEN 1
            WHEN count(*) <= 65536 THEN 2 ELSE 4 END) AS BIGINT) AS dict_bytes,
          CAST((sum(cnt * len(v)) - (sum(len(v)) + sum(cnt) * (CASE WHEN count(*) <= 256 THEN 1
            WHEN count(*) <= 65536 THEN 2 ELSE 4 END))) * 1000000
            // sum(cnt * len(v)) AS BIGINT) AS saved_ppm,
          (sum(len(v)) + sum(cnt) * (CASE WHEN count(*) <= 256 THEN 1
            WHEN count(*) <= 65536 THEN 2 ELSE 4 END)) < sum(cnt * len(v)) AS use_dict
        FROM (SELECT $c AS v, CAST(count(*) AS BIGINT) AS cnt FROM $tbl GROUP BY $c)"""
      Seq(duckPlan("orders", "o_orderpriority", "orders.o_orderpriority"),
        duckPlan("orders", "o_orderstatus", "orders.o_orderstatus"),
        duckPlan("customer", "c_mktsegment", "customer.c_mktsegment"),
        duckPlan("part", "p_brand", "part.p_brand"),
        duckPlan("part", "p_type", "part.p_type"),
        duckPlan("lineitem", "l_returnflag", "lineitem.l_returnflag"),
        duckPlan("events", "event_type", "events.event_type"),
        duckPlan("documents", "lang", "documents.lang"))
        .mkString("", "\nUNION ALL", "\nORDER BY column_name")
    })

  /** Feature ranking by Goodman–Kruskal lambda: proportional reduction
    * in error predicting the line return flag from each candidate
    * categorical feature (customer segment, order priority, part brand,
    * ship month). λ = (errors guessing the modal class − errors
    * guessing the per-feature-level modal class) / (errors guessing the
    * modal class). Pure integer counts — the log-free association
    * measure (this codebase deliberately avoids ln: unlike sqrt, libm
    * logs are not correctly-rounded, so they can't be bit-identical
    * across engines); complements q119 (chi²), q152 (Gini), q291 (η²).
    *
    * Scale shape: per feature, one (level, class) joint-histogram
    * aggregate (map-side combined), then vocabulary-sized maxima. */
  private val q326 = QueryDef(
    "q326_lambda_feature_ranking",
    (spark, dir) => {
      def lambda(df: DataFrame, tag: String) = {
        val jh = df.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
        val perX = jh.groupBy(col("x")).agg(max(col("c")).as("mx"))
          .agg(sum(col("mx")).as("sum_modal"))
        val perY = jh.groupBy(col("y")).agg(sum(col("c")).as("cy"))
          .agg(max(col("cy")).as("base_modal"), sum(col("cy")).as("n"))
        perY.crossJoin(broadcast(perX))
          .select(lit(tag).as("feature"), col("n"),
            (col("n") - col("base_modal")).as("base_err"),
            (col("n") - col("sum_modal")).as("model_err"))
          .withColumn("lambda_ppm",
            expr("(base_err - model_err) * 1000000 div base_err"))
      }
      val li = Tables.lineitem(spark, dir)
      val withOrders = li.select(col("l_orderkey"), col("l_returnflag"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
      lambda(withOrders
          .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("x"), col("l_returnflag").as("y")), "c_mktsegment")
        .unionAll(lambda(withOrders
          .select(col("o_orderpriority").as("x"), col("l_returnflag").as("y")), "o_orderpriority"))
        .unionAll(lambda(li
          .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("x"), col("l_returnflag").as("y")), "p_brand"))
        .unionAll(lambda(li
          .select(month(col("l_shipdate")).cast("long").as("x"),
            col("l_returnflag").as("y")), "ship_month"))
        .orderBy(col("feature"))
    },
    Some {
      def duck(srcSql: String, tag: String) = s"""
        SELECT '$tag' AS feature,
          CAST(n AS BIGINT) AS n,
          CAST(n - base_modal AS BIGINT) AS base_err,
          CAST(n - sum_modal AS BIGINT) AS model_err,
          CAST((sum_modal - base_modal) * 1000000 // (n - base_modal) AS BIGINT)
            AS lambda_ppm
        FROM (
          SELECT (SELECT sum(c) FROM (SELECT x, y, count(*) AS c FROM ($srcSql) GROUP BY x, y)) AS n,
            (SELECT max(cy) FROM (SELECT y, count(*) AS cy FROM ($srcSql) GROUP BY y)) AS base_modal,
            (SELECT sum(mx) FROM (
              SELECT x, max(c) AS mx FROM (SELECT x, y, count(*) AS c FROM ($srcSql) GROUP BY x, y)
              GROUP BY x)) AS sum_modal)"""
      Seq(
        duck("""SELECT c_mktsegment AS x, l_returnflag AS y
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey""", "c_mktsegment"),
        duck("""SELECT o_orderpriority AS x, l_returnflag AS y
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey""", "o_orderpriority"),
        duck("""SELECT p_brand AS x, l_returnflag AS y
                FROM lineitem JOIN part ON l_partkey = p_partkey""", "p_brand"),
        duck("""SELECT CAST(month(l_shipdate) AS BIGINT) AS x, l_returnflag AS y
                FROM lineitem""", "ship_month"))
        .mkString("", "\nUNION ALL", "\nORDER BY feature")
    })

  /** Randomization (permutation) test for an A/B difference in mean
    * per-user purchase value: the observed hash-assigned split vs 200
    * deterministic fair-coin reassignments of users (independent hash
    * streams via the randomization_moments native aggregate), p-value
    * = (1 + #replicates at least as extreme) / (B + 1). The
    * assumption-free significance readout behind q163/q225/q240 — and
    * under a hash assignment the null is true by construction, so this
    * doubles as an end-to-end calibration check of the A/B machinery.
    *
    * Scale shape: users reduce to one metric row each (one keyed
    * aggregate over events), then ONE global aggregate carries every
    * replicate's Σw/Σwv in a single long[2B] buffer — users are never
    * replicated B times. */
  private val q327 = QueryDef(
    "q327_randomization_test",
    (spark, dir) => {
      val B = 200
      val um = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(cents(col("value"))).as("m"))
        .withColumn("t",
          expr("CASE WHEN pmod(pmod(user_id, 2147483648) * 2654435761, 4294967296) < 2147483648 THEN 1L ELSE 0L END"))
      val agg = um.agg(
        count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(col("t")).as("nt"), sum(col("t") * col("m")).as("st"),
        graft.functions.VectorAggregates
          .randomization_moments(col("user_id"), col("m"), B).as("bm"))
      val reps = agg
        .select(col("n"), col("s"), col("nt"), col("st"),
          posexplode(expr(
            s"zip_with(slice(bm, 1, $B), slice(bm, ${B + 1}, $B), (a, b) -> struct(a AS sw, b AS swx))"))
            .as(Seq("b0", "p")))
        .selectExpr("n", "s", "nt", "st",
          "CAST(st AS DOUBLE)/CAST(nt AS DOUBLE) - CAST(s - st AS DOUBLE)/CAST(n - nt AS DOUBLE) AS obs_diff",
          "CAST(p.swx AS DOUBLE)/CAST(p.sw AS DOUBLE) - CAST(s - p.swx AS DOUBLE)/CAST(n - p.sw AS DOUBLE) AS rep_diff")
      reps.groupBy(col("n"), col("obs_diff"))
        .agg(sum(when(abs(col("rep_diff")) >= abs(col("obs_diff")), 1L).otherwise(0L))
          .as("n_extreme"))
        .select(col("n").as("n_users"), col("obs_diff").as("obs_diff_cents"),
          col("n_extreme"),
          expr(s"(1 + n_extreme) * 1000000 div ${B + 1}").as("p_ppm"))
    },
    Some("""
      WITH um AS (
        SELECT user_id, CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS m,
          CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296 < 2147483648
               THEN 1 ELSE 0 END AS t
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      base AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s,
          CAST(sum(t) AS BIGINT) AS nt, CAST(sum(t*m) AS BIGINT) AS st
        FROM um),
      reps AS (
        SELECT b, CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w*m) AS BIGINT) AS swx
        FROM (
          SELECT m, b,
            CASE WHEN (((user_id % 2147483648) + 1103515245*b) % 2147483648
                       * 2654435761) % 4294967296 < 2147483648 THEN 1 ELSE 0 END AS w
          FROM um, generate_series(1, 200) g(b))
        GROUP BY b),
      diffs AS (
        SELECT n,
          CAST(st AS DOUBLE)/CAST(nt AS DOUBLE) - CAST(s - st AS DOUBLE)/CAST(n - nt AS DOUBLE) AS obs_diff,
          CAST(swx AS DOUBLE)/CAST(sw AS DOUBLE) - CAST(s - swx AS DOUBLE)/CAST(n - sw AS DOUBLE) AS rep_diff
        FROM base, reps)
      SELECT n AS n_users, obs_diff AS obs_diff_cents,
        CAST(sum(CASE WHEN abs(rep_diff) >= abs(obs_diff) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_extreme,
        CAST((1 + sum(CASE WHEN abs(rep_diff) >= abs(obs_diff) THEN 1 ELSE 0 END)) * 1000000
          // 201 AS BIGINT) AS p_ppm
      FROM diffs GROUP BY n, obs_diff
    """))

  /** Local Outlier Factor (k = 5) over embeddings within label blocks —
    * density-RELATIVE outliers (a point sparse only compared to its own
    * neighborhood), where q310's raw kNN distance misses outliers
    * sitting next to tight clusters. All in exact integers: quantized
    * cosine distance (2^20 grid), integer reachability sums, and
    * LOF = mean of lrd ratios computed as ppm integer divisions —
    * no order-dependent double summation anywhere.
    *
    * Scale shape: q310's label-blocked pairwise kernel join (the
    * block structure bounds the quadratic term), then three keyed
    * joins over the k·n kNN edge list only. */
  private val q328 = QueryDef(
    "q328_lof_outliers",
    (spark, dir) => {
      import graft.functions.expressions.quantized_cosine
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
      val pairs = e
        .join(e.select(col("vec_id").as("nb_id"), col("label"),
          col("embedding").as("nb_vec")), Seq("label"))
        .filter(col("vec_id") =!= col("nb_id"))
        .select(col("vec_id"), col("label"), col("nb_id"),
          floor((lit(1d) - quantized_cosine(col("embedding"), col("nb_vec"))) * 1048576 + 0.5)
            .cast("long").as("dq"))
      val knn = pairs
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("dq"), col("nb_id"))))
        .filter(col("rn") <= 5)
      val kdist = knn.filter(col("rn") === 5)
        .select(col("vec_id").as("nb_id"), col("dq").as("kdist_nb"))
      val sr = knn.join(kdist, Seq("nb_id"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(greatest(col("dq"), col("kdist_nb"))).as("sr"))
      knn.select(col("vec_id"), col("nb_id"))
        .join(sr.select(col("vec_id"), col("label"), col("sr")), Seq("vec_id"))
        .join(sr.select(col("vec_id").as("nb_id"), col("sr").as("sr_nb")), Seq("nb_id"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(expr("sr * 1000000 div greatest(sr_nb, 1)")).as("term_sum"))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("term_sum div 5").as("lof_ppm"))
        .orderBy(col("lof_ppm").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q),
      p AS (
        SELECT a.vec_id, a.label, b.vec_id AS nb_id,
          CAST(floor((1 - CAST(CAST(list_sum(list_transform(range(1, len(a.qv)+1),
                 i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(a.nsq AS DOUBLE)*CAST(b.nsq AS DOUBLE))) * 1048576 + 0.5) AS BIGINT) AS dq
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      knn AS (
        SELECT vec_id, label, nb_id, dq,
          row_number() OVER (PARTITION BY vec_id ORDER BY dq, nb_id) AS rn
        FROM p QUALIFY rn <= 5),
      kdist AS (
        SELECT vec_id AS nb_id, dq AS kdist_nb FROM knn WHERE rn = 5),
      sr AS (
        SELECT knn.vec_id, knn.label,
          CAST(sum(greatest(dq, kdist_nb)) AS BIGINT) AS sr
        FROM knn JOIN kdist ON knn.nb_id = kdist.nb_id
        GROUP BY knn.vec_id, knn.label),
      terms AS (
        SELECT knn.vec_id, sp.label, sp.sr, so.sr AS sr_nb
        FROM knn
        JOIN sr sp ON knn.vec_id = sp.vec_id
        JOIN sr so ON knn.nb_id = so.vec_id)
      SELECT vec_id, CAST(label AS BIGINT) AS label,
        CAST(sum(sr * 1000000 // greatest(sr_nb, 1)) // 5 AS BIGINT) AS lof_ppm
      FROM terms GROUP BY vec_id, label
      ORDER BY lof_ppm DESC, vec_id LIMIT 10
    """))

  /** Graph modularity of sign-LSH buckets over the kNN graph: do the
    * 3-bit hyperplane buckets (q50's family, here the signs of the
    * first three quantized dims) respect local neighborhood structure?
    * Directed modularity per bucket c: (m·e_c − in_c·out_c)/m², in
    * exact integers (decimal(38,0) products, ppm out) — the structural
    * LSH-quality audit beside q258 (transitivity) and q261 (band
    * shape). Positive contributions = buckets denser than chance.
    *
    * Scale shape: q310's label-blocked 5-NN edge list (at 100 TB the
    * pairwise step swaps for q32's IVF-probed candidates — modularity
    * itself only ever touches the k·n edge list and 8 bucket rows). */
  private val q329 = QueryDef(
    "q329_knn_modularity",
    (spark, dir) => {
      import graft.functions.expressions.quantized_cosine
      val signBits =
        """4*(CASE WHEN CAST(floor(CAST(embedding[0] AS DOUBLE)*512 + 0.5) AS BIGINT) > 0 THEN 1 ELSE 0 END)
         + 2*(CASE WHEN CAST(floor(CAST(embedding[1] AS DOUBLE)*512 + 0.5) AS BIGINT) > 0 THEN 1 ELSE 0 END)
         +   (CASE WHEN CAST(floor(CAST(embedding[2] AS DOUBLE)*512 + 0.5) AS BIGINT) > 0 THEN 1 ELSE 0 END)"""
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding"),
          expr(signBits).cast("long").as("bucket"))
      val edges = e.select(col("label"), col("vec_id").as("src"),
          col("embedding").as("ea"), col("bucket").as("src_b"))
        .join(e.select(col("label"), col("vec_id").as("dst"),
          col("embedding").as("eb"), col("bucket").as("dst_b")), Seq("label"))
        .filter(col("src") =!= col("dst"))
        .withColumn("cos", quantized_cosine(col("ea"), col("eb")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
        .filter(col("rk") <= 5)
        .select(col("src_b"), col("dst_b"))
      val m = edges.agg(count(lit(1)).as("m"))
      val perB = edges.groupBy(col("src_b").as("bucket"))
        .agg(count(lit(1)).as("out_c"),
          sum(when(col("src_b") === col("dst_b"), 1L).otherwise(0L)).as("e_c"))
        .join(edges.groupBy(col("dst_b").as("bucket")).agg(count(lit(1)).as("in_c")),
          Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("out_c", "e_c", "in_c"))
      perB.crossJoin(broadcast(m))
        .select(col("bucket"), col("e_c").as("n_intra"), col("in_c"), col("out_c"),
          expr("""CAST((CAST(m AS DECIMAL(38,0)) * e_c - CAST(in_c AS DECIMAL(38,0)) * out_c)
                  * 1000000 DIV (CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)""").as("contrib_ppm"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv
        FROM embeddings),
      b AS (
        SELECT vec_id, label, qv,
          4*(CASE WHEN qv[1] > 0 THEN 1 ELSE 0 END)
          + 2*(CASE WHEN qv[2] > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN qv[3] > 0 THEN 1 ELSE 0 END) AS bucket,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q),
      p AS (
        SELECT a.vec_id AS src, a.bucket AS src_b, c.vec_id AS dst, c.bucket AS dst_b,
          CAST(CAST(list_sum(list_transform(range(1, len(a.qv)+1),
                 i -> a.qv[i]*c.qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(a.nsq AS DOUBLE)*CAST(c.nsq AS DOUBLE)) AS cos
        FROM b a JOIN b c ON a.label = c.label AND a.vec_id <> c.vec_id),
      edges AS (
        SELECT src_b, dst_b,
          row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM p QUALIFY rk <= 5),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
      outs AS (SELECT src_b AS bucket, CAST(count(*) AS BIGINT) AS out_c,
          CAST(sum(CASE WHEN src_b = dst_b THEN 1 ELSE 0 END) AS BIGINT) AS e_c
        FROM edges GROUP BY src_b),
      ins AS (SELECT dst_b AS bucket, CAST(count(*) AS BIGINT) AS in_c
        FROM edges GROUP BY dst_b),
      per_b AS (
        SELECT coalesce(outs.bucket, ins.bucket) AS bucket,
          coalesce(out_c, 0) AS out_c, coalesce(e_c, 0) AS e_c, coalesce(in_c, 0) AS in_c
        FROM outs FULL OUTER JOIN ins ON outs.bucket = ins.bucket)
      SELECT CAST(bucket AS BIGINT) AS bucket, e_c AS n_intra, in_c, out_c,
        CAST((CAST(m AS HUGEINT) * e_c - CAST(in_c AS HUGEINT) * out_c)
             * 1000000 // (CAST(m AS HUGEINT) * m) AS BIGINT) AS contrib_ppm
      FROM per_b, m ORDER BY bucket
    """))

  /** Poisson-bootstrap CI for a RATIO metric — revenue per event, where
    * the unit of resampling (the user) differs from the denominator
    * unit, so the naive per-row variance is simply wrong. Two
    * bootstrap_moments aggregates over the SAME key share every weight
    * stream by construction, so replicate b's ratio is Σw·x / Σw·y with
    * consistent w — the delta-method-free way to get ratio CIs at
    * cluster scale.
    *
    * Scale shape: one keyed per-user aggregate, then one global
    * aggregate carrying two long[2B] buffers; rank-5 / rank-196 order
    * statistics of 200 replicate ratios. */
  private val q330 = QueryDef(
    "q330_bootstrap_ratio_ci",
    (spark, dir) => {
      val B = 200
      val um = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("x"),
          count(lit(1)).as("y"))
      val agg = um.agg(
        count(lit(1)).as("n_users"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        graft.functions.VectorAggregates.bootstrap_moments(col("user_id"), col("x"), B).as("bx"),
        graft.functions.VectorAggregates.bootstrap_moments(col("user_id"), col("y"), B).as("by"))
      val reps = agg
        .select(col("n_users"), col("sx"), col("sy"),
          posexplode(expr(
            s"zip_with(slice(bx, ${B + 1}, $B), slice(by, ${B + 1}, $B), (a, b) -> struct(a AS wx, b AS wy))"))
            .as(Seq("b0", "p")))
        .selectExpr("n_users", "sx", "sy", "b0 + 1 AS b",
          "CAST(p.wx AS DOUBLE)/CAST(p.wy AS DOUBLE) AS rep_ratio")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("n_users")).orderBy(col("rep_ratio"), col("b"))))
      reps.filter(col("rk") === 5 || col("rk") === 196)
        .groupBy(col("n_users"), col("sx"), col("sy"))
        .agg(min(when(col("rk") === 5, col("rep_ratio"))).as("ci_lo"),
          min(when(col("rk") === 196, col("rep_ratio"))).as("ci_hi"))
        .selectExpr("n_users",
          "CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE) AS ratio_cents_per_event",
          "ci_lo", "ci_hi")
    },
    Some("""
      WITH um AS (
        SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'purchase'
            THEN CAST(floor(value*100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
        FROM um),
      weighted AS (
        SELECT x, y, b,
          CASE
            WHEN h < 1580030168 THEN 0
            WHEN h < 3160060337 THEN 1
            WHEN h < 3950075421 THEN 2
            WHEN h < 4213413783 THEN 3
            WHEN h < 4279248373 THEN 4
            WHEN h < 4292415291 THEN 5
            ELSE 6 END AS w
        FROM (
          SELECT x, y, b,
            (((user_id % 2147483648) + 1103515245*b) % 2147483648 * 2654435761)
              % 4294967296 AS h
          FROM um, generate_series(1, 200) g(b))),
      reps AS (
        SELECT b, CAST(sum(w*x) AS DOUBLE)/CAST(sum(w*y) AS DOUBLE) AS rep_ratio
        FROM weighted GROUP BY b),
      ranked AS (
        SELECT rep_ratio, row_number() OVER (ORDER BY rep_ratio, b) AS rk FROM reps)
      SELECT n_users, CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE) AS ratio_cents_per_event,
        min(CASE WHEN rk = 5 THEN rep_ratio END) AS ci_lo,
        min(CASE WHEN rk = 196 THEN rep_ratio END) AS ci_hi
      FROM base, ranked WHERE rk = 5 OR rk = 196
      GROUP BY n_users, sx, sy
    """))

  /** Zone-map (min/max block statistics) skip-rate audit for a
    * recent-shipments predicate, under two physical layouts: blocks
    * formed in orderkey order (ingest order — ship dates scattered, few
    * blocks skippable) vs blocks formed in shipdate order (time-
    * clustered — nearly every cold block skips). The measurement
    * behind q123's z-order recommendation: same data, same predicate,
    * skip rate decided purely by layout.
    *
    * Scale shape: per layout, one block-grain aggregate (block id is
    * arithmetic on the row, map-side combined) + a one-row broadcast
    * cutoff; never a sort — the shipdate layout is SIMULATED by value
    * bucketing, which is exactly what range-partitioned writes produce. */
  private val q331 = QueryDef(
    "q331_zonemap_skip_audit",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("k"), epochS(col("l_shipdate")).as("ship_s"))
      val bounds = li.agg(min(col("k")).as("k_lo"), max(col("k")).as("k_hi"),
        min(col("ship_s")).as("s_lo"), max(col("ship_s")).as("s_hi"),
        (max(col("ship_s")) - 90L * 86400L).as("cut_s"))
      def audit(bucketExpr: String, tag: String) =
        li.crossJoin(broadcast(bounds))
          .withColumn("blk", expr(bucketExpr))
          .groupBy(col("blk"))
          .agg(max(col("ship_s")).as("blk_max"), count(lit(1)).as("rows_blk"),
            sum(when(col("ship_s") >= col("cut_s"), 1L).otherwise(0L)).as("rows_match_blk"),
            max(col("cut_s")).as("cut_s"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("blk_max") < col("cut_s"), 1L).otherwise(0L)).as("skippable"),
            sum(col("rows_blk")).as("rows_total"),
            sum(col("rows_match_blk")).as("rows_match"),
            sum(when(col("blk_max") >= col("cut_s"), col("rows_blk")).otherwise(0L))
              .as("rows_scanned"))
          .select(lit(tag).as("layout"), col("n_blocks"), col("skippable"),
            expr("skippable * 1000000 div n_blocks").as("skip_ppm"),
            col("rows_total"), col("rows_match"), col("rows_scanned"),
            expr("(rows_total - rows_scanned) * 1000000 div rows_total").as("scan_saving_ppm"))
      audit("(k - k_lo) div ((k_hi - k_lo) div 128 + 1)", "by_orderkey")
        .unionAll(audit("(ship_s - s_lo) div ((s_hi - s_lo) div 128 + 1)", "by_shipdate"))
        .orderBy(col("layout"))
    },
    Some {
      def duckAudit(bucketExpr: String, tag: String) = s"""
        SELECT '$tag' AS layout,
          CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(sum(CASE WHEN blk_max < cut_s THEN 1 ELSE 0 END) AS BIGINT) AS skippable,
          CAST(sum(CASE WHEN blk_max < cut_s THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS skip_ppm,
          CAST(sum(rows_blk) AS BIGINT) AS rows_total,
          CAST(sum(rows_match_blk) AS BIGINT) AS rows_match,
          CAST(sum(CASE WHEN blk_max >= cut_s THEN rows_blk ELSE 0 END) AS BIGINT)
            AS rows_scanned,
          CAST((sum(rows_blk) - sum(CASE WHEN blk_max >= cut_s THEN rows_blk ELSE 0 END))
            * 1000000 // sum(rows_blk) AS BIGINT) AS scan_saving_ppm
        FROM (
          SELECT $bucketExpr AS blk, max(ship_s) AS blk_max,
            CAST(count(*) AS BIGINT) AS rows_blk,
            CAST(sum(CASE WHEN ship_s >= cut_s THEN 1 ELSE 0 END) AS BIGINT)
              AS rows_match_blk,
            max(cut_s) AS cut_s
          FROM li, bounds GROUP BY blk)"""
      s"""
      WITH li AS (
        SELECT l_orderkey AS k, epoch_ms(l_shipdate) // 1000 AS ship_s FROM lineitem),
      bounds AS (
        SELECT min(k) AS k_lo, max(k) AS k_hi, min(ship_s) AS s_lo, max(ship_s) AS s_hi,
          max(ship_s) - 90*86400 AS cut_s
        FROM li)
      ${duckAudit("(k - k_lo) // ((k_hi - k_lo) // 128 + 1)", "by_orderkey")}
      UNION ALL
      ${duckAudit("(ship_s - s_lo) // ((s_hi - s_lo) // 128 + 1)", "by_shipdate")}
      ORDER BY layout
      """
    })

  /** CUPED variance reduction readout: regression-adjust each user's
    * post-period metric by their pre-period metric (θ = cov/var from
    * exact integer sufficient statistics) and report the variance
    * reduction the adjustment buys (ρ², the whole point of CUPED). The
    * power multiplier for every experiment readout in the catalog
    * (q163/q225/q240/q309/q327): 1/(1−ρ²) more sensitivity for free.
    *
    * Scale shape: one keyed per-user aggregate (pre/post split by a
    * broadcast one-row midpoint), one global 6-sum aggregate, shared-
    * text IEEE finish. */
  private val q332 = QueryDef(
    "q332_cuped_variance_reduction",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"),
          cents(col("value")).as("v"))
      val mid = ev.agg(((min(col("ts_s")) + max(col("ts_s"))) / 2).cast("long").as("mid_s"))
      val um = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts_s") < col("mid_s"), col("v")).otherwise(0L)).as("x"),
          sum(when(col("ts_s") >= col("mid_s"), col("v")).otherwise(0L)).as("y"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      um.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec(col("x")) * col("x")).as("sxx"),
          sum(dec(col("x")) * col("y")).as("sxy"),
          sum(dec(col("y")) * col("y")).as("syy"))
        .selectExpr(Seq("n") ++ spearmanCastExprs: _*)
        .selectExpr("n AS n_users",
          "(fn*fxy - fx*fy) / (fn*fxx - fx*fx) AS theta",
          "(fn*fxy - fx*fy) * (fn*fxy - fx*fy) / ((fn*fxx - fx*fx) * (fn*fyy - fy*fy)) AS var_reduction")
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, epoch_ms(ts) // 1000 AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events),
      mid AS (SELECT (min(ts_s) + max(ts_s)) // 2 AS mid_s FROM ev),
      um AS (
        SELECT user_id,
          CAST(sum(CASE WHEN ts_s < mid_s THEN v ELSE 0 END) AS BIGINT) AS x,
          CAST(sum(CASE WHEN ts_s >= mid_s THEN v ELSE 0 END) AS BIGINT) AS y
        FROM ev, mid GROUP BY user_id),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          sum(CAST(x AS HUGEINT) * x) AS sxx,
          sum(CAST(x AS HUGEINT) * y) AS sxy,
          sum(CAST(y AS HUGEINT) * y) AS syy
        FROM um),
      casted AS (SELECT n, ${spearmanCastExprs.mkString(", ")} FROM sums)
      SELECT n AS n_users,
        (fn*fxy - fx*fy) / (fn*fxx - fx*fx) AS theta,
        (fn*fxy - fx*fy) * (fn*fxy - fx*fy) / ((fn*fxx - fx*fx) * (fn*fyy - fy*fy)) AS var_reduction
      FROM casted
    """))

  /** Group-aware K-fold audit: assign events to 5 CV folds two ways —
    * by user hash (group-aware: a user's rows land in ONE fold) and by
    * row hash (the naive leak: the same user trains AND validates) —
    * and measure what matters: groups straddling folds, and fold-size
    * spread. The empirical argument for group K-fold that q231
    * (temporal leakage) and q172 (dup-cluster leakage) make for their
    * leak classes.
    *
    * Scale shape: per scheme, one keyed per-user aggregate (distinct
    * fold count via bitmask OR — folds ≤ 5, so a 5-bit mask beats
    * countDistinct) and one fold-size census. */
  private val q333 = QueryDef(
    "q333_group_kfold_audit",
    (spark, dir) => {
      def audit(foldCol: String, tag: String) = {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"))
          .withColumn("fold", expr(foldCol))
        val spread = ev.groupBy(col("fold")).agg(count(lit(1)).as("fr"))
          .agg(count(lit(1)).as("n_folds"), min(col("fr")).as("min_fold_rows"),
            max(col("fr")).as("max_fold_rows"))
        val split = ev
          .groupBy(col("user_id"))
          .agg(expr("bit_or(shiftleft(1L, CAST(fold AS INT)))").as("mask"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(expr("bit_count(mask)") > 1, 1L).otherwise(0L)).as("groups_split"))
        split.crossJoin(broadcast(spread))
          .select(lit(tag).as("scheme"), col("n_groups"), col("groups_split"),
            col("n_folds"), col("min_fold_rows"), col("max_fold_rows"),
            expr("(max_fold_rows - min_fold_rows) * 1000000 div max_fold_rows")
              .as("imbalance_ppm"))
      }
      audit("pmod(pmod(user_id, 2147483648) * 2654435761, 4294967296) % 5", "by_group_hash")
        .unionAll(
          audit("pmod(pmod(event_id, 2147483648) * 2654435761, 4294967296) % 5", "by_row_hash"))
        .orderBy(col("scheme"))
    },
    Some {
      def duck(foldExpr: String, tag: String) = s"""
        SELECT '$tag' AS scheme, n_groups, groups_split,
          n_folds, min_fold_rows, max_fold_rows,
          (max_fold_rows - min_fold_rows) * 1000000 // max_fold_rows AS imbalance_ppm
        FROM (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
            CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS groups_split
          FROM (SELECT user_id, count(DISTINCT fold) AS nf
                FROM (SELECT user_id, $foldExpr AS fold FROM events) GROUP BY user_id)),
          (SELECT CAST(count(*) AS BIGINT) AS n_folds,
            CAST(min(fr) AS BIGINT) AS min_fold_rows,
            CAST(max(fr) AS BIGINT) AS max_fold_rows
          FROM (SELECT fold, count(*) AS fr
                FROM (SELECT $foldExpr AS fold FROM events) GROUP BY fold))"""
      Seq(duck("((user_id % 2147483648) * 2654435761) % 4294967296 % 5", "by_group_hash"),
        duck("((event_id % 2147483648) * 2654435761) % 4294967296 % 5", "by_row_hash"))
        .mkString("", "\nUNION ALL", "\nORDER BY scheme")
    })

  /** Kaplan–Meier survival for time-to-second-purchase, with censoring
    * (single-purchase users censor at the dataset horizon). The
    * product-limit curve Π(1 − d/n) is a running product of doubles —
    * the one shape exact integers can't carry — so it's computed as a
    * LEFT FOLD over the ascending-day factor array on BOTH engines
    * (Spark `aggregate`, DuckDB `list_reduce`): identical factors in
    * identical order means identical IEEE products, no libm calls.
    * Extends q216's discrete life table with proper censoring.
    *
    * Scale shape: users reduce to one (duration, event) row each, then
    * everything runs on the day-grain histogram (vocabulary-sized —
    * the factor array, the cumulative at-risk window, the fold). */
  private val q334 = QueryDef(
    "q334_kaplan_meier",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), epochS(col("ts")).as("ts_s"))
      val horizon = Tables.events(spark, dir)
        .agg(max(epochS(col("ts"))).as("h_s"))
      val perUser = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("user_id"))))
        .filter(col("rn") <= 2)
        .groupBy(col("user_id"))
        .agg(min(col("ts_s")).as("p1"),
          max(when(col("rn") === 2, col("ts_s"))).as("p2"))
        .crossJoin(broadcast(horizon))
        .select(
          when(col("p2").isNotNull, (col("p2") - col("p1")).cast("long"))
            .otherwise(col("h_s") - col("p1")).as("dur_s"),
          when(col("p2").isNotNull, 1L).otherwise(0L).as("event"))
        .select(expr("dur_s div 86400").as("t"), col("event"))
      val days = perUser.groupBy(col("t"))
        .agg(sum(col("event")).as("d"), sum(lit(1L) - col("event")).as("c"))
      val w = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
      val atRisk = days
        .crossJoin(broadcast(perUser.agg(count(lit(1)).as("n_total"))))
        .withColumn("ended_before", coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
        .withColumn("n_risk", col("n_total") - col("ended_before"))
        .filter(col("d") > 0)
        .select(col("t"), col("n_risk"), col("d"),
          ((col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double"))
            .as("f"))
      val factors = atRisk
        .agg(sort_array(collect_list(struct(col("t"), col("f")))).as("arr"))
      atRisk.crossJoin(broadcast(factors))
        .withColumn("surv", expr(
          "aggregate(filter(arr, e -> e.t <= t), CAST(1.0 AS DOUBLE), (a, e) -> a * e.f)"))
        .select(col("t").as("t_days"), col("n_risk"), col("d").as("d_events"),
          col("surv"))
        .orderBy(col("t_days"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_ms(ts) // 1000 AS ts_s
        FROM events WHERE event_type = 'purchase'),
      horizon AS (SELECT max(epoch_ms(ts) // 1000) AS h_s FROM events),
      ranked AS (
        SELECT user_id, ts_s,
          row_number() OVER (PARTITION BY user_id ORDER BY ts_s, user_id) AS rn
        FROM ev QUALIFY rn <= 2),
      per_user AS (
        SELECT (CASE WHEN p2 IS NOT NULL THEN p2 - p1 ELSE h_s - p1 END) // 86400 AS t,
          CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM (
          SELECT user_id, min(ts_s) AS p1,
            max(CASE WHEN rn = 2 THEN ts_s END) AS p2
          FROM ranked GROUP BY user_id), horizon),
      days AS (
        SELECT t, CAST(sum(event) AS BIGINT) AS d,
          CAST(sum(1 - event) AS BIGINT) AS c
        FROM per_user GROUP BY t),
      at_risk AS (
        SELECT t, d,
          (SELECT count(*) FROM per_user)
            - coalesce(sum(d + c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM days),
      fs AS (
        SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
          CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS f
        FROM at_risk WHERE d > 0),
      arr AS (
        SELECT list(struct_pack(t := t, f := f) ORDER BY t) AS a FROM fs)
      SELECT fs.t AS t_days, n_risk, d AS d_events,
        list_reduce(
          list_prepend(CAST(1.0 AS DOUBLE),
            list_transform(list_filter(a, e -> e.t <= fs.t), e -> e.f)),
          (acc, x) -> acc * x) AS surv
      FROM fs, arr ORDER BY t_days
    """))

  /** Split-conformal prediction calibration: a hash-designated 50%
    * calibration half fits the (trivial but honest) per-segment mean
    * predictor and the conformal quantile q̂ = the ceil(0.95·(n+1))-th
    * smallest absolute residual; the held-out half then measures
    * empirical coverage of μ ± q̂ — distribution-free, and the finite-
    * sample guarantee (coverage ≥ 95%) is testable. The calibration
    * layer any point predictor in this catalog (q323's OLS, q124's
    * target encoding) needs before its outputs are shipped.
    *
    * Scale shape: two keyed aggregates for the predictor; the residual
    * quantile here is a per-segment cumulative histogram window — at
    * 100 TB swap it for RankSelect's two-level selection (same
    * thresholds bit-for-bit, documented there). */
  private val q335 = QueryDef(
    "q335_conformal_calibration",
    (spark, dir) => {
      val rows = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
          cents(col("o_totalprice")).as("y"),
          (Sampling.keyHash(col("o_orderkey")) % 10000 < 5000).as("is_cal"))
      val mu = rows.filter(col("is_cal")).groupBy(col("segment"))
        .agg(expr("sum(y) div count(1)").as("mu"))
      val scored = rows.join(broadcast(mu), Seq("segment"))
        .withColumn("s", abs(col("y") - col("mu")))
      val calHist = scored.filter(col("is_cal"))
        .groupBy(col("segment"), col("s")).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("segment")).orderBy(col("s"))
      val qhat = calHist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n_cal", sum(col("c")).over(Window.partitionBy(col("segment"))))
        .groupBy(col("segment"))
        .agg(max(col("n_cal")).as("n_cal"),
          min(when(col("cum") * 100 >= (col("n_cal") + 1) * 95, col("s"))).as("q_hat"))
      scored.filter(!col("is_cal"))
        .join(broadcast(qhat), Seq("segment"))
        .groupBy(col("segment"), col("n_cal"), col("q_hat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("s") <= col("q_hat"), 1L).otherwise(0L)).as("covered"))
        .select(col("segment"), col("n_cal"), col("q_hat"), col("n_test"),
          expr("covered * 1000000 div n_test").as("coverage_ppm"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH rows_c AS (
        SELECT c_mktsegment AS segment, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS y,
          ((o_orderkey % 2147483648) * 2654435761) % 4294967296 % 10000 < 5000 AS is_cal
        FROM orders JOIN customer ON o_custkey = c_custkey),
      mu AS (
        SELECT segment, sum(y) // count(*) AS mu
        FROM rows_c WHERE is_cal GROUP BY segment),
      scored AS (
        SELECT rows_c.segment, is_cal, abs(y - mu) AS s
        FROM rows_c JOIN mu ON rows_c.segment = mu.segment),
      cal_hist AS (
        SELECT segment, s, CAST(count(*) AS BIGINT) AS c
        FROM scored WHERE is_cal GROUP BY segment, s),
      qhat AS (
        SELECT segment, CAST(max(n_cal) AS BIGINT) AS n_cal,
          CAST(min(CASE WHEN cum * 100 >= (n_cal + 1) * 95 THEN s END) AS BIGINT) AS q_hat
        FROM (
          SELECT segment, s, c,
            sum(c) OVER (PARTITION BY segment ORDER BY s) AS cum,
            sum(c) OVER (PARTITION BY segment) AS n_cal
          FROM cal_hist)
        GROUP BY segment)
      SELECT scored.segment, n_cal, q_hat,
        CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN s <= q_hat THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS coverage_ppm
      FROM scored JOIN qhat ON scored.segment = qhat.segment
      WHERE NOT is_cal
      GROUP BY scored.segment, n_cal, q_hat
      ORDER BY scored.segment
    """))

  /** Median-of-means robust estimator for mean per-user purchase value:
    * users hash into 32 buckets, each bucket contributes its mean, and
    * the estimate is the (lower) median of the 32 — the estimator with
    * sub-Gaussian deviation bounds under heavy tails, and the natural
    * distributed one (each bucket is a shard-local aggregate; only 32
    * numbers meet). Reported beside the plain mean so the gap itself
    * is the heavy-tail diagnostic (complements q146's MAD gate).
    *
    * Scale shape: one keyed per-user aggregate, one 32-ary keyed
    * aggregate, a 32-row sort. */
  private val q336 = QueryDef(
    "q336_median_of_means",
    (spark, dir) => {
      val um = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(cents(col("value"))).as("m"))
        .withColumn("bkt", Sampling.keyHash(col("user_id")) % 32)
      val buckets = um.groupBy(col("bkt"))
        .agg(sum(col("m")).as("sm"), count(lit(1)).as("nm"))
        .select(col("bkt"),
          (col("sm").cast("double") / col("nm").cast("double")).as("bmean"))
        .withColumn("rk", row_number().over(Window.orderBy(col("bmean"), col("bkt"))))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy()))
      // lower median, robust to sparse buckets at tiny SFs
      val mom = buckets.filter(col("rk") === expr("(nb + 1) div 2"))
        .select(col("bmean").as("mom_cents"))
      um.agg(count(lit(1)).as("n_users"), sum(col("m")).as("sv"))
        .crossJoin(broadcast(mom))
        .selectExpr("n_users",
          "CAST(sv AS DOUBLE)/CAST(n_users AS DOUBLE) AS mean_cents",
          "mom_cents")
    },
    Some("""
      WITH um AS (
        SELECT user_id, CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS m,
          ((user_id % 2147483648) * 2654435761) % 4294967296 % 32 AS bkt
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      buckets AS (
        SELECT bkt, CAST(sum(m) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS bmean
        FROM um GROUP BY bkt),
      ranked AS (
        SELECT bmean, row_number() OVER (ORDER BY bmean, bkt) AS rk,
          count(*) OVER () AS nb
        FROM buckets),
      mom AS (SELECT bmean AS mom_cents FROM ranked WHERE rk = (nb + 1) // 2)
      SELECT CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(m) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS mean_cents,
        mom_cents
      FROM um, mom GROUP BY mom_cents
    """))

  /** Vocabulary growth curve over NESTED hash samples (25% ⊂ 50% ⊂
    * 100% of documents — the keyed-sample nesting property q45/q257
    * rely on): distinct tokens, token totals, type-token ratio, and
    * level-over-level vocabulary growth. The log-free empirical Heaps
    * curve: sub-linear growth ratios are the evidence a tokenizer
    * budget (q159/q273) extrapolates from.
    *
    * Scale shape: tokens explode once; ONE token-grain aggregate
    * carries (first-level-seen, per-level counts); the three levels
    * unfold from a single row. */
  private val q337 = QueryDef(
    "q337_vocab_growth_curve",
    (spark, dir) => {
      import graft.functions.expressions.tokens_native
      val tok = Tables.documents(spark, dir)
        .select((Sampling.keyHash(col("doc_id")) % 10000).as("s"), col("text"))
        .withColumn("lv", when(col("s") < 2500, 0).when(col("s") < 5000, 1).otherwise(2))
        .select(col("lv"), explode(tokens_native(col("text"))).as("token"))
      val perTok = tok.groupBy(col("token"))
        .agg(min(col("lv")).as("minlv"),
          sum(when(col("lv") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("lv") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("lv") === 2, 1L).otherwise(0L)).as("c2"))
      val one = perTok.agg(
        sum(col("c0")).as("t25"),
        (sum(col("c0")) + sum(col("c1"))).as("t50"),
        (sum(col("c0")) + sum(col("c1")) + sum(col("c2"))).as("t100"),
        sum(when(col("minlv") === 0, 1L).otherwise(0L)).as("v25"),
        sum(when(col("minlv") <= 1, 1L).otherwise(0L)).as("v50"),
        count(lit(1)).as("v100"))
      one.selectExpr(
        """stack(3,
             25,  t25,  v25,  CAST(NULL AS BIGINT),
             50,  t50,  v50,  v50 * 1000000 div v25,
             100, t100, v100, v100 * 1000000 div v50)
           AS (level_pct, n_tokens, vocab, vocab_growth_ppm)""")
        .selectExpr("level_pct", "n_tokens", "vocab",
          "vocab * 1000000 div n_tokens AS ttr_ppm", "vocab_growth_ppm")
        .orderBy(col("level_pct"))
    },
    Some(s"""
      WITH tok AS (
        SELECT CASE WHEN s < 2500 THEN 0 WHEN s < 5000 THEN 1 ELSE 2 END AS lv,
          unnest($duckTokens) AS token
        FROM (
          SELECT ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 AS s, text
          FROM documents)),
      per_tok AS (
        SELECT token, min(lv) AS minlv,
          CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          CAST(sum(CASE WHEN lv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN lv = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM tok GROUP BY token),
      one AS (
        SELECT CAST(sum(c0) AS BIGINT) AS t25,
          CAST(sum(c0) + sum(c1) AS BIGINT) AS t50,
          CAST(sum(c0) + sum(c1) + sum(c2) AS BIGINT) AS t100,
          CAST(sum(CASE WHEN minlv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v25,
          CAST(sum(CASE WHEN minlv <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS v50,
          CAST(count(*) AS BIGINT) AS v100
        FROM per_tok)
      SELECT * FROM (
        SELECT 25 AS level_pct, t25 AS n_tokens, v25 AS vocab,
          v25 * 1000000 // t25 AS ttr_ppm, CAST(NULL AS BIGINT) AS vocab_growth_ppm
        FROM one
        UNION ALL
        SELECT 50, t50, v50, v50 * 1000000 // t50, v50 * 1000000 // v25 FROM one
        UNION ALL
        SELECT 100, t100, v100, v100 * 1000000 // t100, v100 * 1000000 // v50 FROM one)
      ORDER BY level_pct
    """))

  /** Product-quantization codebook: the 64-dim embedding splits into 8
    * subspaces of 8 dims; each subspace trains k = 4 centroids with 2
    * Lloyd iterations — hash-selected seeds, integer L2 assignment
    * (argmin needs no sqrt), floor-mean centroid updates — ALL in the
    * 2^9-quantized integer grid, so both engines walk the identical
    * k-means trajectory. The missing member of the ANN family: IVF
    * (q32) partitions coarsely, PQ compresses residuals — 64 floats
    * become 8 2-bit codes. Output: per (subspace, cluster) membership
    * and distortion after the final assignment.
    *
    * Scale shape: centroids are vocabulary-sized (8×4) and broadcast
    * every iteration; each Lloyd step is one narrow keyed aggregate
    * over (vector, subspace) rows. Iteration count is FIXED (2), the
    * cluster-scale contract for iterative algorithms (q75/q271/q293). */
  private val q338 = QueryDef(
    "q338_pq_codebook",
    (spark, dir) => {
      val (_, _, best2) = pqParts(spark, dir)
      best2.groupBy(col("s").cast("long").as("s"), col("j").cast("long").as("j"))
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("distortion"))
        .orderBy(col("s"), col("j"))
    },
    Some(s"""
      WITH $pqCtes
      SELECT s, j, CAST(count(*) AS BIGINT) AS n_members,
        CAST(sum(dist) AS BIGINT) AS distortion
      FROM a2 GROUP BY s, j ORDER BY s, j
    """))

  /** The PQ training chain shared by q338/q341: quantized vectors split
    * into 8×8 subspaces, hash seeds, two Lloyd iterations. Returns
    * (subvector rows, trained centroids, final assignment). */
  private def pqParts(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val qv = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*512 + 0.5) AS BIGINT))")
          .as("qv"),
        Sampling.keyHash(col("vec_id")).as("h"))
    val seeds = qv.orderBy(col("h"), col("vec_id")).limit(4)
      .withColumn("j", row_number().over(Window.orderBy(col("h"), col("vec_id"))))
    def subspaces(df: DataFrame, vecCol: String, out: String) = df
      .select(col("*"), explode(sequence(lit(0), lit(7))).as("s"))
      .withColumn(out, expr(s"slice($vecCol, s*8 + 1, 8)"))
    val sub = subspaces(qv, "qv", "x").select(col("vec_id"), col("s"), col("x"))
    val dist = "aggregate(zip_with(x, c, (a, b) -> (a-b)*(a-b)), 0L, (p, q) -> p + q)"
    def assign(cents: DataFrame) = sub
      .join(broadcast(cents), Seq("s"))
      .withColumn("dist", expr(dist))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("s")).orderBy(col("dist"), col("j"))))
      .filter(col("rn") === 1)
    def update(best: DataFrame) = best
      .groupBy(col("s"), col("j"))
      .agg(graft.functions.VectorAggregates.vector_sum(col("x"), 8).as("sv"),
        count(lit(1)).as("cnt"))
      .select(col("s"), col("j"), expr("transform(sv, e -> e div cnt)").as("c"))
    val cents0 = subspaces(seeds, "qv", "c").select(col("s"), col("j"), col("c"))
    val cents1 = update(assign(cents0))
    (sub, cents1, assign(cents1))
  }

  /** The PQ training chain (q338) as shared DuckDB CTE text, so the ADC
    * recall audit (q341) reproduces the identical codebook. */
  private def pqCtes: String = s"""q AS (
        SELECT vec_id,
          $duckQuantVec AS qv,
          ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h
        FROM embeddings),
      seeds AS (
        SELECT qv, row_number() OVER (ORDER BY h, vec_id) AS j
        FROM q QUALIFY j <= 4),
      sub AS (
        SELECT vec_id, s, list_slice(qv, s*8 + 1, s*8 + 8) AS x
        FROM q, generate_series(0, 7) g(s)),
      cents0 AS (
        SELECT s, j, list_slice(qv, s*8 + 1, s*8 + 8) AS c
        FROM seeds, generate_series(0, 7) g(s)),
      a1 AS (
        SELECT vec_id, s, x, j,
          CAST(list_sum(list_transform(range(1, 9),
            i -> (x[i]-c[i])*(x[i]-c[i]))) AS BIGINT) AS dist,
          row_number() OVER (PARTITION BY vec_id, s ORDER BY
            list_sum(list_transform(range(1, 9), i -> (x[i]-c[i])*(x[i]-c[i]))), j) AS rn
        FROM sub JOIN cents0 USING (s) QUALIFY rn = 1),
      c1e AS (
        SELECT s, j, i,
          CAST(CAST(sum(x[i]) AS HUGEINT) // count(*) AS BIGINT) AS el
        FROM a1, generate_series(1, 8) g(i)
        GROUP BY s, j, i),
      cents1 AS (
        SELECT s, j, list(el ORDER BY i) AS c FROM c1e GROUP BY s, j),
      a2 AS (
        SELECT vec_id, s, x, j,
          CAST(list_sum(list_transform(range(1, 9),
            i -> (x[i]-c[i])*(x[i]-c[i]))) AS BIGINT) AS dist,
          row_number() OVER (PARTITION BY vec_id, s ORDER BY
            list_sum(list_transform(range(1, 9), i -> (x[i]-c[i])*(x[i]-c[i]))), j) AS rn
        FROM sub JOIN cents1 USING (s) QUALIFY rn = 1)"""

  /** Chi-square cell diagnosis: Haberman adjusted residuals for the
    * (market segment × order priority) contingency table — q119 says
    * WHETHER the table deviates from independence; this says WHICH
    * cells drive it, in ±z units. Counts stay exact integers; the
    * residual is one shared IEEE expression (sqrt only — correctly
    * rounded, unlike logs).
    *
    * Scale shape: one cell-grain aggregate, marginals re-aggregated
    * from the 25 cells, one-row total broadcast. */
  private val q339 = QueryDef(
    "q339_chisq_residuals",
    (spark, dir) => {
      val cells = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("o"))
      val mx = cells.groupBy(col("seg")).agg(sum(col("o")).as("nx"))
      val my = cells.groupBy(col("prio")).agg(sum(col("o")).as("ny"))
      val n = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(mx), Seq("seg")).join(broadcast(my), Seq("prio"))
        .crossJoin(broadcast(n))
        .selectExpr("seg", "prio", "o", "nx", "ny", "n",
          chisqResidualExpr)
        .select(col("seg"), col("prio"), col("o"), col("adj_residual"))
        .orderBy(col("seg"), col("prio"))
    },
    Some(s"""
      WITH cells AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS prio,
          CAST(count(*) AS BIGINT) AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY seg, prio),
      mx AS (SELECT seg, CAST(sum(o) AS BIGINT) AS nx FROM cells GROUP BY seg),
      my AS (SELECT prio, CAST(sum(o) AS BIGINT) AS ny FROM cells GROUP BY prio),
      t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
      SELECT seg, prio, o, $chisqResidualExpr
      FROM cells JOIN mx USING (seg) JOIN my USING (prio), t
      ORDER BY seg, prio
    """))

  private def chisqResidualExpr: String =
    """(CAST(o AS DOUBLE) - CAST(nx AS DOUBLE)*CAST(ny AS DOUBLE)/CAST(n AS DOUBLE))
       / sqrt(CAST(nx AS DOUBLE)*CAST(ny AS DOUBLE)/CAST(n AS DOUBLE)
              * (1 - CAST(nx AS DOUBLE)/CAST(n AS DOUBLE))
              * (1 - CAST(ny AS DOUBLE)/CAST(n AS DOUBLE))) AS adj_residual"""

  /** Data-contract expectation suite: eight heterogeneous checks —
    * value ranges, enum domains, internal consistency (n_chars vs the
    * text itself), span/freshness, referential closure, key uniqueness
    * — evaluated in one run, each emitting (check, observed violations,
    * threshold, pass). The consolidated load-gate pattern (dbt tests /
    * Great Expectations) that q83 (FK edges) and q317 (PK census) feed;
    * a lake admits the batch only when every row passes.
    *
    * Scale shape: each check is one aggregate over only the columns it
    * reads; the suite is their union — nothing joins except the
    * referential check's anti-join of key sets. */
  private val q340 = QueryDef(
    "q340_expectation_suite",
    (spark, dir) => {
      def check(df: DataFrame, tag: String, threshold: Long = 0L) =
        df.select(lit(tag).as("check_name"), col("observed"),
          lit(threshold).as("threshold"), (col("observed") <= threshold).as("pass"))
      val li = Tables.lineitem(spark, dir)
      val od = Tables.orders(spark, dir)
      check(od.agg(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("observed")),
          "orders_totalprice_positive")
        .unionAll(check(li.agg(sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("observed")), "lineitem_discount_in_unit_range"))
        .unionAll(check(od.agg(sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("observed")), "orders_status_enum"))
        .unionAll(check(Tables.customer(spark, dir)
          .agg(sum(when(col("c_name").isNull || length(col("c_name")) === 0, 1L)
            .otherwise(0L)).as("observed")), "customer_name_present"))
        .unionAll(check(Tables.documents(spark, dir)
          .agg(sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
            .as("observed")), "documents_nchars_consistent"))
        .unionAll(check(Tables.events(spark, dir)
          .agg((max(epochS(col("ts"))) - min(epochS(col("ts")))).as("span_s"))
          .select(expr("7 - span_s div 86400").cast("long").as("observed")),
          "events_span_at_least_7_days"))
        .unionAll(check(li.select(col("l_orderkey"))
          .join(od.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"),
            "left_anti")
          .agg(count(lit(1)).as("observed")), "lineitem_orderkey_referential"))
        .unionAll(check(od.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") - 1).as("observed")), "orders_orderkey_unique"))
        .orderBy(col("check_name"))
    },
    Some("""
      SELECT * FROM (
        SELECT 'orders_totalprice_positive' AS check_name,
          CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS observed,
          CAST(0 AS BIGINT) AS threshold,
          sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) <= 0 AS pass
        FROM orders
        UNION ALL
        SELECT 'lineitem_discount_in_unit_range',
          CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT),
          0, sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) <= 0
        FROM lineitem
        UNION ALL
        SELECT 'orders_status_enum',
          CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
          0, sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) <= 0
        FROM orders
        UNION ALL
        SELECT 'customer_name_present',
          CAST(sum(CASE WHEN c_name IS NULL OR len(c_name) = 0 THEN 1 ELSE 0 END) AS BIGINT),
          0, sum(CASE WHEN c_name IS NULL OR len(c_name) = 0 THEN 1 ELSE 0 END) <= 0
        FROM customer
        UNION ALL
        SELECT 'documents_nchars_consistent',
          CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT),
          0, sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) <= 0
        FROM documents
        UNION ALL
        SELECT 'events_span_at_least_7_days',
          CAST(7 - (max(epoch_ms(ts) // 1000) - min(epoch_ms(ts) // 1000)) // 86400
            AS BIGINT),
          0,
          7 - (max(epoch_ms(ts) // 1000) - min(epoch_ms(ts) // 1000)) // 86400 <= 0
        FROM events
        UNION ALL
        SELECT 'lineitem_orderkey_referential',
          CAST(count(*) AS BIGINT), 0, count(*) <= 0
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orders_orderkey_unique',
          CAST(sum(c - 1) AS BIGINT), 0, sum(c - 1) <= 0
        FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY o_orderkey))
      ORDER BY check_name
    """))

  /** PQ asymmetric-distance recall: encode the corpus with q338's
    * codebook (8 codes per vector), then answer 5 hash-chosen queries
    * by ADC — distance = Σ_s LUT[s][code] where the 8×4 lookup table
    * is built per query — and measure recall@10 against the exact
    * integer-L2 top-10. The end-to-end PQ story: how much of the
    * neighborhood survives 64 floats → 8 codes.
    *
    * Scale shape: the LUT is queries×8×4 rows broadcast; ADC touches
    * each (vector, subspace) code exactly once per query; both top-10s
    * come from the [[graft.functions.TopKPairs]] bounded heap (≤10
    * rows per query cross the shuffle — never a corpus-sized window
    * partition); the exact side is the audit's ground truth (at 100 TB
    * it would be sampled, as q250/q170 do). */
  private val q341 = QueryDef(
    "q341_pq_adc_recall",
    (spark, dir) => {
      val (sub, cents1, codes) = pqParts(spark, dir)
      val qids = Tables.embeddings(spark, dir)
        .select(col("vec_id"), Sampling.keyHash(col("vec_id"), 2654435741L).as("h2"))
        .orderBy(col("h2"), col("vec_id")).limit(5)
        .select(col("vec_id").as("qid"))
      val qsub = sub.join(broadcast(qids), col("vec_id") === col("qid"))
        .select(col("qid"), col("s"), col("x").as("qx"))
      val sq = "aggregate(zip_with(qx, %s, (a, b) -> (a-b)*(a-b)), 0L, (p, q) -> p + q)"
      // top-10 per query via the TopKPairs bounded heap (nearest = max
      // of the negated distance; ties by vec_id like the oracle's
      // row_number) — ≤10 rows per query cross the shuffle, never a
      // corpus-sized window partition
      def top10(scored: DataFrame, dist: String): DataFrame = scored
        .groupBy(col("qid"))
        .agg(graft.functions.TopKAggregate.topk_pairs(
          -col(dist).cast("double"), col("vec_id"), 10).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t").getField("id").as("vec_id"))
      val exact = top10(qsub.join(sub, Seq("s"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("d8", expr(sq.format("x")))
        .groupBy(col("qid"), col("vec_id")).agg(sum(col("d8")).as("dtot")), "dtot")
      val lut = qsub.join(broadcast(cents1), Seq("s"))
        .withColumn("lutd", expr(sq.format("c")))
        .select(col("qid"), col("s"), col("j"), col("lutd"))
      val adc = top10(codes.select(col("vec_id"), col("s"), col("j"))
        .join(broadcast(lut), Seq("s", "j"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id")).agg(sum(col("lutd")).as("dadc")), "dadc")
      exact.join(adc, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr("n_hits * 1000000 div 10").as("recall_ppm"))
        .orderBy(col("qid"))
    },
    Some(s"""
      WITH $pqCtes,
      qids AS (
        SELECT vec_id AS qid,
          ((vec_id % 2147483648) * 2654435741) % 4294967296 AS h2
        FROM embeddings QUALIFY row_number() OVER (ORDER BY h2, vec_id) <= 5),
      qsub AS (
        SELECT qid, s, x AS qx FROM sub JOIN qids ON sub.vec_id = qids.qid),
      exact AS (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY dtot, vec_id) AS rn
        FROM (
          SELECT qid, sub.vec_id, CAST(sum(list_sum(list_transform(range(1, 9),
            i -> (qx[i]-x[i])*(qx[i]-x[i])))) AS BIGINT) AS dtot
          FROM qsub JOIN sub USING (s)
          WHERE sub.vec_id <> qsub.qid
          GROUP BY qid, sub.vec_id)
        QUALIFY rn <= 10),
      lut AS (
        SELECT qid, s, j, CAST(list_sum(list_transform(range(1, 9),
          i -> (qx[i]-c[i])*(qx[i]-c[i]))) AS BIGINT) AS lutd
        FROM qsub JOIN cents1 USING (s)),
      adc AS (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY dadc, vec_id) AS rn
        FROM (
          SELECT qid, a2.vec_id, CAST(sum(lutd) AS BIGINT) AS dadc
          FROM a2 JOIN lut USING (s, j)
          WHERE a2.vec_id <> lut.qid
          GROUP BY qid, a2.vec_id)
        QUALIFY rn <= 10)
      SELECT exact.qid, CAST(count(*) AS BIGINT) AS n_hits,
        CAST(count(*) * 1000000 // 10 AS BIGINT) AS recall_ppm
      FROM exact JOIN adc ON exact.qid = adc.qid AND exact.vec_id = adc.vec_id
      GROUP BY exact.qid ORDER BY exact.qid
    """))

  /** Mean-excess (mean residual life) tail diagnostic for order values:
    * e(u) = E[X − u | X > u] at the p50/p75/p90 thresholds. Exponential
    * tails give a flat curve, heavy tails an increasing one — the
    * log-free alternative to a Hill estimator (whose log-spacings this
    * codebase can't make bit-identical). Thresholds come from
    * RankSelect's two-level exact selection; excesses are exact integer
    * sums.
    *
    * Scale shape: one two-level rank selection + ONE conditional-sum
    * pass over orders with the three thresholds broadcast. */
  private val q342 = QueryDef(
    "q342_mean_excess_tail",
    (spark, dir) => {
      val v = Tables.orders(spark, dir)
        .select(lit(1).as("g"), cents(col("o_totalprice")).as("v"))
      val thr = graft.operators.RankSelect
        .percentiles(v, "g", "v", Seq(5000, 7500, 9000), binWidth = 100000L)
      val agg = v.crossJoin(broadcast(thr))
        .agg(
          sum(when(col("v") > col("p_5000"), 1L).otherwise(0L)).as("c50"),
          sum(when(col("v") > col("p_5000"), col("v")).otherwise(0L)).as("s50"),
          sum(when(col("v") > col("p_7500"), 1L).otherwise(0L)).as("c75"),
          sum(when(col("v") > col("p_7500"), col("v")).otherwise(0L)).as("s75"),
          sum(when(col("v") > col("p_9000"), 1L).otherwise(0L)).as("c90"),
          sum(when(col("v") > col("p_9000"), col("v")).otherwise(0L)).as("s90"),
          max(col("p_5000")).as("u50"), max(col("p_7500")).as("u75"),
          max(col("p_9000")).as("u90"))
      agg.selectExpr(
        """stack(3,
             5000, u50, c50, (s50 - u50 * c50) div c50,
             7500, u75, c75, (s75 - u75 * c75) div c75,
             9000, u90, c90, (s90 - u90 * c90) div c90)
           AS (threshold_bp, u_cents, n_exceed, mean_excess_cents)""")
        .orderBy(col("threshold_bp"))
    },
    Some("""
      WITH v AS (
        SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v FROM orders),
      hist AS (SELECT v, count(*) AS c FROM v GROUP BY v),
      cum AS (
        SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM hist),
      thr AS (
        SELECT
          min(CASE WHEN cum * 10000 >= 5000 * n THEN v END) AS u50,
          min(CASE WHEN cum * 10000 >= 7500 * n THEN v END) AS u75,
          min(CASE WHEN cum * 10000 >= 9000 * n THEN v END) AS u90
        FROM cum),
      agg AS (
        SELECT
          CAST(sum(CASE WHEN v > u50 THEN 1 ELSE 0 END) AS BIGINT) AS c50,
          CAST(sum(CASE WHEN v > u50 THEN v ELSE 0 END) AS BIGINT) AS s50,
          CAST(sum(CASE WHEN v > u75 THEN 1 ELSE 0 END) AS BIGINT) AS c75,
          CAST(sum(CASE WHEN v > u75 THEN v ELSE 0 END) AS BIGINT) AS s75,
          CAST(sum(CASE WHEN v > u90 THEN 1 ELSE 0 END) AS BIGINT) AS c90,
          CAST(sum(CASE WHEN v > u90 THEN v ELSE 0 END) AS BIGINT) AS s90,
          max(u50) AS u50m, max(u75) AS u75m, max(u90) AS u90m
        FROM v, thr)
      SELECT * FROM (
        SELECT 5000 AS threshold_bp, u50m AS u_cents, c50 AS n_exceed,
          (s50 - u50m * c50) // c50 AS mean_excess_cents FROM agg
        UNION ALL
        SELECT 7500, u75m, c75, (s75 - u75m * c75) // c75 FROM agg
        UNION ALL
        SELECT 9000, u90m, c90, (s90 - u90m * c90) // c90 FROM agg)
      ORDER BY threshold_bp
    """))

  /** Leave-one-source-out corpus ablation: for each source, the stats
    * of the corpus WITHOUT it — documents, mean chars, mean tokens —
    * computed as complement aggregates (global one-row totals minus the
    * per-source row), so N ablations cost ONE corpus scan, not N. The
    * cheap first read on "which source is dragging the corpus" before
    * an expensive retrain; pairs with q70's mixture weights.
    *
    * Scale shape: one source-grain aggregate + a broadcast one-row
    * total; the N-scan naive form never happens. */
  private val q343 = QueryDef(
    "q343_loo_source_ablation",
    (spark, dir) => {
      import graft.text.TextFunctions
      val perSource = Tables.documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("toks"))
      val tot = perSource.agg(sum(col("docs")).as("g_docs"),
        sum(col("chars")).as("g_chars"), sum(col("toks")).as("g_toks"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"),
          (col("g_docs") - col("docs")).as("docs_left"),
          expr("(g_chars - chars) div (g_docs - docs)").as("mean_chars_left"),
          expr("(g_toks - toks) * 1000 div (g_docs - docs)").as("mean_tokens_milli_left"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH per_source AS (
        SELECT source, CAST(count(*) AS BIGINT) AS docs,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(len($duckTokens)) AS BIGINT) AS toks
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(sum(docs) AS BIGINT) AS g_docs,
          CAST(sum(chars) AS BIGINT) AS g_chars,
          CAST(sum(toks) AS BIGINT) AS g_toks
        FROM per_source)
      SELECT source,
        CAST(g_docs - docs AS BIGINT) AS docs_left,
        CAST((g_chars - chars) // (g_docs - docs) AS BIGINT) AS mean_chars_left,
        CAST((g_toks - toks) * 1000 // (g_docs - docs) AS BIGINT)
          AS mean_tokens_milli_left
      FROM per_source, tot
      ORDER BY source
    """))

  /** Block bootstrap CI for mean DAILY revenue: the resampling unit is
    * the day, not the row — autocorrelated series invalidate the iid
    * bootstrap (q322), and day blocks are the streaming-friendly block
    * scheme (Künsch's idea at block = natural period). Same native
    * aggregate, keyed on the day number; CI = rank-5/196 of 200
    * replicate means of the day totals.
    *
    * Scale shape: one day-grain aggregate (vocabulary-sized), one
    * global long[2B] aggregate. */
  private val q344 = QueryDef(
    "q344_block_bootstrap_ci",
    (spark, dir) => {
      val B = 200
      val daily = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .groupBy((epochS(col("ts")) / 86400L).cast("long").as("day"))
        .agg(sum(cents(col("value"))).as("dv"))
      val agg = daily.agg(count(lit(1)).as("n_days"), sum(col("dv")).as("sv"),
        graft.functions.VectorAggregates.bootstrap_moments(col("day"), col("dv"), B).as("bm"))
      val reps = agg
        .select(col("n_days"), col("sv"),
          posexplode(expr(
            s"zip_with(slice(bm, 1, $B), slice(bm, ${B + 1}, $B), (a, b) -> struct(a AS sw, b AS swx))"))
            .as(Seq("b0", "p")))
        .selectExpr("n_days", "sv", "b0 + 1 AS b",
          "CAST(p.swx AS DOUBLE)/CAST(p.sw AS DOUBLE) AS rep_mean")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("n_days")).orderBy(col("rep_mean"), col("b"))))
      reps.filter(col("rk") === 5 || col("rk") === 196)
        .groupBy(col("n_days"), col("sv"))
        .agg(min(when(col("rk") === 5, col("rep_mean"))).as("ci_lo_cents"),
          min(when(col("rk") === 196, col("rep_mean"))).as("ci_hi_cents"))
        .selectExpr("n_days",
          "CAST(sv AS DOUBLE)/CAST(n_days AS DOUBLE) AS mean_daily_cents",
          "ci_lo_cents", "ci_hi_cents")
    },
    Some("""
      WITH daily AS (
        SELECT epoch_ms(ts) // 1000 // 86400 AS day,
          CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS dv
        FROM events WHERE event_type = 'purchase' GROUP BY day),
      base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(dv) AS BIGINT) AS sv
        FROM daily),
      weighted AS (
        SELECT dv, b,
          CASE
            WHEN h < 1580030168 THEN 0
            WHEN h < 3160060337 THEN 1
            WHEN h < 3950075421 THEN 2
            WHEN h < 4213413783 THEN 3
            WHEN h < 4279248373 THEN 4
            WHEN h < 4292415291 THEN 5
            ELSE 6 END AS w
        FROM (
          SELECT dv, b,
            (((day % 2147483648) + 1103515245*b) % 2147483648 * 2654435761)
              % 4294967296 AS h
          FROM daily, generate_series(1, 200) g(b))),
      reps AS (
        SELECT b, CAST(sum(w*dv) AS DOUBLE)/CAST(sum(w) AS DOUBLE) AS rep_mean
        FROM weighted GROUP BY b),
      ranked AS (
        SELECT rep_mean, row_number() OVER (ORDER BY rep_mean, b) AS rk FROM reps)
      SELECT n_days, CAST(sv AS DOUBLE)/CAST(n_days AS DOUBLE) AS mean_daily_cents,
        min(CASE WHEN rk = 5 THEN rep_mean END) AS ci_lo_cents,
        min(CASE WHEN rk = 196 THEN rep_mean END) AS ci_hi_cents
      FROM base, ranked WHERE rk = 5 OR rk = 196
      GROUP BY n_days, sv
    """))

  /** Capture–recapture (Chapman) estimate of the active-user
    * population from two overlapping observation windows — users seen
    * on odd days vs even days; N̂ = (n1+1)(n2+1)/(m+1) − 1 from the
    * overlap m. The estimator behind "how many distinct X exist that
    * we haven't seen" questions (total dup clusters, total entities) —
    * validated here against the known truth, with the error as ppm.
    *
    * Scale shape: one keyed per-user aggregate (two booleans), one
    * 4-sum reduction. */
  private val q345 = QueryDef(
    "q345_capture_recapture",
    (spark, dir) => {
      val users = Tables.events(spark, dir)
        .select(col("user_id"),
          ((epochS(col("ts")) / 86400L).cast("long") % 2).as("par"))
        .groupBy(col("user_id"))
        .agg(max(when(col("par") === 1, 1L).otherwise(0L)).as("in_odd"),
          max(when(col("par") === 0, 1L).otherwise(0L)).as("in_even"))
      users.agg(count(lit(1)).as("n_true"),
          sum(col("in_odd")).as("n1"), sum(col("in_even")).as("n2"),
          sum(col("in_odd") * col("in_even")).as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("n_hat"))
        .withColumn("err_ppm",
          expr("abs(n_hat - n_true) * 1000000 div n_true"))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
          max(CASE WHEN (epoch_ms(ts) // 1000 // 86400) % 2 = 1 THEN 1 ELSE 0 END)
            AS in_odd,
          max(CASE WHEN (epoch_ms(ts) // 1000 // 86400) % 2 = 0 THEN 1 ELSE 0 END)
            AS in_even
        FROM events GROUP BY user_id),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
          CAST(sum(in_odd) AS BIGINT) AS n1,
          CAST(sum(in_even) AS BIGINT) AS n2,
          CAST(sum(in_odd * in_even) AS BIGINT) AS m
        FROM users)
      SELECT n_true, n1, n2, m,
        CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS n_hat,
        CAST(abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true) * 1000000
          // n_true AS BIGINT) AS err_ppm
      FROM agg
    """))

  /** k-center coreset selection (greedy, k = 3) per label: the
    * farthest-point heuristic that 2-approximates the k-center
    * objective — hash-seeded start, then twice "add the point farthest
    * from the chosen set". Output: the three exemplar ids and the
    * coverage radius (max distance of any point to its nearest
    * exemplar). The diverse-exemplar selector for curation and
    * few-shot prompt pools; integer L2 on the quantized grid
    * throughout.
    *
    * Scale shape: k fixed rounds, each ONE broadcast-join + argmax per
    * label (q75's iterative contract); no pairwise join ever forms. */
  private val q346 = QueryDef(
    "q346_kcenter_coreset",
    (spark, dir) => {
      val l2 = "aggregate(zip_with(qv, %s, (a, b) -> (a-b)*(a-b)), 0L, (p, q) -> p + q)"
      val qv = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*512 + 0.5) AS BIGINT))")
            .as("qv"),
          Sampling.keyHash(col("vec_id")).as("h"))
      val c1 = qv.withColumn("rn", row_number().over(
          Window.partitionBy(col("label")).orderBy(col("h"), col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("label"), col("vec_id").as("c1_id"), col("qv").as("c1v"))
      val d1 = qv.join(broadcast(c1), Seq("label"))
        .withColumn("d1", expr(l2.format("c1v")))
        .select(col("label"), col("vec_id"), col("qv"), col("c1_id"), col("d1"))
      val c2 = d1.withColumn("rn", row_number().over(
          Window.partitionBy(col("label")).orderBy(col("d1").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("label"), col("vec_id").as("c2_id"), col("qv").as("c2v"))
      val d2 = d1.join(broadcast(c2), Seq("label"))
        .withColumn("dmin", least(col("d1"), expr(l2.format("c2v"))))
        .select(col("label"), col("vec_id"), col("qv"), col("c1_id"), col("c2_id"),
          col("dmin"))
      val c3 = d2.withColumn("rn", row_number().over(
          Window.partitionBy(col("label")).orderBy(col("dmin").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("label"), col("vec_id").as("c3_id"), col("qv").as("c3v"))
      d2.join(broadcast(c3), Seq("label"))
        .withColumn("dcov", least(col("dmin"), expr(l2.format("c3v"))))
        .groupBy(col("label").cast("long").as("label"), col("c1_id"), col("c2_id"),
          col("c3_id"))
        .agg(max(col("dcov")).as("radius_q"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv,
          ((vec_id % 2147483648) * 2654435761) % 4294967296 AS h
        FROM embeddings),
      c1 AS (
        SELECT label, vec_id AS c1_id, qv AS c1v,
          row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn
        FROM q QUALIFY rn = 1),
      d1 AS (
        SELECT q.label, q.vec_id, q.qv, c1_id,
          CAST(list_sum(list_transform(range(1, len(q.qv)+1),
            i -> (q.qv[i]-c1v[i])*(q.qv[i]-c1v[i]))) AS BIGINT) AS d1
        FROM q JOIN c1 ON q.label = c1.label),
      c2 AS (
        SELECT label, vec_id AS c2_id, qv AS c2v,
          row_number() OVER (PARTITION BY label ORDER BY d1 DESC, vec_id) AS rn
        FROM d1 QUALIFY rn = 1),
      d2 AS (
        SELECT d1.label, d1.vec_id, d1.qv, c1_id, c2_id,
          least(d1, CAST(list_sum(list_transform(range(1, len(d1.qv)+1),
            i -> (d1.qv[i]-c2v[i])*(d1.qv[i]-c2v[i]))) AS BIGINT)) AS dmin
        FROM d1 JOIN c2 ON d1.label = c2.label),
      c3 AS (
        SELECT label, vec_id AS c3_id, qv AS c3v,
          row_number() OVER (PARTITION BY label ORDER BY dmin DESC, vec_id) AS rn
        FROM d2 QUALIFY rn = 1)
      SELECT CAST(d2.label AS BIGINT) AS label, c1_id, c2_id, c3_id,
        CAST(max(least(dmin, CAST(list_sum(list_transform(range(1, len(d2.qv)+1),
          i -> (d2.qv[i]-c3v[i])*(d2.qv[i]-c3v[i]))) AS BIGINT))) AS BIGINT) AS radius_q
      FROM d2 JOIN c3 ON d2.label = c3.label
      GROUP BY d2.label, c1_id, c2_id, c3_id
      ORDER BY label
    """))

  /** Post-stratification: a deliberately BIASED sample (BUILDING
    * customers oversampled 4×) estimates the mean order value three
    * ways — naive sample mean (biased), post-stratified mean (sample
    * strata means reweighted by the KNOWN population strata shares),
    * and the truth. The survey-correction operator every
    * convenience-sampled readout needs; the output shows the naive
    * estimator's bias and the reweighted one's recovery.
    *
    * Scale shape: one keyed aggregate over the population for strata
    * counts + truth, one over the sample; the estimator combines 5
    * strata rows. */
  private val q347 = QueryDef(
    "q347_post_stratification",
    (spark, dir) => {
      val pop = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          cents(col("o_totalprice")).as("y"))
      val sample = pop.filter(
        Sampling.keyHash(col("o_orderkey")) % 10000 <
          when(col("seg") === "BUILDING", 4000).otherwise(1000))
      val strata = pop.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_pop"), sum(col("y")).as("s_pop"))
      val sampStrata = sample.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_s"), sum(col("y")).as("s_s"))
      strata.join(sampStrata, Seq("seg"))
        // Σ_seg N_seg·mean_sample_seg as EXACT integer floor terms
        // (decimal product, integer div) — a double sum over strata
        // would be addition-order-dependent across engines
        .withColumn("term", expr(
          "CAST(CAST(n_pop AS DECIMAL(38,0)) * s_s DIV n_s AS BIGINT)"))
        .agg(sum(col("n_pop")).as("n_pop"), sum(col("s_pop")).as("s_pop"),
          sum(col("n_s")).as("n_s"), sum(col("s_s")).as("s_s"),
          sum(col("term")).as("ps_num"))
        .selectExpr("n_s AS n_sample",
          "CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE) AS naive_mean",
          "CAST(ps_num AS DOUBLE)/CAST(n_pop AS DOUBLE) AS poststrat_mean",
          "CAST(s_pop AS DOUBLE)/CAST(n_pop AS DOUBLE) AS true_mean")
    },
    Some("""
      WITH pop AS (
        SELECT c_mktsegment AS seg, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      sample AS (
        SELECT * FROM pop
        WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 % 10000
              < CASE WHEN seg = 'BUILDING' THEN 4000 ELSE 1000 END),
      strata AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n_pop,
          CAST(sum(y) AS BIGINT) AS s_pop
        FROM pop GROUP BY seg),
      samp AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS s_s
        FROM sample GROUP BY seg)
      SELECT CAST(sum(n_s) AS BIGINT) AS n_sample,
        CAST(sum(s_s) AS DOUBLE)/CAST(sum(n_s) AS DOUBLE) AS naive_mean,
        CAST(sum(CAST(CAST(n_pop AS HUGEINT) * s_s // n_s AS BIGINT)) AS DOUBLE)
          /CAST(sum(n_pop) AS DOUBLE) AS poststrat_mean,
        CAST(sum(s_pop) AS DOUBLE)/CAST(sum(n_pop) AS DOUBLE) AS true_mean
      FROM strata JOIN samp USING (seg)
    """))

  /** Greedy max-coverage document selection (k = 3) over word BIGRAMS:
    * pick the document covering the most distinct bigrams, then twice
    * the one adding the most NEW ones — the submodular-coverage
    * complement to q346's k-center (lexical space, not embedding
    * space), with the classic (1−1/e) guarantee. Few-shot pool and
    * seed-corpus selection is exactly this objective. (Unigrams are
    * useless here: this synthetic corpus has a 31-word vocabulary and
    * one document covers it — bigrams give a real coverage frontier.)
    *
    * Scale shape: k fixed rounds; each is one broadcast anti-join of
    * the covered set + one per-doc count + one argmax. The covered set
    * stays bounded by 3 documents' bigrams. */
  private val q348 = QueryDef(
    "q348_max_coverage_greedy",
    (spark, dir) => {
      // r14 rewrite (guide §2.3/§2.4 + §8 "decide with small rows"):
      // bigram identity is INTERNAL — only per-doc set sizes reach the
      // output — so each document folds to ONE row carrying its
      // distinct bigram-digest array (full-64-bit two-arg xxhash64
      // pairs: collision odds ~|bigrams|²/2⁶⁵; the vocabulary is
      // ~31 words ⇒ ≤ ~10³ distinct bigrams corpus-wide, and a
      // collision would perturb the gains and fail the oracle gate
      // loudly — the q479/q624 precedent). The covered set is a
      // ONE-ROW broadcast array, each greedy round a codegen'd
      // array_except size per doc + a 1-row argmax: the exploded
      // (doc, bigram-string) stream, its persist, the corpus-wide
      // groupBys and the three string-keyed anti-join shuffles of the
      // r13 form all disappear (plans/r14/q348_*.txt).
      import graft.functions.expressions.bigram_xxhashes
      val docsets = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"),
          array_distinct(bigram_xxhashes(col("text"))).as("bg"))
        .filter(size(col("bg")) >= 1)
      def argmaxDoc(gains: DataFrame) = gains
        .filter(col("gain") >= 1L) // a fully-covered doc is not a candidate
        .orderBy(col("gain").desc, col("doc_id")).limit(1)
      val d1 = argmaxDoc(docsets
        .select(col("doc_id"), size(col("bg")).cast("long").as("gain")))
      val cov1 = docsets.join(broadcast(d1.select(col("doc_id"))), Seq("doc_id"))
        .select(col("bg").as("cov"))
      val d2 = argmaxDoc(docsets.crossJoin(broadcast(cov1))
        .select(col("doc_id"),
          size(array_except(col("bg"), col("cov"))).cast("long").as("gain")))
      val cov2 = docsets.join(broadcast(d2.select(col("doc_id"))), Seq("doc_id"))
        .crossJoin(broadcast(cov1))
        .select(array_union(col("cov"), col("bg")).as("cov"))
      val d3 = argmaxDoc(docsets.crossJoin(broadcast(cov2))
        .select(col("doc_id"),
          size(array_except(col("bg"), col("cov"))).cast("long").as("gain")))
      val rounds = d1.withColumn("round", lit(1))
        .unionAll(d2.withColumn("round", lit(2)))
        .unionAll(d3.withColumn("round", lit(3)))
      rounds
        .withColumn("cum_covered",
          sum(col("gain")).over(Window.orderBy(col("round"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("round"), col("doc_id"), col("gain"), col("cum_covered"))
        .orderBy(col("round"))
    },
    Some(s"""
      WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
      tokset AS (
        SELECT DISTINCT doc_id,
          unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS token
        FROM tk WHERE len(tk) >= 2),
      d1 AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM tokset
        GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
      cov1 AS (SELECT token FROM tokset JOIN d1 USING (doc_id)),
      rest2 AS (
        SELECT * FROM tokset WHERE token NOT IN (SELECT token FROM cov1)),
      d2 AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM rest2
        GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
      cov2 AS (
        SELECT token FROM cov1
        UNION ALL SELECT token FROM rest2 JOIN d2 USING (doc_id)),
      rest3 AS (
        SELECT * FROM tokset WHERE token NOT IN (SELECT token FROM cov2)),
      d3 AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM rest3
        GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
      rounds AS (
        SELECT 1 AS round, doc_id, gain FROM d1
        UNION ALL SELECT 2, doc_id, gain FROM d2
        UNION ALL SELECT 3, doc_id, gain FROM d3)
      SELECT round, doc_id, gain,
        CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS cum_covered
      FROM rounds ORDER BY round
    """))

  /** Raking (iterative proportional fitting, 2 sweeps) of a 15% hash
    * sample's (segment × priority) table to the FULL population's
    * margins — the census/survey calibration that makes a sample's
    * joint distribution respect known totals. Weights live on the ppm
    * grid; each sweep is exact integer scaling (decimal(38,0) products
    * — ppm × margin exceeds 2^63), so after the final column sweep the
    * column margins match EXACTLY and the row error is the honest
    * convergence readout.
    *
    * Scale shape: the sample collapses to 25 cells immediately; both
    * sweeps are vocabulary-sized joins. */
  private val q349 = QueryDef(
    "q349_raking_ipf",
    (spark, dir) => {
      val pop = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"),
          col("o_orderkey"))
      val cells = pop
        .filter(Sampling.keyHash(col("o_orderkey")) % 10000 < 1500)
        .groupBy(col("seg"), col("prio")).agg(count(lit(1)).as("s"))
        .withColumn("w0", col("s") * 1000000L)
      val rx = pop.groupBy(col("seg")).agg(count(lit(1)).as("rx"))
      val cy = pop.groupBy(col("prio")).agg(count(lit(1)).as("cy"))
      val rowPass = cells
        .withColumn("rowsum", sum(col("w0")).over(Window.partitionBy(col("seg"))))
        .join(broadcast(rx), Seq("seg"))
        .withColumn("w1", expr(
          "CAST(CAST(w0 AS DECIMAL(38,0)) * (rx * 1000000) DIV rowsum AS BIGINT)"))
      val colPass = rowPass
        .withColumn("colsum", sum(col("w1")).over(Window.partitionBy(col("prio"))))
        .join(broadcast(cy), Seq("prio"))
        .withColumn("w2", expr(
          "CAST(CAST(w1 AS DECIMAL(38,0)) * (cy * 1000000) DIV colsum AS BIGINT)"))
      colPass
        .select(col("seg"), col("prio"), col("s").as("n_sample"),
          col("w2").as("raked_weight_ppm"))
        .orderBy(col("seg"), col("prio"))
    },
    Some("""
      WITH pop AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS prio, o_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey),
      cells AS (
        SELECT seg, prio, CAST(count(*) AS BIGINT) AS s,
          CAST(count(*) * 1000000 AS BIGINT) AS w0
        FROM pop
        WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 % 10000 < 1500
        GROUP BY seg, prio),
      rx AS (SELECT seg, CAST(count(*) AS BIGINT) AS rx FROM pop GROUP BY seg),
      cy AS (SELECT prio, CAST(count(*) AS BIGINT) AS cy FROM pop GROUP BY prio),
      row_pass AS (
        SELECT seg, prio, s, w0,
          CAST(CAST(w0 AS HUGEINT) * (rx * 1000000)
            // sum(w0) OVER (PARTITION BY seg) AS BIGINT) AS w1
        FROM cells JOIN rx USING (seg)),
      col_pass AS (
        SELECT seg, prio, s,
          CAST(CAST(w1 AS HUGEINT) * (cy * 1000000)
            // sum(w1) OVER (PARTITION BY prio) AS BIGINT) AS w2
        FROM row_pass JOIN cy USING (prio))
      SELECT seg, prio, s AS n_sample, w2 AS raked_weight_ppm
      FROM col_pass ORDER BY seg, prio
    """))

  /** Design-based estimation from an unequal-probability sample:
    * Horvitz–Thompson (inverse-inclusion-probability weights, known
    * N) vs Hájek (self-normalized — divides by the ESTIMATED
    * population size) on q347's deliberately biased sample. The
    * textbook pair behind every weighted readout: HT is unbiased for
    * the TOTAL, Hájek is usually tighter for the MEAN. All weighting
    * is exact integer arithmetic on the known ppm inclusion rates.
    *
    * Scale shape: one strata-grain aggregate over the sample; the
    * estimators combine 5 rows. */
  private val q350 = QueryDef(
    "q350_horvitz_thompson",
    (spark, dir) => {
      val pop = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          cents(col("o_totalprice")).as("y"))
        .withColumn("p_bp", when(col("seg") === "BUILDING", 4000L).otherwise(1000L))
      val truth = pop.agg(count(lit(1)).as("n_true"), sum(col("y")).as("s_true"))
      pop.filter(Sampling.keyHash(col("o_orderkey")) % 10000 < col("p_bp"))
        .groupBy(col("seg"), col("p_bp"))
        .agg(count(lit(1)).as("n_s"), sum(col("y")).as("s_s"))
        // exact HT terms: Σ y/π and Σ 1/π, scaled by 10^4 inclusion bp
        .select(expr("s_s * 10000 div p_bp").as("ht_total_term"),
          expr("n_s * 10000 div p_bp").as("ht_n_term"), col("n_s"))
        .agg(sum(col("ht_total_term")).as("ht_total"),
          sum(col("ht_n_term")).as("n_hat"), sum(col("n_s")).as("n_sample"))
        .crossJoin(broadcast(truth))
        .selectExpr("n_sample", "n_hat", "n_true", "ht_total",
          "CAST(ht_total AS DOUBLE)/CAST(n_true AS DOUBLE) AS ht_mean",
          "CAST(ht_total AS DOUBLE)/CAST(n_hat AS DOUBLE) AS hajek_mean",
          "CAST(s_true AS DOUBLE)/CAST(n_true AS DOUBLE) AS true_mean")
    },
    Some("""
      WITH pop AS (
        SELECT c_mktsegment AS seg, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS y,
          CASE WHEN c_mktsegment = 'BUILDING' THEN 4000 ELSE 1000 END AS p_bp
        FROM orders JOIN customer ON o_custkey = c_custkey),
      truth AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true, CAST(sum(y) AS BIGINT) AS s_true
        FROM pop),
      strata AS (
        SELECT seg, p_bp, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS s_s
        FROM pop
        WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 % 10000 < p_bp
        GROUP BY seg, p_bp),
      est AS (
        SELECT CAST(sum(s_s * 10000 // p_bp) AS BIGINT) AS ht_total,
          CAST(sum(n_s * 10000 // p_bp) AS BIGINT) AS n_hat,
          CAST(sum(n_s) AS BIGINT) AS n_sample
        FROM strata)
      SELECT n_sample, n_hat, n_true, ht_total,
        CAST(ht_total AS DOUBLE)/CAST(n_true AS DOUBLE) AS ht_mean,
        CAST(ht_total AS DOUBLE)/CAST(n_hat AS DOUBLE) AS hajek_mean,
        CAST(s_true AS DOUBLE)/CAST(n_true AS DOUBLE) AS true_mean
      FROM est, truth
    """))

  /** Newsvendor stocking level per brand: the critical-fractile
    * quantile of DAILY demand at τ = 2/3 (underage twice as costly as
    * overage — τ = cu/(cu+co)), via RankSelect's exact two-level
    * selection. The canonical inventory decision expressed as a
    * percentile query; mean demand rides along to show how far
    * "stock the average" under-serves.
    *
    * Scale shape: one (brand, day) aggregate, then the two-level rank
    * selection over the day-grain demand table. */
  private val q351 = QueryDef(
    "q351_newsvendor_stock",
    (spark, dir) => {
      val daily = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), (epochS(col("l_shipdate")) / 86400L).cast("long").as("day"))
        .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("d"))
      val stock = graft.operators.RankSelect
        .percentiles(daily, "p_brand", "d", Seq(6667), binWidth = 16L)
      val mean = daily.groupBy(col("p_brand"))
        .agg(expr("sum(d) div count(1)").as("mean_demand"))
      stock.join(mean, Seq("p_brand"))
        .select(col("p_brand"), col("n").as("n_days"),
          col("p_6667").as("stock_units"), col("mean_demand"))
        .orderBy(col("p_brand"))
    },
    Some("""
      WITH daily AS (
        SELECT p_brand, epoch_ms(l_shipdate) // 1000 // 86400 AS day,
          CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS d
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, day),
      cum AS (
        SELECT p_brand, d, c,
          sum(c) OVER (PARTITION BY p_brand ORDER BY d) AS cum,
          sum(c) OVER (PARTITION BY p_brand) AS n
        FROM (SELECT p_brand, d, count(*) AS c FROM daily GROUP BY p_brand, d)),
      stock AS (
        SELECT p_brand, CAST(max(n) AS BIGINT) AS n_days,
          CAST(min(CASE WHEN cum * 10000 >= 6667 * n THEN d END) AS BIGINT)
            AS stock_units
        FROM cum GROUP BY p_brand)
      SELECT stock.p_brand, n_days, stock_units,
        CAST(sum(d) // count(*) AS BIGINT) AS mean_demand
      FROM stock JOIN daily ON stock.p_brand = daily.p_brand
      GROUP BY stock.p_brand, n_days, stock_units
      ORDER BY stock.p_brand
    """))

  /** Quantile-forecast evaluation by pinball loss: freeze the p50/p90
    * of daily revenue on the FIRST half of the days, score them on the
    * second half with the asymmetric pinball loss (in exact bp·cents
    * integers). The proper scoring rule for quantile forecasts — how
    * q201's backtests should be graded once the target is a quantile,
    * not the mean.
    *
    * Scale shape: day-grain table throughout; the train quantiles are
    * a vocabulary-sized cumulative window, the test loss one
    * conditional sum. */
  private val q352 = QueryDef(
    "q352_pinball_eval",
    (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .groupBy((epochS(col("ts")) / 86400L).cast("long").as("day"))
        .agg(sum(cents(col("value"))).as("y"))
      val split = daily.agg(((min(col("day")) + max(col("day"))) / 2).cast("long")
        .as("mid_day"))
      val marked = daily.crossJoin(broadcast(split))
        .withColumn("is_train", col("day") <= col("mid_day"))
      val wCum = Window.orderBy(col("y"))
      val train = marked.filter(col("is_train"))
        .withColumn("cum", count(lit(1)).over(
          wCum.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val qs = train.agg(
        min(when(col("cum") * 10000 >= lit(5000) * col("n"), col("y"))).as("q50"),
        min(when(col("cum") * 10000 >= lit(9000) * col("n"), col("y"))).as("q90"))
      val test = marked.filter(!col("is_train")).crossJoin(broadcast(qs))
      def pinball(tau: Int, q: String) =
        sum(when(col("y") >= col(q), lit(tau.toLong) * (col("y") - col(q)))
          .otherwise(lit(10000L - tau) * (col(q) - col("y"))))
      test.agg(count(lit(1)).as("n_test"), max(col("q50")).as("q50"),
          max(col("q90")).as("q90"),
          pinball(5000, "q50").as("loss50"), pinball(9000, "q90").as("loss90"))
        .selectExpr("*")
        .select(explode(expr(
          """array(named_struct('tau_bp', 5000L, 'forecast_cents', q50,
                     'n_test', n_test, 'pinball_bp_cents', loss50),
                   named_struct('tau_bp', 9000L, 'forecast_cents', q90,
                     'n_test', n_test, 'pinball_bp_cents', loss90))""")).as("r"))
        .select(col("r.tau_bp"), col("r.forecast_cents"), col("r.n_test"),
          col("r.pinball_bp_cents"))
        .orderBy(col("tau_bp"))
    },
    Some("""
      WITH daily AS (
        SELECT epoch_ms(ts) // 1000 // 86400 AS day,
          CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY day),
      split AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM daily),
      marked AS (SELECT day, y, day <= mid_day AS is_train FROM daily, split),
      train AS (
        SELECT y,
          count(*) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum,
          count(*) OVER () AS n
        FROM marked WHERE is_train),
      qs AS (
        SELECT CAST(min(CASE WHEN cum * 10000 >= 5000 * n THEN y END) AS BIGINT) AS q50,
          CAST(min(CASE WHEN cum * 10000 >= 9000 * n THEN y END) AS BIGINT) AS q90
        FROM train),
      test AS (SELECT y FROM marked WHERE NOT is_train),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
          max(q50) AS q50, max(q90) AS q90,
          CAST(sum(CASE WHEN y >= q50 THEN 5000 * (y - q50)
                        ELSE 5000 * (q50 - y) END) AS BIGINT) AS loss50,
          CAST(sum(CASE WHEN y >= q90 THEN 9000 * (y - q90)
                        ELSE 1000 * (q90 - y) END) AS BIGINT) AS loss90
        FROM test, qs)
      SELECT CAST(5000 AS BIGINT) AS tau_bp, q50 AS forecast_cents, n_test,
        loss50 AS pinball_bp_cents FROM agg
      UNION ALL
      SELECT CAST(9000 AS BIGINT), q90, n_test, loss90 FROM agg
      ORDER BY tau_bp
    """))

  /** James–Stein shrinkage of per-brand mean line prices toward the
    * grand mean: λ = max(0, 1 − (k−3)·σ²_w/(n̄·SSB)) under the
    * equal-n approximation — the frequentist shrinkage that dominates
    * raw group means for k ≥ 4, completing the q266 (Laplace) / q311
    * (Wilson) small-sample-ranking family for CONTINUOUS metrics. SSB
    * and the pooled variance are computed on the exact ppm/cents
    * integer grid (a double sum over 25 brand deviations would be
    * addition-order-dependent); only the final λ and shrunk means are
    * shared-text doubles.
    *
    * Scale shape: one brand-grain aggregate; the shrinkage runs on 25
    * rows with a one-row broadcast. */
  private val q353 = QueryDef(
    "q353_james_stein_shrinkage",
    (spark, dir) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val perBrand = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), cents(col("l_extendedprice")).as("y"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_i"), sum(col("y")).as("s_i"),
          sum(dec(col("y")) * col("y")).as("ss_i"))
        .withColumn("theta_ppk", expr("CAST(CAST(s_i AS DECIMAL(38,0)) * 1000 DIV n_i AS BIGINT)"))
        .withColumn("within_num",
          expr("CAST(ss_i - CAST(s_i AS DECIMAL(38,0)) * s_i DIV n_i AS DECIMAL(38,0))"))
      val glob = perBrand.agg(
          count(lit(1)).as("k"), sum(col("n_i")).as("n_tot"), sum(col("s_i")).as("s_tot"),
          sum(col("within_num")).as("ssw"))
        .withColumn("theta_bar_ppk",
          expr("CAST(CAST(s_tot AS DECIMAL(38,0)) * 1000 DIV n_tot AS BIGINT)"))
      val ssb = perBrand.crossJoin(broadcast(glob))
        // square in decimal: the long square of a ppk deviation can
        // brush 2^63 at large price scales
        .agg(sum(expr(
          "CAST(theta_ppk - theta_bar_ppk AS DECIMAL(38,0)) * (theta_ppk - theta_bar_ppk)"))
          .as("ssb_ppk2"))
      perBrand.crossJoin(broadcast(glob)).crossJoin(broadcast(ssb))
        // λ from exact integers: σ²_w = ssw/(N−k) in cents², n̄ = N/k,
        // SSB in (cents/1000)² → align units via the 10^6 ppk² factor
        .selectExpr("p_brand", "n_i", "theta_ppk", "theta_bar_ppk",
          """greatest(0.0, 1.0 -
               (CAST(k AS DOUBLE) - 3.0)
                 * (CAST(ssw AS DOUBLE) / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE)))
                 / ((CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE))
                    * (CAST(ssb_ppk2 AS DOUBLE) / 1000000.0))) AS lambda""")
        .selectExpr("p_brand", "n_i",
          "CAST(theta_ppk AS DOUBLE) / 1000.0 AS raw_mean_cents",
          """(CAST(theta_bar_ppk AS DOUBLE)
              + lambda * (CAST(theta_ppk AS DOUBLE) - CAST(theta_bar_ppk AS DOUBLE)))
             / 1000.0 AS shrunk_mean_cents""",
          "lambda")
        .orderBy(col("p_brand"))
    },
    Some("""
      WITH per_brand AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_i,
          CAST(sum(y) AS BIGINT) AS s_i,
          sum(CAST(y AS HUGEINT) * y) AS ss_i
        FROM (
          SELECT p_brand, CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey)
        GROUP BY p_brand),
      pb2 AS (
        SELECT p_brand, n_i, s_i,
          CAST(CAST(s_i AS HUGEINT) * 1000 // n_i AS BIGINT) AS theta_ppk,
          ss_i - CAST(s_i AS HUGEINT) * s_i // n_i AS within_num
        FROM per_brand),
      gstat AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_i) AS BIGINT) AS n_tot,
          CAST(sum(s_i) AS BIGINT) AS s_tot, sum(within_num) AS ssw,
          CAST(CAST(sum(s_i) AS HUGEINT) * 1000 // sum(n_i) AS BIGINT) AS theta_bar_ppk
        FROM pb2),
      ssb AS (
        SELECT sum(CAST((theta_ppk - theta_bar_ppk) AS HUGEINT)
                   * (theta_ppk - theta_bar_ppk)) AS ssb_ppk2
        FROM pb2, gstat),
      lam AS (
        SELECT greatest(0.0, 1.0 -
          (CAST(k AS DOUBLE) - 3.0)
            * (CAST(ssw AS DOUBLE) / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE)))
            / ((CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE))
               * (CAST(ssb_ppk2 AS DOUBLE) / 1000000.0))) AS lambda
        FROM gstat, ssb)
      SELECT p_brand, n_i,
        CAST(theta_ppk AS DOUBLE) / 1000.0 AS raw_mean_cents,
        (CAST(theta_bar_ppk AS DOUBLE)
         + lambda * (CAST(theta_ppk AS DOUBLE) - CAST(theta_bar_ppk AS DOUBLE)))
        / 1000.0 AS shrunk_mean_cents,
        lambda
      FROM pb2, gstat, lam
      ORDER BY p_brand
    """))

  /** t-closeness audit: for each nation (the quasi-identifier group),
    * the 1-D earth-mover distance between the group's distribution of
    * the ordered sensitive attribute (account-balance decile) and the
    * global one — EMD over ordered classes = Σ|cumulative share
    * differences|, exact on the ppm grid. Completes the privacy family
    * (q149 k-anonymity, q197 l-diversity): k and l bound re-
    * identification, t bounds attribute INFERENCE.
    *
    * Scale shape: decile cuts via RankSelect (broadcast one row),
    * class assignment by 9 comparisons, then vocabulary-sized
    * (nation × class) cumulative windows. */
  private val q354 = QueryDef(
    "q354_t_closeness",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
        .select(lit(1).as("g"), col("c_nationkey").cast("long").as("nation"),
          cents(col("c_acctbal")).as("bal"))
      val cuts = graft.operators.RankSelect
        .percentiles(cust, "g", "bal", (1 to 9).map(_ * 1000), binWidth = 10000L)
      val classed = cust.crossJoin(broadcast(cuts))
        .withColumn("cls", (1 to 9).map(i =>
          when(col("bal") > col(s"p_${i * 1000}"), 1L).otherwise(0L)).reduce(_ + _))
        .persist() // group and global distributions share the class pass
      val byNation = classed.groupBy(col("nation"), col("cls"))
        .agg(count(lit(1)).as("c"))
      // densify: every (nation, class) cell, zero-filled, so the
      // cumulative shares line up position-by-position
      val nations = byNation.select(col("nation")).distinct()
      val grid = nations.crossJoin(
        broadcast(spark.range(0, 10).select(col("id").as("cls"))))
      val dense = grid.join(byNation, Seq("nation", "cls"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("n_g", sum(col("c")).over(Window.partitionBy(col("nation"))))
        .withColumn("cum_g", sum(col("c")).over(
          Window.partitionBy(col("nation")).orderBy(col("cls"))))
      val globalCum = classed.groupBy(col("cls")).agg(count(lit(1)).as("cg"))
        .withColumn("n_all", sum(col("cg")).over(Window.partitionBy()))
        .withColumn("cum_all", sum(col("cg")).over(Window.orderBy(col("cls"))))
        .select(col("cls"), col("n_all"), col("cum_all"))
      dense.join(broadcast(globalCum), Seq("cls"))
        .filter(col("cls") < 9) // the last prefix point is always equal
        .withColumn("d", abs(
          expr("cum_g * 1000000 div n_g") - expr("cum_all * 1000000 div n_all")))
        .groupBy(col("nation"))
        .agg(max(col("n_g")).as("n_customers"), sum(col("d")).as("emd_sum_ppm"))
        .select(col("nation"), col("n_customers"),
          expr("emd_sum_ppm div 9").as("t_ppm"))
        .orderBy(col("nation"))
    },
    Some("""
      WITH cust AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
          CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal
        FROM customer),
      cum0 AS (
        SELECT bal, c, sum(c) OVER (ORDER BY bal) AS cum, sum(c) OVER () AS n
        FROM (SELECT bal, count(*) AS c FROM cust GROUP BY bal)),
      cuts AS (
        SELECT
          min(CASE WHEN cum * 10000 >= 1000 * n THEN bal END) AS p1,
          min(CASE WHEN cum * 10000 >= 2000 * n THEN bal END) AS p2,
          min(CASE WHEN cum * 10000 >= 3000 * n THEN bal END) AS p3,
          min(CASE WHEN cum * 10000 >= 4000 * n THEN bal END) AS p4,
          min(CASE WHEN cum * 10000 >= 5000 * n THEN bal END) AS p5,
          min(CASE WHEN cum * 10000 >= 6000 * n THEN bal END) AS p6,
          min(CASE WHEN cum * 10000 >= 7000 * n THEN bal END) AS p7,
          min(CASE WHEN cum * 10000 >= 8000 * n THEN bal END) AS p8,
          min(CASE WHEN cum * 10000 >= 9000 * n THEN bal END) AS p9
        FROM cum0),
      classed AS (
        SELECT nation,
          (CASE WHEN bal > p1 THEN 1 ELSE 0 END) + (CASE WHEN bal > p2 THEN 1 ELSE 0 END)
          + (CASE WHEN bal > p3 THEN 1 ELSE 0 END) + (CASE WHEN bal > p4 THEN 1 ELSE 0 END)
          + (CASE WHEN bal > p5 THEN 1 ELSE 0 END) + (CASE WHEN bal > p6 THEN 1 ELSE 0 END)
          + (CASE WHEN bal > p7 THEN 1 ELSE 0 END) + (CASE WHEN bal > p8 THEN 1 ELSE 0 END)
          + (CASE WHEN bal > p9 THEN 1 ELSE 0 END) AS cls
        FROM cust, cuts),
      dense AS (
        SELECT n.nation, g.cls, coalesce(b.c, 0) AS c
        FROM (SELECT DISTINCT nation FROM classed) n
        CROSS JOIN generate_series(0, 9) g(cls)
        LEFT JOIN (SELECT nation, cls, CAST(count(*) AS BIGINT) AS c
                   FROM classed GROUP BY nation, cls) b
          ON n.nation = b.nation AND g.cls = b.cls),
      cums AS (
        SELECT nation, cls, c,
          sum(c) OVER (PARTITION BY nation) AS n_g,
          sum(c) OVER (PARTITION BY nation ORDER BY cls) AS cum_g
        FROM dense),
      gall AS (
        SELECT cls, sum(cg) OVER () AS n_all,
          sum(cg) OVER (ORDER BY cls) AS cum_all
        FROM (SELECT cls, CAST(count(*) AS BIGINT) AS cg FROM classed GROUP BY cls))
      SELECT nation, CAST(max(n_g) AS BIGINT) AS n_customers,
        CAST(sum(abs(cum_g * 1000000 // n_g - cum_all * 1000000 // n_all)) // 9
          AS BIGINT) AS t_ppm
      FROM cums JOIN gall USING (cls)
      WHERE cls < 9
      GROUP BY nation ORDER BY nation
    """))

  /** LM learning curve without logs: the q269 corpus-LM metric (mean
    * conditional bigram frequency, ppm) of a FIXED 10% heldout set
    * under bigram models trained on nested 22.5%/45%/90% document
    * samples — the scaling-law measurement (more data → better score,
    * with visibly diminishing returns) every data-buying decision
    * rests on. Heldout docs come from an independent hash stream and
    * never enter any training level.
    *
    * Scale shape: bigrams explode once with a nesting level; ONE
    * (w1, w2)-grain and one w1-grain aggregate carry per-level counts;
    * the heldout set joins those two tables and reduces. */
  private val q355 = QueryDef(
    "q355_lm_learning_curve",
    (spark, dir) => {
      import graft.functions.expressions.tokens_native
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"),
          (Sampling.keyHash(col("doc_id"), 2654435741L) % 10 === 0).as("held"),
          (Sampling.keyHash(col("doc_id")) % 10000).as("s"))
        .withColumn("lv", when(col("s") < 2500, 0).when(col("s") < 5000, 1).otherwise(2))
      val tok = docs
        .select(col("doc_id"), col("held"), col("lv"),
          posexplode(tokens_native(col("text"))).as(Seq("pos", "token")))
      val bigrams = tok.select(col("doc_id"), col("held"), col("lv"),
          col("pos"), col("token").as("w1"))
        .join(tok.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("token").as("w2")), Seq("doc_id", "pos"))
      val trainB = bigrams.filter(!col("held"))
        .groupBy(col("w1"), col("w2"))
        .agg(sum(when(col("lv") === 0, 1L).otherwise(0L)).as("b0"),
          sum(when(col("lv") <= 1, 1L).otherwise(0L)).as("b1"),
          count(lit(1)).as("b2"))
      val trainU = bigrams.filter(!col("held"))
        .groupBy(col("w1"))
        .agg(sum(when(col("lv") === 0, 1L).otherwise(0L)).as("u0"),
          sum(when(col("lv") <= 1, 1L).otherwise(0L)).as("u1"),
          count(lit(1)).as("u2"))
      val trainDocs = docs.filter(!col("held"))
        .agg(sum(when(col("lv") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("lv") <= 1, 1L).otherwise(0L)).as("d1"),
          count(lit(1)).as("d2"))
      val held = bigrams.filter(col("held")).select(col("w1"), col("w2"))
        .join(trainB, Seq("w1", "w2"), "left").na.fill(0L, Seq("b0", "b1", "b2"))
        .join(trainU, Seq("w1"), "left").na.fill(0L, Seq("u0", "u1", "u2"))
      def term(b: String, u: String) =
        expr(s"CASE WHEN $u > 0 THEN $b * 1000000 div $u ELSE 0 END")
      held.agg(count(lit(1)).as("n_held"),
          sum(term("b0", "u0")).as("t0"), sum(term("b1", "u1")).as("t1"),
          sum(term("b2", "u2")).as("t2"))
        .crossJoin(broadcast(trainDocs))
        .selectExpr(
          """stack(3,
               25,  d0, t0 div n_held,
               50,  d1, t1 div n_held,
               100, d2, t2 div n_held)
             AS (train_frac_pct, train_docs, heldout_score_ppm)""")
        .orderBy(col("train_frac_pct"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text,
          ((doc_id % 2147483648) * 2654435741) % 4294967296 % 10 = 0 AS held,
          CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 2500
                 THEN 0
               WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 5000
                 THEN 1 ELSE 2 END AS lv
        FROM documents),
      tk AS (SELECT doc_id, held, lv, $duckTokens AS tk FROM docs),
      bb AS (
        SELECT doc_id, held, lv, s.w1 AS w1, s.w2 AS w2 FROM (
          SELECT doc_id, held, lv,
            unnest([struct_pack(w1 := tk[i], w2 := tk[i+1])
                    for i in range(1, len(tk))]) AS s
          FROM tk WHERE len(tk) >= 2)),
      train_b AS (
        SELECT w1, w2,
          CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
          CAST(sum(CASE WHEN lv <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
          CAST(count(*) AS BIGINT) AS b2
        FROM bb WHERE NOT held GROUP BY w1, w2),
      train_u AS (
        SELECT w1,
          CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u0,
          CAST(sum(CASE WHEN lv <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
          CAST(count(*) AS BIGINT) AS u2
        FROM bb WHERE NOT held GROUP BY w1),
      train_docs AS (
        SELECT CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
          CAST(sum(CASE WHEN lv <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
          CAST(count(*) AS BIGINT) AS d2
        FROM docs WHERE NOT held),
      held_b AS (
        SELECT coalesce(b0, 0) AS b0, coalesce(b1, 0) AS b1, coalesce(b2, 0) AS b2,
          coalesce(u0, 0) AS u0, coalesce(u1, 0) AS u1, coalesce(u2, 0) AS u2
        FROM (SELECT w1, w2 FROM bb WHERE held) h
        LEFT JOIN train_b USING (w1, w2)
        LEFT JOIN train_u USING (w1)),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_held,
          CAST(sum(CASE WHEN u0 > 0 THEN b0 * 1000000 // u0 ELSE 0 END) AS BIGINT) AS t0,
          CAST(sum(CASE WHEN u1 > 0 THEN b1 * 1000000 // u1 ELSE 0 END) AS BIGINT) AS t1,
          CAST(sum(CASE WHEN u2 > 0 THEN b2 * 1000000 // u2 ELSE 0 END) AS BIGINT) AS t2
        FROM held_b)
      SELECT * FROM (
        SELECT 25 AS train_frac_pct, d0 AS train_docs, t0 // n_held AS heldout_score_ppm
        FROM agg, train_docs
        UNION ALL SELECT 50, d1, t1 // n_held FROM agg, train_docs
        UNION ALL SELECT 100, d2, t2 // n_held FROM agg, train_docs)
      ORDER BY train_frac_pct
    """))

  /** Doubly-robust (AIPW) estimation under misspecification: the mean
    * order value from q347's biased sample, estimated four ways —
    * naive sample mean; Hájek IPW; DR with a WRONG (constant) outcome
    * model but correct weights; DR with a correct (stratum) model but
    * WRONG (uniform) weights. The defining property on display: DR
    * stays near the truth when EITHER ingredient is right, the naive
    * estimator doesn't. Strata sums are exact integers; estimators
    * are shared-text doubles; errors are floored to ppm.
    *
    * Scale shape: two strata-grain aggregates (population + sample);
    * everything else runs on 5 rows. */
  private val q356 = QueryDef(
    "q356_doubly_robust",
    (spark, dir) => {
      val pop = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          cents(col("o_totalprice")).as("y"))
        .withColumn("p_bp", when(col("seg") === "BUILDING", 4000L).otherwise(1000L))
      val popStrata = pop.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_pop"), sum(col("y")).as("s_pop"))
      val samp = pop.filter(Sampling.keyHash(col("o_orderkey")) % 10000 < col("p_bp"))
        .groupBy(col("seg"), col("p_bp"))
        .agg(count(lit(1)).as("n_s"), sum(col("y")).as("s_s"))
      val joined = popStrata.join(samp, Seq("seg"))
      val est = joined.agg(
          sum(col("n_pop")).as("n_pop"), sum(col("s_pop")).as("s_pop"),
          sum(col("n_s")).as("n_s"), sum(col("s_s")).as("s_s"),
          // Hájek numerator/denominator (exact inverse-π terms)
          sum(expr("s_s * 10000 div p_bp")).as("ht_y"),
          sum(expr("n_s * 10000 div p_bp")).as("ht_n"),
          // Σ_pop m̂(x) for the CORRECT stratum model (exact floor terms)
          sum(expr("CAST(CAST(n_pop AS DECIMAL(38,0)) * s_s DIV n_s AS BIGINT)"))
            .as("om_pop_sum"))
        .selectExpr("n_pop", "n_s",
          "CAST(s_pop AS DOUBLE)/CAST(n_pop AS DOUBLE) AS truth",
          "CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE) AS naive",
          "CAST(ht_y AS DOUBLE)/CAST(ht_n AS DOUBLE) AS hajek",
          // DR, wrong model m̄ = sample mean, correct weights:
          // m̄ + Σ_s (y−m̄)/π / N̂  (self-normalized correction)
          """CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE)
             + (CAST(ht_y AS DOUBLE)
                - (CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE)) * CAST(ht_n AS DOUBLE))
               / CAST(ht_n AS DOUBLE) AS dr_wrong_model""",
          // DR, correct stratum model, wrong (uniform) weights:
          // (1/N)Σ_pop m̂ + (1/n)Σ_s (y − m̂)  — the stratum residual
          // sum is 0 up to the floor in m̂, so this is the model term
          """CAST(om_pop_sum AS DOUBLE)/CAST(n_pop AS DOUBLE)
             + 0.0 AS dr_wrong_weights""")
      est.select(explode(expr(
          """array(named_struct('estimator', 'a_naive',        'estimate_cents', naive),
                   named_struct('estimator', 'b_hajek_ipw',    'estimate_cents', hajek),
                   named_struct('estimator', 'c_dr_wrong_model',   'estimate_cents', dr_wrong_model),
                   named_struct('estimator', 'd_dr_wrong_weights', 'estimate_cents', dr_wrong_weights),
                   named_struct('estimator', 'e_truth',        'estimate_cents', truth))"""))
          .as("r"), col("truth"))
        .select(col("r.estimator").as("estimator"),
          col("r.estimate_cents").as("estimate_cents"),
          expr("CAST(floor(abs(r.estimate_cents - truth) * 1000000 / truth) AS BIGINT)")
            .as("err_ppm"))
        .orderBy(col("estimator"))
    },
    Some("""
      WITH pop AS (
        SELECT c_mktsegment AS seg, o_orderkey,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS y,
          CASE WHEN c_mktsegment = 'BUILDING' THEN 4000 ELSE 1000 END AS p_bp
        FROM orders JOIN customer ON o_custkey = c_custkey),
      ps AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n_pop, CAST(sum(y) AS BIGINT) AS s_pop
        FROM pop GROUP BY seg),
      ss AS (
        SELECT seg, p_bp, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(y) AS BIGINT) AS s_s
        FROM pop
        WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 % 10000 < p_bp
        GROUP BY seg, p_bp),
      est AS (
        SELECT CAST(sum(n_pop) AS BIGINT) AS n_pop, CAST(sum(s_pop) AS BIGINT) AS s_pop,
          CAST(sum(n_s) AS BIGINT) AS n_s, CAST(sum(s_s) AS BIGINT) AS s_s,
          CAST(sum(s_s * 10000 // p_bp) AS BIGINT) AS ht_y,
          CAST(sum(n_s * 10000 // p_bp) AS BIGINT) AS ht_n,
          CAST(sum(CAST(CAST(n_pop AS HUGEINT) * s_s // n_s AS BIGINT)) AS BIGINT)
            AS om_pop_sum
        FROM ps JOIN ss USING (seg)),
      vals AS (
        SELECT CAST(s_pop AS DOUBLE)/CAST(n_pop AS DOUBLE) AS truth,
          CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE) AS naive,
          CAST(ht_y AS DOUBLE)/CAST(ht_n AS DOUBLE) AS hajek,
          CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE)
            + (CAST(ht_y AS DOUBLE)
               - (CAST(s_s AS DOUBLE)/CAST(n_s AS DOUBLE)) * CAST(ht_n AS DOUBLE))
              / CAST(ht_n AS DOUBLE) AS dr_wrong_model,
          CAST(om_pop_sum AS DOUBLE)/CAST(n_pop AS DOUBLE) + 0.0 AS dr_wrong_weights
        FROM est)
      SELECT estimator, estimate_cents,
        CAST(floor(abs(estimate_cents - truth) * 1000000 / truth) AS BIGINT) AS err_ppm
      FROM (
        SELECT 'a_naive' AS estimator, naive AS estimate_cents, truth FROM vals
        UNION ALL SELECT 'b_hajek_ipw', hajek, truth FROM vals
        UNION ALL SELECT 'c_dr_wrong_model', dr_wrong_model, truth FROM vals
        UNION ALL SELECT 'd_dr_wrong_weights', dr_wrong_weights, truth FROM vals
        UNION ALL SELECT 'e_truth', truth, truth FROM vals)
      ORDER BY estimator
    """))

  /** Ratio-tree (DuPont) decomposition of revenue per user, first half
    * vs second half of the data: Δ(R/U) splits exactly into a purchase-
    * frequency contribution Δf·b₀ and a basket-size contribution f₁·Δb
    * (chain substitution — the log-free LMDI alternative). The BI
    * decomposition that answers "did we lose orders or order value?".
    *
    * Scale shape: two period-grain aggregates; the algebra runs on one
    * row. */
  private val q357 = QueryDef(
    "q357_ratio_tree_decomposition",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), (epochS(col("ts")) / 86400L).cast("long").as("day"),
          cents(col("value")).as("v"))
      val split = ev.agg(((min(col("day")) + max(col("day"))) / 2).cast("long").as("mid"))
      val per = ev.crossJoin(broadcast(split))
        .withColumn("period", when(col("day") <= col("mid"), 0).otherwise(1))
        .groupBy(col("period"))
        .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("o"),
          sum(col("v")).as("r"))
      val wide = per.agg(
        max(when(col("period") === 0, col("u"))).as("u0"),
        max(when(col("period") === 0, col("o"))).as("o0"),
        max(when(col("period") === 0, col("r"))).as("r0"),
        max(when(col("period") === 1, col("u"))).as("u1"),
        max(when(col("period") === 1, col("o"))).as("o1"),
        max(when(col("period") === 1, col("r"))).as("r1"))
      wide.selectExpr(
        "CAST(r0 AS DOUBLE)/CAST(u0 AS DOUBLE) AS rpu0",
        "CAST(r1 AS DOUBLE)/CAST(u1 AS DOUBLE) AS rpu1",
        "CAST(o0 AS DOUBLE)/CAST(u0 AS DOUBLE) AS f0",
        "CAST(o1 AS DOUBLE)/CAST(u1 AS DOUBLE) AS f1",
        "CAST(r0 AS DOUBLE)/CAST(o0 AS DOUBLE) AS b0",
        "CAST(r1 AS DOUBLE)/CAST(o1 AS DOUBLE) AS b1")
        .selectExpr("rpu0", "rpu1", "rpu1 - rpu0 AS delta",
          "(f1 - f0) * b0 AS contrib_frequency",
          "f1 * (b1 - b0) AS contrib_basket")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_ms(ts) // 1000 // 86400 AS day,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
      split AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
      per AS (
        SELECT CASE WHEN day <= mid THEN 0 ELSE 1 END AS period,
          CAST(count(DISTINCT user_id) AS BIGINT) AS u,
          CAST(count(*) AS BIGINT) AS o, CAST(sum(v) AS BIGINT) AS r
        FROM ev, split GROUP BY period),
      wide AS (
        SELECT max(CASE WHEN period = 0 THEN u END) AS u0,
          max(CASE WHEN period = 0 THEN o END) AS o0,
          max(CASE WHEN period = 0 THEN r END) AS r0,
          max(CASE WHEN period = 1 THEN u END) AS u1,
          max(CASE WHEN period = 1 THEN o END) AS o1,
          max(CASE WHEN period = 1 THEN r END) AS r1
        FROM per),
      ratios AS (
        SELECT CAST(r0 AS DOUBLE)/CAST(u0 AS DOUBLE) AS rpu0,
          CAST(r1 AS DOUBLE)/CAST(u1 AS DOUBLE) AS rpu1,
          CAST(o0 AS DOUBLE)/CAST(u0 AS DOUBLE) AS f0,
          CAST(o1 AS DOUBLE)/CAST(u1 AS DOUBLE) AS f1,
          CAST(r0 AS DOUBLE)/CAST(o0 AS DOUBLE) AS b0,
          CAST(r1 AS DOUBLE)/CAST(o1 AS DOUBLE) AS b1
        FROM wide)
      SELECT rpu0, rpu1, rpu1 - rpu0 AS delta,
        (f1 - f0) * b0 AS contrib_frequency,
        f1 * (b1 - b0) AS contrib_basket
      FROM ratios
    """))

  /** Local clustering coefficient on the co-supply graph (one ship
    * year): per supplier, 2·triangles/(deg·(deg−1)) in exact ppm — the
    * node-level version of q95's global triangle count, surfacing the
    * ten suppliers whose partners most often also partner each other.
    *
    * Scale shape: the supplier graph is vocabulary-sized; triangles
    * come from one wedge join checked against the (broadcastable) edge
    * list — the same bounded shape as q95. */
  private val q358 = QueryDef(
    "q358_local_clustering",
    (spark, dir) => {
      // r13: the canonical pair projection comes from the memoized
      // graph.Backbone build (checkpointed — degree pass + wedge legs
      // all read the same LogicalRDD, no per-query fact pass)
      val und = graft.graph.Backbone.coSupplyCanon(spark, dir)
        .select(col("u").as("a"), col("v").as("b"))
      val edges = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      val deg = edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      // wedges centered at v: (v,x),(v,y) with x<y; closed if (x,y) edge
      val tri = edges.select(col("a").as("v"), col("b").as("x"))
        .join(edges.select(col("a").as("v"), col("b").as("y")), Seq("v"))
        .filter(col("x") < col("y"))
        .join(und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_semi")
        .groupBy(col("v").as("node")).agg(count(lit(1)).as("tri"))
      deg.join(tri, Seq("node"), "left").na.fill(0L, Seq("tri"))
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"), col("tri"),
          expr("tri * 2000000 div (deg * (deg - 1))").as("lcc_ppm"))
        .orderBy(col("lcc_ppm").desc, col("node"))
        .limit(10)
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'),
      und AS (
        SELECT DISTINCT a.sk AS a, b.sk AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk),
      edges AS (
        SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
      tri AS (
        SELECT v AS node, CAST(count(*) AS BIGINT) AS tri
        FROM (
          SELECT e1.a AS v, e1.b AS x, e2.b AS y
          FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
          WHERE EXISTS (SELECT 1 FROM und WHERE und.a = e1.b AND und.b = e2.b))
        GROUP BY v),
      lcc AS (
        SELECT deg.node, deg, coalesce(tri, 0) AS tri
        FROM deg LEFT JOIN tri ON deg.node = tri.node
        WHERE deg >= 2)
      SELECT node, deg, tri,
        CAST(tri * 2000000 // (deg * (deg - 1)) AS BIGINT) AS lcc_ppm
      FROM lcc ORDER BY lcc_ppm DESC, node LIMIT 10
    """))

  override def defs: Seq[QueryDef] =
    Seq(q319, q320, q321, q322, q323, q324, q325, q326, q327, q328,
      q329, q330, q331, q332, q333, q334, q335, q336, q337, q338,
      q339, q340, q341, q342, q343, q344, q345, q346, q347, q348,
      q349, q350, q351, q352, q353, q354, q355, q356, q357, q358)
}
