package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.tokens_native
import graft.queries.SqlMacros._

/** Round-4 rewrite/fusion/testing operators: the eager-aggregation
  * (group-by pushdown) certificate, Copeland pairwise rank fusion over
  * source-quality metrics, and the Cramér–von Mises two-sample statistic
  * — plan rewrites and rank/distribution comparisons, deterministic for
  * the oracle gate.
  */
object RewriteQueries extends QueryGroup {

  // ---------------------------------------------------------------- q446

  /** Eager-aggregation (Yan–Larson group-by pushdown) certificate:
    * revenue per nation computed the naive way (join lineitem→orders→
    * customer→nation, THEN aggregate) and the pushed-down way
    * (pre-aggregate lineitem to per-order partials — the FK key —
    * then join order-sized rows upward), emitted side by side with an
    * equality flag per nation. The rewrite is THE shuffle saver at
    * 100 TB: the join moves |orders| pre-folded rows instead of
    * |lineitem| raw ones; the certificate is what licenses a planner to
    * do it automatically (valid here because l_orderkey is the full
    * join key, q440's IND evidence).
    *
    * Scale shape: the pushed plan folds lineitem map-side before any
    * join; both plans broadcast the customer/nation dimensions; output
    * is nation-sized. */
  private val q446 = QueryDef(
    "q446_eager_agg_certificate",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("c"))
      val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      val cn = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val naive = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("c")).as("rev_naive"), count(lit(1)).as("n_items_naive"))
      val pushed = li.groupBy(col("l_orderkey"))
        .agg(sum(col("c")).as("oc"), count(lit(1)).as("on"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("oc")).as("rev_pushed"), sum(col("on")).as("n_items_pushed"))
      naive.join(pushed, Seq("n_name"), "full")
        .select(col("n_name").as("nation"),
          coalesce(col("rev_naive"), lit(-1L)).as("rev_naive"),
          coalesce(col("rev_pushed"), lit(-1L)).as("rev_pushed"),
          coalesce(col("n_items_naive"), lit(-1L)).as("n_items_naive"),
          coalesce(col("n_items_pushed"), lit(-1L)).as("n_items_pushed"),
          (coalesce(col("rev_naive"), lit(-1L)) ===
            coalesce(col("rev_pushed"), lit(-2L)) &&
            coalesce(col("n_items_naive"), lit(-1L)) ===
              coalesce(col("n_items_pushed"), lit(-2L)))
            .cast("long").as("is_equal"))
        .orderBy(col("nation"))
    },
    Some("""
      WITH cn AS (
        SELECT c.c_custkey, n.n_name
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
      naive AS (
        SELECT cn.n_name,
          CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_naive,
          CAST(count(*) AS BIGINT) AS n_items_naive
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN cn ON o.o_custkey = cn.c_custkey
        GROUP BY cn.n_name),
      pre AS (
        SELECT l_orderkey,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS oc,
          CAST(count(*) AS BIGINT) AS onn
        FROM lineitem GROUP BY l_orderkey),
      pushed AS (
        SELECT cn.n_name, CAST(sum(p.oc) AS BIGINT) AS rev_pushed,
          CAST(sum(p.onn) AS BIGINT) AS n_items_pushed
        FROM pre p
        JOIN orders o ON p.l_orderkey = o.o_orderkey
        JOIN cn ON o.o_custkey = cn.c_custkey
        GROUP BY cn.n_name)
      SELECT coalesce(n.n_name, p.n_name) AS nation,
        coalesce(n.rev_naive, -1) AS rev_naive,
        coalesce(p.rev_pushed, -1) AS rev_pushed,
        coalesce(n.n_items_naive, -1) AS n_items_naive,
        coalesce(p.n_items_pushed, -1) AS n_items_pushed,
        CAST(CASE WHEN coalesce(n.rev_naive, -1) = coalesce(p.rev_pushed, -2)
          AND coalesce(n.n_items_naive, -1) = coalesce(p.n_items_pushed, -2)
          THEN 1 ELSE 0 END AS BIGINT) AS is_equal
      FROM naive n FULL JOIN pushed p ON n.n_name = p.n_name
      ORDER BY nation
    """))

  // ---------------------------------------------------------------- q447

  /** Copeland pairwise rank fusion: twenty sources ranked by four
    * quality heuristics (doc count, mean doc length, mean token count,
    * distinct-token richness); source a BEATS b when a majority of
    * metrics rank a better, and the Copeland score = wins − losses over
    * all 19 opponents — the Condorcet-style fusion that is immune to
    * one metric's scale or outliers, unlike score averaging (q174's RRF
    * and q189's RBO fuse by rank positions; Copeland fuses by pairwise
    * majorities).
    *
    * Scale shape: four metric folds over one documents scan; ranking
    * and the 20×20 pairwise join run on the source-count-sized table
    * (broadcast); scores fold back to 20 rows. */
  private val q447 = QueryDef(
    "q447_copeland_rank_fusion",
    (spark, dir) => {
      val m = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars"),
          tokens_native(col("text")).as("toks"))
        .select(col("source"), col("n_chars"), size(col("toks")).as("nt"),
          size(array_distinct(col("toks"))).as("ndt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("m_docs"),
          expr("sum(n_chars) div count(1)").as("m_len"),
          expr("sum(nt) div count(1)").as("m_tok"),
          expr("sum(ndt * 1000 div greatest(nt, 1)) div count(1)").as("m_rich"))
      val ranked = Seq("m_docs", "m_len", "m_tok", "m_rich").map { mc =>
        m.select(col("source"), lit(mc).as("metric"),
          row_number().over(Window.orderBy(col(mc).desc, col("source")))
            .cast("long").as("rk"))
      }.reduce(_ unionAll _)
      val pairs = ranked.alias("a")
        .join(ranked.alias("b"),
          col("a.metric") === col("b.metric") &&
            col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("source"), col("b.source").as("opp"))
        .agg(sum((col("a.rk") < col("b.rk")).cast("long")).as("metric_wins"))
      val duels = pairs
        .withColumn("win", (col("metric_wins") * 2L > 4L).cast("long"))
        .withColumn("loss", (col("metric_wins") * 2L < 4L).cast("long"))
        .groupBy(col("source"))
        .agg(sum(col("win")).as("wins"), sum(col("loss")).as("losses"))
        .withColumn("copeland", col("wins") - col("losses"))
      duels
        .withColumn("rk", row_number().over(
          Window.orderBy(col("copeland").desc, col("source"))).cast("long"))
        .select(col("source"), col("wins"), col("losses"), col("copeland"),
          col("rk"))
        .orderBy(col("rk"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, n_chars,
          $duckTokens AS toks
        FROM documents),
      m AS (
        SELECT source, CAST(count(*) AS BIGINT) AS m_docs,
          CAST(sum(n_chars) // count(*) AS BIGINT) AS m_len,
          CAST(sum(len(toks)) // count(*) AS BIGINT) AS m_tok,
          CAST(sum(len(list_distinct(toks)) * 1000 // greatest(len(toks), 1))
            // count(*) AS BIGINT) AS m_rich
        FROM tk GROUP BY source),
      ranked AS (
        SELECT source, 'm_docs' AS metric,
          CAST(row_number() OVER (ORDER BY m_docs DESC, source) AS BIGINT) AS rk
        FROM m
        UNION ALL
        SELECT source, 'm_len',
          row_number() OVER (ORDER BY m_len DESC, source) FROM m
        UNION ALL
        SELECT source, 'm_tok',
          row_number() OVER (ORDER BY m_tok DESC, source) FROM m
        UNION ALL
        SELECT source, 'm_rich',
          row_number() OVER (ORDER BY m_rich DESC, source) FROM m),
      pairs AS (
        SELECT a.source AS source, b.source AS opp,
          CAST(sum(CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END) AS BIGINT)
            AS metric_wins
        FROM ranked a JOIN ranked b
          ON a.metric = b.metric AND a.source <> b.source
        GROUP BY 1, 2),
      duels AS (
        SELECT source,
          CAST(sum(CASE WHEN metric_wins * 2 > 4 THEN 1 ELSE 0 END) AS BIGINT)
            AS wins,
          CAST(sum(CASE WHEN metric_wins * 2 < 4 THEN 1 ELSE 0 END) AS BIGINT)
            AS losses
        FROM pairs GROUP BY source)
      SELECT source, wins, losses, wins - losses AS copeland,
        CAST(row_number() OVER (ORDER BY wins - losses DESC, source) AS BIGINT)
          AS rk
      FROM duels
      ORDER BY rk
    """))

  // ---------------------------------------------------------------- q448

  /** Cramér–von Mises two-sample statistic comparing 1995 vs 2000 order
    * totals: with pooled distinct values carrying both samples'
    * cumulative counts, T = Σ_pooled w·(n₂·F₁ − n₁·F₂)² integrates the
    * squared ECDF gap — the whole-distribution complement to q120's KS
    * supremum (KS sees the one worst point; CvM accumulates every
    * shift). Scaled exact: cumulative counts are integers, the products
    * run in decimal(38,0), and the statistic is reported ×10⁹ per
    * (n₁·n₂)² with the day-one sanity check T(X, X) = 0.
    *
    * Scale shape: one orders scan folds to the pooled distinct-cents
    * histogram with two count columns; the cumulative window and the
    * fold run on histogram-sized rows; the normalizers ride a one-row
    * broadcast. */
  private val q448 = QueryDef(
    "q448_cramer_von_mises",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(year(col("o_orderdate")).as("yr"), cents(col("o_totalprice")).as("v"))
        .filter(col("yr").isin(1995, 2000))
      val hist = o.groupBy(col("v"))
        .agg(sum((col("yr") === 1995).cast("long")).as("c1"),
          sum((col("yr") === 2000).cast("long")).as("c2"))
      val cum = hist
        .withColumn("f1", sum(col("c1")).over(Window.orderBy(col("v"))))
        .withColumn("f2", sum(col("c2")).over(Window.orderBy(col("v"))))
      val tot = hist.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .select(col("*"), expr(
          "CAST(n2 AS DECIMAL(38,0)) * f1 - CAST(n1 AS DECIMAL(38,0)) * f2")
          .as("gap"))
        .agg(
          min(col("n1")).as("n1"), min(col("n2")).as("n2"),
          count(lit(1)).as("n_pooled_values"),
          max(expr("abs(gap)")).as("ks_gap_scaled"),
          sum(expr("CAST((c1 + c2) AS DECIMAL(38,0)) * gap * gap")).as("t_raw"))
        .select(col("n1"), col("n2"), col("n_pooled_values"),
          expr("CAST(ks_gap_scaled AS BIGINT)").as("ks_gap_scaled"),
          expr("""CAST(t_raw * 1000000000 div
            (CAST(n1 + n2 AS DECIMAL(38,0)) * (CAST(n1 AS DECIMAL(38,0)) * n2)
             * (CAST(n1 AS DECIMAL(38,0)) * n2)) AS BIGINT)""").as("cvm_nano"))
    },
    Some("""
      WITH o AS (
        SELECT year(o_orderdate) AS yr,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders WHERE year(o_orderdate) IN (1995, 2000)),
      hist AS (
        SELECT v,
          CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN yr = 2000 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM o GROUP BY v),
      cum AS (
        SELECT v, c1, c2,
          sum(c1) OVER (ORDER BY v) AS f1,
          sum(c2) OVER (ORDER BY v) AS f2
        FROM hist),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT)
        AS n2 FROM hist),
      g AS (
        SELECT c1, c2, n1, n2,
          CAST(n2 AS HUGEINT) * f1 - CAST(n1 AS HUGEINT) * f2 AS gap
        FROM cum CROSS JOIN tot)
      SELECT min(n1) AS n1, min(n2) AS n2,
        CAST(count(*) AS BIGINT) AS n_pooled_values,
        CAST(max(abs(gap)) AS BIGINT) AS ks_gap_scaled,
        CAST(sum(CAST(c1 + c2 AS HUGEINT) * gap * gap) * 1000000000 //
          (CAST(min(n1) + min(n2) AS HUGEINT)
            * (CAST(min(n1) AS HUGEINT) * min(n2))
            * (CAST(min(n1) AS HUGEINT) * min(n2))) AS BIGINT) AS cvm_nano
      FROM g
    """))

  override def defs: Seq[QueryDef] = Seq(q446, q447, q448)
}
