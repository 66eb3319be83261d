package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-10 batch 5: an exact banded dynamic-time-warping alignment
  * (the first true DP alignment in the catalog — every prior series
  * comparison was lockstep), the Elias–Fano posting-layout plan that
  * completes the q657 varint / q678 FOR codec-choice panel, and the
  * lead-time demand distribution — empirical sliding windows vs the
  * independence convolution — that prices autocorrelation into safety
  * stock. All exact integers; DP and convolutions run on bounded
  * aggregate tables, never corpus rows.
  */
object SeriesCodecPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q705

  /** Banded DTW between the 1995 and 1996 monthly revenue curves:
    * cell cost |a_i − b_j| cents, Sakoe–Chiba band |i−j| ≤ 3, the
    * classic min(↑,←,↖) recurrence unrolled along the 23 anti-
    * diagonals (each diagonal depends only on the previous two, so the
    * DP is a sequence of bounded keyed folds — the parallelizable form
    * of an "inherently sequential" algorithm). Output: the alignment
    * cost, the lockstep (diagonal-only) cost for contrast, and the
    * warp advantage in ppm — how much of the year-over-year revenue
    * difference is TIMING rather than level.
    *
    * Scale shape: the corpus folds once to two 12-row monthly series;
    * the 23 DP steps run on ≤12-row diagonals (union + keyed min +
    * broadcast-joined cell weights). Exact cents arithmetic end to
    * end. */
  private val q705 = QueryDef(
    "q705_banded_dtw_revenue",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val monthly = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val a = monthly.filter(col("yr") === 1995)
        .select(col("m").as("i"), col("rev").as("av"))
      val b = monthly.filter(col("yr") === 1996)
        .select(col("m").as("j"), col("rev").as("bv"))
      val cost = a.join(b, abs(col("i") - col("j")) <= 3)
        .select(col("i"), col("j"), abs(col("av") - col("bv")).as("w"))
      // r13: the band is FIXED at ≤78 cells at every scale factor, so
      // the whole min(↑,←,↖) recurrence runs inside ONE codegen'd
      // aggregate HOF over a single collected row — the 22 per-diagonal
      // localCheckpoint jobs (23 scheduling barriers) collapse to one
      // tiny fold; identical recurrence, identical base case, row-major
      // order computes every predecessor before its successor. Cells are
      // keyed i*16+j in a map; try_element_at returns NULL off-band, and
      // least() skips NULLs exactly like the old inner join dropped
      // absent predecessors. (plans/r13/q705_*.txt)
      val key = "CAST(((idx - 1) div 12 + 1) * 16 + ((idx - 1) % 12 + 1) AS BIGINT)"
      val wAt = s"try_element_at(wm, $key)"
      val best = s"least(try_element_at(acc, $key - 1), " +
        s"try_element_at(acc, $key - 16), try_element_at(acc, $key - 17))"
      val dp = s"CASE WHEN idx = 1 THEN $wAt " +
        s"WHEN ($best) IS NULL THEN CAST(NULL AS BIGINT) " +
        s"ELSE $wAt + ($best) END"
      val dtw = cost
        .agg(expr("map_from_entries(collect_list(struct(" +
          "CAST(i * 16 + j AS BIGINT), w)))").as("wm"))
        .select(expr(
          s"""try_element_at(
                aggregate(sequence(1, 144),
                  map(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                  (acc, idx) -> CASE
                    WHEN $wAt IS NULL OR ($dp) IS NULL THEN acc
                    ELSE map_concat(acc, map($key, $dp)) END),
                CAST(204 AS BIGINT))""").as("dtw_cost"))
        .filter(col("dtw_cost").isNotNull) // (12,12) unreached ⇒ empty, as before
      val lockstep = cost.filter(col("i") === col("j"))
        .agg(sum(col("w")).as("lockstep_cost"))
      dtw.crossJoin(broadcast(lockstep))
        .select(col("dtw_cost"), col("lockstep_cost"),
          expr("(lockstep_cost - dtw_cost) * 1000000 div lockstep_cost")
            .as("warp_gain_ppm"))
    },
    Some {
      val steps = (3 to 24).map { d =>
        val p1 = s"d${d - 1}"
        val p2 = if (d == 3) "d2" else s"d${d - 2}"
        s"""d$d AS MATERIALIZED (
          SELECT c.i, c.j, c.w + p.best AS dp
          FROM cost c JOIN (
            SELECT i, j, min(dp) AS best FROM (
              SELECT i + 1 AS i, j, dp FROM $p1
              UNION ALL SELECT i, j + 1, dp FROM $p1
              UNION ALL SELECT i + 1, j + 1, dp FROM $p2)
            GROUP BY i, j) p ON c.i = p.i AND c.j = p.j
          WHERE c.i + c.j = $d)"""
      }.mkString(",\n")
      s"""
      WITH monthly AS MATERIALIZED (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(month(o_orderdate) AS BIGINT) AS m,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY yr, m),
      cost AS MATERIALIZED (
        SELECT a.m AS i, b.m AS j, abs(a.rev - b.rev) AS w
        FROM (SELECT m, rev FROM monthly WHERE yr = 1995) a
        JOIN (SELECT m, rev FROM monthly WHERE yr = 1996) b
          ON abs(a.m - b.m) <= 3),
      d2 AS MATERIALIZED (
        SELECT i, j, w AS dp FROM cost WHERE i = 1 AND j = 1),
      $steps,
      dtw AS (SELECT dp AS dtw_cost FROM d24 WHERE i = 12 AND j = 12),
      lockstep AS (
        SELECT CAST(sum(w) AS BIGINT) AS lockstep_cost
        FROM cost WHERE i = j)
      SELECT dtw_cost, lockstep_cost,
        (lockstep_cost - dtw_cost) * 1000000 // lockstep_cost
          AS warp_gain_ppm
      FROM dtw CROSS JOIN lockstep
    """
    })

  // ---------------------------------------------------------------- q706

  /** Elias–Fano posting-layout plan: per document-frequency decade,
    * the exact EF size n·l + n + (u >> l) bits (l = ⌊log₂(u/n)⌋ via
    * the shared length(bin(x))−1 idiom, u = docid universe) against
    * raw 32-bit ids — the third panel of the codec choice next to
    * q657's gap-varint bytes and q678's FOR layouts. EF needs no gap
    * pass at all (it encodes the monotone list directly), which is
    * exactly its operational advantage: random access without
    * decompression.
    *
    * Scale shape: one distinct explode to (token, doc) postings — the
    * row-scale shuffle, folded immediately to per-token df (no
    * posting-list window anywhere); the readout folds to
    * ≤ log₂|docs| decades. */
  private val q706 = QueryDef(
    "q706_elias_fano_plan",
    (spark, dir) => {
      val postings = Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.text.TextFunctions.tokens(col("text")))).as("token"))
      val u = postings.agg((max(col("doc_id")) + 1).as("u"))
      val pt = postings.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(u))
        .select(col("token"), col("df"),
          expr("""CASE WHEN u div df >= 2
              THEN length(bin(u div df)) - 1 ELSE 0 END""").as("l"),
          col("u"))
        .select(col("token"), col("df"),
          expr("df * l + df + (u div CAST(pow(2, l) AS BIGINT))")
            .as("ef_bits"))
      pt.groupBy(expr("CAST(length(bin(df)) - 1 AS BIGINT)").as("log2_df"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("df") * 32).as("raw_bits"),
          sum(col("ef_bits")).as("ef_bits"))
        .select(col("log2_df"), col("n_tokens"), col("raw_bits"),
          col("ef_bits"),
          expr("ef_bits * 1000000 div raw_bits").as("ef_vs_raw_ppm"))
        .orderBy(col("log2_df"))
    },
    Some(s"""
      WITH postings AS (
        SELECT doc_id, unnest(list_distinct(
          $duckTokens)) AS token
        FROM documents),
      u AS MATERIALIZED (
        SELECT CAST(max(doc_id) + 1 AS BIGINT) AS u FROM postings),
      pt AS MATERIALIZED (
        SELECT token, CAST(count(*) AS BIGINT) AS df
        FROM postings GROUP BY token),
      ef AS (
        SELECT token, df,
          df * l + df + (u // CAST(pow(2, l) AS BIGINT)) AS ef_bits
        FROM (
          SELECT token, df, u,
            CASE WHEN u // df >= 2
              THEN length(bin(u // df)) - 1 ELSE 0 END AS l
          FROM pt CROSS JOIN u))
      SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
        CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(df * 32) AS BIGINT) AS raw_bits,
        CAST(sum(ef_bits) AS BIGINT) AS ef_bits,
        CAST(sum(ef_bits) * 1000000 // sum(df * 32) AS BIGINT)
          AS ef_vs_raw_ppm
      FROM ef GROUP BY 1 ORDER BY 1
    """))

  // ---------------------------------------------------------------- q707

  /** Lead-time demand at L = 3 days: the stock level covering 95% /
    * 99% of 3-day demand, computed two ways — the EMPIRICAL sliding-
    * window sums over the densified order calendar, and the
    * INDEPENDENCE convolution of the daily histogram with itself
    * (what a textbook (R,Q) model assumes). The gap between the two
    * quantiles is exactly the price of day-to-day autocorrelation —
    * the number q634's safety-stock audit takes as given.
    *
    * Scale shape: orders fold once to the ~2,500-row daily count
    * series (densified — zero days count); empirical windows are a
    * calendar-bounded global window (sanctioned); the convolution
    * joins value HISTOGRAMS (≤ distinct-count² then re-folded), never
    * day rows; quantile readout is a cumulative over the bounded
    * support. Weights stay < days³ — BIGINT-safe to ~2M days. */
  private val q707 = QueryDef(
    "q707_leadtime_demand_quantiles",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("c"))
      val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val calendar = span.select(explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"))
      val dense = calendar.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("c"))
      val wcal = Window.orderBy(col("day"))
      val emp = dense
        .withColumn("x", col("c") + lead(col("c"), 1).over(wcal)
          + lead(col("c"), 2).over(wcal))
        .filter(col("x").isNotNull)
      val empHist = emp.groupBy(col("x")).agg(count(lit(1)).as("wt"))
      def quantiles(hist: org.apache.spark.sql.DataFrame, tag: String) = {
        val tot = hist.agg(sum(col("wt")).as("tot"))
        val wq = Window.orderBy(col("x"))
        val cum = hist.select(col("x"),
            sum(col("wt")).over(wq).as("cum"))
          .crossJoin(broadcast(tot))
        val p95 = cum.filter(col("cum") * 100 >= col("tot") * 95)
          .agg(min(col("x")).as("p95"))
        val p99 = cum.filter(col("cum") * 100 >= col("tot") * 99)
          .agg(min(col("x")).as("p99"))
        p95.crossJoin(broadcast(p99)).select(lit(tag).as("variant"),
          col("p95"), col("p99"))
      }
      val h1 = dense.groupBy(col("c")).agg(count(lit(1)).as("w"))
      val conv2 = h1.select(col("c").as("c1"), col("w").as("w1"))
        .crossJoin(broadcast(h1.select(col("c").as("c2"), col("w").as("w2"))))
        .groupBy((col("c1") + col("c2")).as("s"))
        .agg(sum(col("w1") * col("w2")).as("w"))
      val conv3 = conv2
        .crossJoin(broadcast(h1.select(col("c").as("c3"), col("w").as("w3"))))
        .groupBy((col("s") + col("c3")).as("x"))
        .agg(sum(col("w") * col("w3")).as("wt"))
      quantiles(empHist, "a_empirical")
        .unionAll(quantiles(conv3, "b_independent"))
        .orderBy(col("variant"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      calendar AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
          AS day
        FROM span),
      dense AS MATERIALIZED (
        SELECT calendar.day, coalesce(daily.c, 0) AS c
        FROM calendar LEFT JOIN daily ON calendar.day = daily.day),
      emp AS (
        SELECT c + lead(c, 1) OVER (ORDER BY day)
          + lead(c, 2) OVER (ORDER BY day) AS x
        FROM dense),
      emp_hist AS MATERIALIZED (
        SELECT x, CAST(count(*) AS BIGINT) AS wt FROM emp
        WHERE x IS NOT NULL GROUP BY x),
      h1 AS MATERIALIZED (
        SELECT c, CAST(count(*) AS BIGINT) AS w FROM dense GROUP BY c),
      conv2 AS MATERIALIZED (
        SELECT a.c + b.c AS s, CAST(sum(a.w * b.w) AS BIGINT) AS w
        FROM h1 a CROSS JOIN h1 b GROUP BY 1),
      conv3 AS MATERIALIZED (
        SELECT conv2.s + h1.c AS x, CAST(sum(conv2.w * h1.w) AS BIGINT)
          AS wt
        FROM conv2 CROSS JOIN h1 GROUP BY 1),
      qe AS (
        SELECT 'a_empirical' AS variant,
          (SELECT min(x) FROM (
            SELECT x, sum(wt) OVER (ORDER BY x) AS cum FROM emp_hist)
           WHERE cum * 100 >= (SELECT sum(wt) FROM emp_hist) * 95)
            AS p95,
          (SELECT min(x) FROM (
            SELECT x, sum(wt) OVER (ORDER BY x) AS cum FROM emp_hist)
           WHERE cum * 100 >= (SELECT sum(wt) FROM emp_hist) * 99)
            AS p99
        UNION ALL
        SELECT 'b_independent',
          (SELECT min(x) FROM (
            SELECT x, sum(wt) OVER (ORDER BY x) AS cum FROM conv3)
           WHERE cum * 100 >= (SELECT sum(wt) FROM conv3) * 95),
          (SELECT min(x) FROM (
            SELECT x, sum(wt) OVER (ORDER BY x) AS cum FROM conv3)
           WHERE cum * 100 >= (SELECT sum(wt) FROM conv3) * 99))
      SELECT variant, CAST(p95 AS BIGINT) AS p95, CAST(p99 AS BIGINT) AS p99
      FROM qe ORDER BY variant
    """))

  // ---------------------------------------------------------------- q717

  /** Theil's U forecast-error decomposition for the lag-12 naive
    * forecast (each 1996 month predicted by its 1995 sibling): MSE
    * splits EXACTLY into bias (mean shift), variance (amplitude
    * mismatch) and covariance (phase/noise) shares — the triage that
    * says whether a bad forecast needs recentering, rescaling, or a
    * better model. Revenue in floored kilodollars keeps every moment
    * BIGINT-safe (Σf² < 2⁶³ to ~sf300 — the q664 ceiling note); the
    * two σ's come from the shared ±1-corrected isqrt macro (n-scaled,
    * so no division before the final ppm), and the three shares use
    * ONE common floored denominator n·Σe².
    *
    * Scale shape: orders fold once to 24 monthly rows; everything
    * after is a one-row moment fold. */
  private val q717 = QueryDef(
    "q717_theil_u_decomposition",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT) div 1000"))
          .as("rev"))
      val pairs = monthly.groupBy(col("m"))
        .agg(sum(when(col("yr") === 1995, col("rev")).otherwise(0L))
          .as("f"),
          sum(when(col("yr") === 1996, col("rev")).otherwise(0L))
            .as("a"))
      val mo = pairs.agg(count(lit(1)).as("n"),
        sum(col("f")).as("sf"), sum(col("a")).as("sa"),
        sum(col("f") * col("f")).as("sff"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("f") * col("a")).as("sfa"),
        sum((col("f") - col("a")) * (col("f") - col("a"))).as("see"))
      mo.selectExpr("n", "see",
          s"${SqlMacros.isqrt("n * sff - sf * sf")} AS sig_f_n",
          s"${SqlMacros.isqrt("n * saa - sa * sa")} AS sig_a_n",
          "n * sfa - sf * sa AS cov_n2", "sf - sa AS bias_n")
        .selectExpr("n", "see AS sse",
          "(bias_n * bias_n) * 1000000 div (n * see) AS um_ppm",
          "((sig_f_n - sig_a_n) * (sig_f_n - sig_a_n)) * 1000000" +
            " div (n * see) AS us_ppm",
          "2 * (sig_f_n * sig_a_n - cov_n2) * 1000000" +
            " div (n * see) AS uc_ppm")
    },
    Some(s"""
      WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(month(o_orderdate) AS BIGINT) AS m,
          CAST(sum(CAST(floor(o_totalprice) AS BIGINT) // 1000)
            AS BIGINT) AS rev
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY yr, m),
      pairs AS (
        SELECT m,
          CAST(sum(CASE WHEN yr = 1995 THEN rev ELSE 0 END) AS BIGINT)
            AS f,
          CAST(sum(CASE WHEN yr = 1996 THEN rev ELSE 0 END) AS BIGINT)
            AS a
        FROM monthly GROUP BY m),
      mo AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(f) AS BIGINT) AS sf, CAST(sum(a) AS BIGINT) AS sa,
          CAST(sum(f * f) AS BIGINT) AS sff,
          CAST(sum(a * a) AS BIGINT) AS saa,
          CAST(sum(f * a) AS BIGINT) AS sfa,
          CAST(sum((f - a) * (f - a)) AS BIGINT) AS see
        FROM pairs),
      sig AS (
        SELECT n, see,
          ${SqlMacros.isqrt("n * sff - sf * sf")} AS sig_f_n,
          ${SqlMacros.isqrt("n * saa - sa * sa")} AS sig_a_n,
          n * sfa - sf * sa AS cov_n2, sf - sa AS bias_n
        FROM mo)
      SELECT n, see AS sse,
        (bias_n * bias_n) * 1000000 // (n * see) AS um_ppm,
        ((sig_f_n - sig_a_n) * (sig_f_n - sig_a_n)) * 1000000
          // (n * see) AS us_ppm,
        2 * (sig_f_n * sig_a_n - cov_n2) * 1000000
          // (n * see) AS uc_ppm
      FROM sig
    """))

  def defs: Seq[QueryDef] = Seq(q705, q706, q707, q717)
}
