package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 7: reliability audits — inter-rater agreement for
  * annotation pipelines, straggler-speculation payoff for stage
  * scheduling, and priority sampling for unbiased subset-sum
  * estimation. All outputs integers / strings with total ORDER BYs
  * for the oracle gate.
  */
object ReliabilityPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q561

  /** Inter-rater agreement census (Cohen's κ): three deterministic
    * heuristic "raters" label every document keep/drop — R1 by raw
    * length (n_chars ≥ 300), R2 by stopword density (≥ 60 per mille
    * of tokens), R3 by mean token length (≤ 4.5 chars) — each
    * threshold sits at the corpus median so every rater genuinely
    * splits the data (a rater that always says "keep" makes κ
    * degenerate-zero by construction) — and each
    * source gets the pairwise chance-corrected agreement
    * κ = (p₀ − pₑ)/(1 − pₑ) in exact ppm. High raw agreement with κ
    * near zero is the classic annotation-pipeline trap (both raters
    * just say "keep" a lot); per-source κ shows where the labeling
    * rules actually measure the same thing before anyone trains on
    * their union. Signed integer division truncates toward zero in
    * BOTH engines (Spark div, DuckDB //), so negative κ (agreement
    * below chance) is portable as-is.
    *
    * Scale shape: one scan computes all three flags with codegen'd
    * kernels (token_count / stopword_hits — no token arrays
    * materialized); agreement counts fold in ONE keyed aggregate per
    * source; the 3-pair grid unpivots from those source rows via
    * stack, and pₑ comes from marginal ppm SHARES (pa·pb div 10⁶),
    * never from count products — overflow-free at any corpus size. */
  private val q561 = QueryDef(
    "q561_rater_agreement_kappa",
    (spark, dir) => {
      import graft.functions.expressions.{token_count, stopword_hits}
      val allStops = graft.text.TextAnalysis.Stopwords.flatMap(_._2)
      val flags = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars"),
          token_count(col("text")).cast("long").as("n_tokens"),
          stopword_hits(col("text"), allStops).cast("long").as("stop_hits"),
          length(translate(col("text"), " ", "")).cast("long").as("tok_chars"))
        .filter(col("n_tokens") >= 1L)
        .select(col("source"),
          when(col("n_chars") >= 300L, 1L).otherwise(0L).as("r1"),
          when(col("stop_hits") * 1000L >= col("n_tokens") * 60L, 1L)
            .otherwise(0L).as("r2"),
          when(col("tok_chars") * 1000L <= col("n_tokens") * 4500L, 1L)
            .otherwise(0L).as("r3"))
      flags.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(col("r1")).as("k1"), sum(col("r2")).as("k2"), sum(col("r3")).as("k3"),
          sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("a12"),
          sum(when(col("r1") === col("r3"), 1L).otherwise(0L)).as("a13"),
          sum(when(col("r2") === col("r3"), 1L).otherwise(0L)).as("a23"))
        .select(col("source"), col("n"), expr("""stack(3,
            'len_vs_stop', k1, k2, a12,
            'len_vs_toklen', k1, k3, a13,
            'stop_vs_toklen', k2, k3, a23) AS (pair, ka, kb, agree)"""))
        .withColumn("po_ppm", expr("agree * 1000000 div n"))
        .withColumn("pa_ppm", expr("ka * 1000000 div n"))
        .withColumn("pb_ppm", expr("kb * 1000000 div n"))
        .withColumn("pe_ppm", expr(
          "(pa_ppm * pb_ppm + (1000000 - pa_ppm) * (1000000 - pb_ppm)) div 1000000"))
        .select(col("source"), col("pair"), col("n").as("n_docs"),
          col("po_ppm"), col("pe_ppm"),
          expr("(po_ppm - pe_ppm) * 1000000 div greatest(1000000 - pe_ppm, 1)")
            .as("kappa_ppm"))
        .orderBy(col("source"), col("pair"))
    },
    Some {
      val allStops = graft.text.TextAnalysis.Stopwords
        .flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH f AS (
        SELECT source, n_chars,
          CAST(len(tk) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(tk, t -> t IN ($allStops))) AS BIGINT) AS stop_hits,
          CAST(len(replace(text, ' ', '')) AS BIGINT) AS tok_chars
        FROM (SELECT source, n_chars, text,
                $duckTokens AS tk
              FROM documents)),
      r AS (
        SELECT source,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS r1,
          CASE WHEN stop_hits * 1000 >= n_tokens * 60 THEN 1 ELSE 0 END AS r2,
          CASE WHEN tok_chars * 1000 <= n_tokens * 4500 THEN 1 ELSE 0 END AS r3
        FROM f WHERE n_tokens >= 1),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(r1) AS BIGINT) AS k1, CAST(sum(r2) AS BIGINT) AS k2,
          CAST(sum(r3) AS BIGINT) AS k3,
          CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS a12,
          CAST(sum(CASE WHEN r1 = r3 THEN 1 ELSE 0 END) AS BIGINT) AS a13,
          CAST(sum(CASE WHEN r2 = r3 THEN 1 ELSE 0 END) AS BIGINT) AS a23
        FROM r GROUP BY source),
      p AS (
        SELECT source, n, 'len_vs_stop' AS pair, k1 AS ka, k2 AS kb, a12 AS agree FROM g
        UNION ALL SELECT source, n, 'len_vs_toklen', k1, k3, a13 FROM g
        UNION ALL SELECT source, n, 'stop_vs_toklen', k2, k3, a23 FROM g),
      s AS (
        SELECT source, pair, n AS n_docs,
          CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
          CAST(ka * 1000000 // n AS BIGINT) AS pa_ppm,
          CAST(kb * 1000000 // n AS BIGINT) AS pb_ppm
        FROM p),
      e AS (
        SELECT source, pair, n_docs, po_ppm,
          CAST((pa_ppm * pb_ppm + (1000000 - pa_ppm) * (1000000 - pb_ppm))
            // 1000000 AS BIGINT) AS pe_ppm
        FROM s)
      SELECT source, pair, n_docs, po_ppm, pe_ppm,
        CAST((po_ppm - pe_ppm) * 1000000
          // greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm
      FROM e ORDER BY source, pair
    """
    })

  // ---------------------------------------------------------------- q562

  /** Straggler-speculation payoff audit: model each event-stream day
    * as a stage whose tasks are the per-user event loads (the daily
    * per-key partition work — power users are the stragglers), and
    * price speculative re-execution the way Spark/MapReduce do it — a
    * task still running at 1.5× the stage median gets a backup copy
    * that finishes in median time, so its completion becomes
    * min(d, 1.5·median + median). Reports per stage the makespan with
    * and without speculation, how many tasks would speculate, and the
    * saved fraction in ppm — the evidence for whether
    * spark.speculation would actually help this workload's skew.
    *
    * Scale shape: events fold to (day, user) counts first; the exact
    * stage median comes from row_number + count windows PARTITIONED
    * by day (frames are active-users-per-day sized, never raw event
    * rows); everything else is per-row arithmetic and one keyed
    * re-aggregate. */
  private val q562 = QueryDef(
    "q562_speculation_payoff",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val tasks = Tables.events(spark, dir)
        .select(epochS(col("ts")).as("es"), col("user_id").as("supp"))
        .select(expr("es div 86400").as("stage_day"), col("supp"))
        .groupBy(col("stage_day"), col("supp")).agg(count(lit(1)).as("d"))
      val byM = Window.partitionBy(col("stage_day"))
      val ordered = byM.orderBy(col("d"), col("supp"))
      tasks
        .withColumn("rn", row_number().over(ordered))
        .withColumn("nt", count(lit(1)).over(byM))
        .withColumn("med", max(when(col("rn") === expr("(nt + 1) div 2"),
          col("d"))).over(byM))
        .withColumn("thr", expr("(3 * med) div 2"))
        .withColumn("d_spec",
          expr("CASE WHEN d > thr THEN least(d, thr + med) ELSE d END"))
        .groupBy(col("stage_day")).agg(
          max(col("nt")).as("n_tasks"), max(col("med")).as("median_d"),
          max(col("d")).as("makespan"), max(col("d_spec")).as("makespan_spec"),
          sum(when(col("d") > col("thr"), 1L).otherwise(0L)).as("n_speculated"))
        .withColumn("saved_ppm",
          expr("(makespan - makespan_spec) * 1000000 div makespan"))
        .orderBy(col("stage_day"))
    },
    Some("""
      WITH tasks AS (
        SELECT epoch_ms(ts) // 1000 // 86400 AS stage_day,
          user_id AS supp, CAST(count(*) AS BIGINT) AS d
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT stage_day, d,
          row_number() OVER (PARTITION BY stage_day ORDER BY d, supp) AS rn,
          count(*) OVER (PARTITION BY stage_day) AS nt
        FROM tasks),
      m AS (
        SELECT stage_day,
          max(CASE WHEN rn = (nt + 1) // 2 THEN d END) OVER (PARTITION BY stage_day)
            AS med,
          d, nt
        FROM w),
      s AS (
        SELECT stage_day, d, nt, med, (3 * med) // 2 AS thr,
          CASE WHEN d > (3 * med) // 2
            THEN least(d, (3 * med) // 2 + med) ELSE d END AS d_spec
        FROM m)
      SELECT CAST(stage_day AS BIGINT) AS stage_day, CAST(max(nt) AS BIGINT) AS n_tasks,
        CAST(max(med) AS BIGINT) AS median_d,
        CAST(max(d) AS BIGINT) AS makespan,
        CAST(max(d_spec) AS BIGINT) AS makespan_spec,
        CAST(sum(CASE WHEN d > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_speculated,
        CAST((max(d) - max(d_spec)) * 1000000 // max(d) AS BIGINT) AS saved_ppm
      FROM s GROUP BY stage_day ORDER BY stage_day
    """))

  // ---------------------------------------------------------------- q563

  /** Priority sampling (Duffield–Lund–Thorup) subset-sum audit: give
    * every lineitem a priority q = w·10⁶/u (w = price in cents, u a
    * deterministic per-item hash-uniform), keep the top k, set the
    * threshold τ to the (k+1)-th priority, and estimate the TOTAL
    * revenue as Σ max(w, τ) over the sample — the near-optimal
    * weighted sampling scheme whose estimator is unbiased for every
    * subset-sum. Swept at k = 64/256/1024 against the true total: the
    * error collapsing as k grows is the budget dial for "how many
    * rows must the sample keep so downstream sums stay trustworthy".
    *
    * Scale shape: priorities are one narrow projection, read by the
    * 3 sweeps; each k needs only the (k+1) largest
    * priorities — a TakeOrdered top-k, never a global sort — and τ
    * re-enters the full scan as a ONE-ROW broadcast (the repo's
    * sanctioned bounded-BNLJ pattern: O(n) work, nothing corpus-sized
    * on the build side). The sample itself is defined as q > τ on
    * VALUES, so priority ties at the boundary resolve identically in
    * any engine. */
  private val q563 = QueryDef(
    "q563_priority_sampling_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      import graft.operators.Sampling
      val pri = Tables.lineitem(spark, dir)
        .select(cents(col("l_extendedprice")).as("w"),
          (Sampling.keyHash(expr("l_orderkey * 10 + l_linenumber"))
            % 999983L + 1L).as("u"))
        .select(col("w"), expr("w * 1000000 div u").as("q"))
      val tot = pri.agg(sum(col("w")).as("true_sum_cents"))
      val perK = Seq(64, 256, 1024).map { k =>
        val tau = pri.orderBy(col("q").desc).limit(k + 1)
          .agg(min(col("q")).as("tau_q"))
        pri.crossJoin(broadcast(tau))
          .filter(col("q") > col("tau_q"))
          .groupBy(col("tau_q"))
          .agg(count(lit(1)).as("n_sample"),
            sum(greatest(col("w"), col("tau_q"))).as("est_sum_cents"))
          .select(lit(k.toLong).as("k"), col("tau_q"), col("n_sample"),
            col("est_sum_cents"))
      }
      perK.reduce(_ union _)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("tau_q"), col("n_sample"), col("est_sum_cents"),
          col("true_sum_cents"),
          expr("abs(est_sum_cents - true_sum_cents) * 1000000 div true_sum_cents")
            .as("abs_err_ppm"))
        .orderBy(col("k"))
    },
    Some("""
      WITH pri AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w,
          ((l_orderkey * 10 + l_linenumber) % 2147483648) * 2654435761
            % 4294967296 % 999983 + 1 AS u
        FROM lineitem),
      p2 AS (SELECT w, CAST(w * 1000000 // u AS BIGINT) AS q FROM pri),
      tot AS (SELECT CAST(sum(w) AS BIGINT) AS true_sum_cents FROM p2),
      t64 AS (SELECT min(q) AS tau_q FROM (SELECT q FROM p2 ORDER BY q DESC LIMIT 65)),
      t256 AS (SELECT min(q) AS tau_q FROM (SELECT q FROM p2 ORDER BY q DESC LIMIT 257)),
      t1024 AS (SELECT min(q) AS tau_q FROM (SELECT q FROM p2 ORDER BY q DESC LIMIT 1025)),
      e AS (
        SELECT CAST(64 AS BIGINT) AS k, tau_q,
          CAST(count(*) AS BIGINT) AS n_sample,
          CAST(sum(greatest(w, tau_q)) AS BIGINT) AS est_sum_cents
        FROM p2, t64 WHERE q > tau_q GROUP BY tau_q
        UNION ALL
        SELECT 256, tau_q, CAST(count(*) AS BIGINT),
          CAST(sum(greatest(w, tau_q)) AS BIGINT)
        FROM p2, t256 WHERE q > tau_q GROUP BY tau_q
        UNION ALL
        SELECT 1024, tau_q, CAST(count(*) AS BIGINT),
          CAST(sum(greatest(w, tau_q)) AS BIGINT)
        FROM p2, t1024 WHERE q > tau_q GROUP BY tau_q)
      SELECT k, tau_q, n_sample, est_sum_cents, true_sum_cents,
        CAST(abs(est_sum_cents - true_sum_cents) * 1000000 // true_sum_cents
          AS BIGINT) AS abs_err_ppm
      FROM e CROSS JOIN tot ORDER BY k
    """))

  def defs: Seq[QueryDef] = Seq(q561, q562, q563)
}
