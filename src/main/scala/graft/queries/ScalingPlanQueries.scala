package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 scaling / capacity planners: compute-optimal allocation
  * (Chinchilla), inference prefill/decode cost split, sliding-window
  * attention coverage, shuffle-partition spill planning, experiment
  * power (MDE) planning, best-of-n sampling yield, reactive autoscaling
  * audit, and a character-class corpus census. All outputs integers /
  * strings with total ORDER BYs for the oracle gate.
  */
object ScalingPlanQueries extends QueryGroup {

  private val duckTokenCount =
    s"len($duckTokens)"

  // ---------------------------------------------------------------- q523

  /** Compute-optimal allocation (Hoffmann et al., "Training
    * Compute-Optimal Large Language Models"): with C = 6·N·D and the
    * Chinchilla rule D = 20·N, the optimal parameter count is
    * N = √(C/120) — evaluated by exact integer isqrt (q500's ±1-corrected
    * floor) for a grid of FLOP budgets (10¹⁸..10²¹, carried in TFLOPs so
    * every intermediate fits a long) — and compared against the corpus's
    * ACTUAL token supply: epochs needed (milli) and the token shortfall
    * the data team must close before that budget is spendable.
    *
    * Scale shape: one corpus-total token aggregate (one row, broadcast)
    * crossed with a 4-row literal grid; all math is scalar projection. */
  private val q523 = QueryDef(
    "q523_chinchilla_allocation",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(1000000L, 10000000L, 100000000L, 1000000000L)
        .toDF("budget_tflop")
      val corpus = Tables.documents(spark, dir)
        .agg(sum(graft.functions.expressions.token_count(col("text")).cast("long"))
          .as("corpus_tokens"))
      broadcast(grid).crossJoin(corpus)
        // tgt = floor(budget·10¹²/120) without overflowing: split the
        // quotient (max (10⁹ div 120)·10¹² ≈ 8.3·10¹⁸ < 2⁶³)
        .withColumn("tgt", expr(
          "(budget_tflop div 120) * 1000000000000" +
            " + (budget_tflop % 120) * 1000000000000 div 120"))
        .withColumn("s0", expr("CAST(floor(sqrt(CAST(tgt AS DOUBLE))) AS BIGINT)"))
        .withColumn("n_opt_params", expr(
          "CASE WHEN (s0 + 1) * (s0 + 1) <= tgt THEN s0 + 1" +
            " WHEN s0 * s0 > tgt THEN s0 - 1 ELSE s0 END"))
        .withColumn("d_opt_tokens", expr("20 * n_opt_params"))
        .select(col("budget_tflop"), col("n_opt_params"), col("d_opt_tokens"),
          col("corpus_tokens"),
          expr("d_opt_tokens * 1000 div corpus_tokens").as("epochs_milli"),
          expr("greatest(d_opt_tokens - corpus_tokens, 0)").as("data_gap_tokens"))
        .orderBy(col("budget_tflop"))
    },
    Some(s"""
      WITH grid(budget_tflop) AS (VALUES (CAST(1000000 AS BIGINT)),
        (CAST(10000000 AS BIGINT)), (CAST(100000000 AS BIGINT)),
        (CAST(1000000000 AS BIGINT))),
      corpus AS (
        SELECT CAST(sum($duckTokenCount) AS BIGINT) AS corpus_tokens
        FROM documents),
      t AS (
        SELECT budget_tflop, corpus_tokens,
          (budget_tflop // 120) * 1000000000000
            + (budget_tflop % 120) * 1000000000000 // 120 AS tgt
        FROM grid CROSS JOIN corpus),
      r AS (
        SELECT *, CAST(floor(sqrt(CAST(tgt AS DOUBLE))) AS BIGINT) AS s0 FROM t),
      n AS (
        SELECT budget_tflop, corpus_tokens, tgt,
          CASE WHEN (s0 + 1) * (s0 + 1) <= tgt THEN s0 + 1
               WHEN s0 * s0 > tgt THEN s0 - 1 ELSE s0 END AS n_opt_params
        FROM r)
      SELECT budget_tflop, n_opt_params,
        20 * n_opt_params AS d_opt_tokens, corpus_tokens,
        CAST(20 * n_opt_params * 1000 // corpus_tokens AS BIGINT) AS epochs_milli,
        CAST(greatest(20 * n_opt_params - corpus_tokens, 0) AS BIGINT)
          AS data_gap_tokens
      FROM n ORDER BY budget_tflop
    """))

  // ---------------------------------------------------------------- q524

  /** Inference prefill/decode cost split: serving a document as a prompt
    * costs attention FLOPs ∝ len² in prefill, then ∝ Σᵢ(len + i) for G
    * generated tokens in decode (G = 128) — the split that decides
    * whether a serving fleet is compute-bound (prefill-heavy, long
    * prompts) or memory-bandwidth-bound (decode-heavy, short prompts),
    * and therefore how to partition it. Reported per source in exact
    * integer attention-pair units.
    *
    * Scale shape: pure per-document arithmetic folded by one per-source
    * hash aggregate; len ≤ ~10³ so len² ≤ 10⁶ per doc — no overflow at
    * any corpus size that fits sum in a long (10¹² docs). */
  private val q524 = QueryDef(
    "q524_prefill_decode_split",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("len"))
        .filter(col("len") >= 1L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("len * len")).as("prefill_units"),
          sum(expr("128 * len + 8256")).as("decode_units"))
        .select(col("source"), col("n_docs"), col("prefill_units"),
          col("decode_units"),
          expr("prefill_units * 1000000 div (prefill_units + decode_units)")
            .as("prefill_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, CAST($duckTokenCount AS BIGINT) AS len FROM documents),
      f AS (SELECT * FROM d WHERE len >= 1)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len * len) AS BIGINT) AS prefill_units,
        CAST(sum(128 * len + 8256) AS BIGINT) AS decode_units,
        CAST(sum(len * len) * 1000000
          // (sum(len * len) + sum(128 * len + 8256)) AS BIGINT) AS prefill_ppm
      FROM f GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q525

  /** Sliding-window attention coverage: restricting each token to attend
    * its previous w positions (window includes self) keeps
    * w(w+1)/2 + (len−w)·w of the full len(len+1)/2 causal pairs — the
    * exact fraction of attention compute (and of long-range signal) a
    * windowed model retains, per source, for w ∈ {64, 256}. The sizing
    * pass before committing to a sparse-attention architecture on a
    * given corpus's length profile.
    *
    * Scale shape: a 2-row literal window grid broadcast-crossed onto
    * per-document closed-form arithmetic; one (w, source) aggregate. */
  private val q525 = QueryDef(
    "q525_attention_window_coverage",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(64L, 256L).toDF("w")
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("len"))
        .filter(col("len") >= 1L)
        .crossJoin(broadcast(grid))
        .select(col("w"), col("source"),
          expr("len * (len + 1) div 2").as("full_pairs"),
          expr("CASE WHEN len <= w THEN len * (len + 1) div 2" +
            " ELSE w * (w + 1) div 2 + (len - w) * w END").as("kept"))
        .groupBy(col("w"), col("source"))
        .agg(sum(col("full_pairs")).as("total_pairs"),
          sum(col("kept")).as("kept_pairs"))
        .select(col("w"), col("source"), col("total_pairs"), col("kept_pairs"),
          expr("kept_pairs * 1000000 div total_pairs").as("coverage_ppm"))
        .orderBy(col("w"), col("source"))
    },
    Some(s"""
      WITH grid(w) AS (VALUES (CAST(64 AS BIGINT)), (CAST(256 AS BIGINT))),
      d AS (
        SELECT source, CAST($duckTokenCount AS BIGINT) AS len FROM documents),
      f AS (SELECT * FROM d WHERE len >= 1),
      x AS (
        SELECT w, source, len * (len + 1) // 2 AS full_pairs,
          CASE WHEN len <= w THEN len * (len + 1) // 2
               ELSE w * (w + 1) // 2 + (len - w) * w END AS kept
        FROM f CROSS JOIN grid)
      SELECT w, source, CAST(sum(full_pairs) AS BIGINT) AS total_pairs,
        CAST(sum(kept) AS BIGINT) AS kept_pairs,
        CAST(sum(kept) * 1000000 // sum(full_pairs) AS BIGINT) AS coverage_ppm
      FROM x GROUP BY w, source ORDER BY w, source
    """))

  // ---------------------------------------------------------------- q526

  /** Shuffle-partition spill planner: distribute each join key's byte
    * volume (rows × 100-byte proxy) over P hash partitions for
    * P ∈ {8, 32, 128} with the engine's deterministic multiplicative
    * hash, and report the max-partition load, balance ratio, and how
    * many partitions exceed a 512 KiB executor budget — the
    * `spark.sql.shuffle.partitions` sizing decision made from measured
    * key volumes instead of folklore.
    *
    * Scale shape: one key-volume hash aggregate (the only corpus-sized
    * shuffle), then the 3-row P grid broadcast onto key-count rows and
    * re-folded to ≤ 8+32+128 partition rows. */
  private val q526 = QueryDef(
    "q526_shuffle_spill_planner",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(8L, 32L, 128L).toDF("p")
      val vols = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg((count(lit(1)) * 100L).as("bytes"))
      vols.crossJoin(broadcast(grid))
        .select(col("p"),
          (graft.operators.Sampling.keyHash(col("l_orderkey")) % col("p")).as("part"),
          col("bytes"))
        .groupBy(col("p"), col("part")).agg(sum(col("bytes")).as("pb"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("parts_used"),
          max(col("pb")).as("max_partition_bytes"),
          sum(col("pb")).as("total_bytes"),
          sum(when(col("pb") > 524288L, 1L).otherwise(0L)).as("spill_partitions"))
        .select(col("p"), col("parts_used"), col("max_partition_bytes"),
          col("total_bytes"), col("spill_partitions"),
          expr("max_partition_bytes * p * 1000000 div total_bytes")
            .as("balance_ppm"))
        .orderBy(col("p"))
    },
    Some("""
      WITH grid(p) AS (VALUES (CAST(8 AS BIGINT)), (CAST(32 AS BIGINT)),
        (CAST(128 AS BIGINT))),
      vols AS (
        SELECT l_orderkey, CAST(count(*) * 100 AS BIGINT) AS bytes
        FROM lineitem GROUP BY l_orderkey),
      parts AS (
        SELECT p, (l_orderkey % 2147483648) * 2654435761 % 4294967296 % p
            AS part,
          bytes
        FROM vols CROSS JOIN grid),
      pb AS (
        SELECT p, part, CAST(sum(bytes) AS BIGINT) AS pb
        FROM parts GROUP BY p, part)
      SELECT p, CAST(count(*) AS BIGINT) AS parts_used,
        max(pb) AS max_partition_bytes,
        CAST(sum(pb) AS BIGINT) AS total_bytes,
        CAST(sum(CASE WHEN pb > 524288 THEN 1 ELSE 0 END) AS BIGINT)
          AS spill_partitions,
        CAST(max(pb) * p * 1000000 // sum(pb) AS BIGINT) AS balance_ppm
      FROM pb GROUP BY p ORDER BY p
    """))

  // ---------------------------------------------------------------- q527

  /** Experiment power plan (minimum detectable effect): from measured
    * order-value mean and variance (whole dollars — cents would overflow
    * the Σx² accumulator at SF ≥ 0.1) and the observed daily order rate,
    * the two-arm sample size for 80% power at α = 0.05 is
    * n/arm = 2·(z_{α/2}+z_β)²·σ²/Δ² with (1.96+0.84)² carried as the
    * integer 784/100 — reported for lifts of 1%, 2%, 5% of the mean,
    * with the runtime in days the experiment must book. q163 reads out a
    * finished experiment; this prices one BEFORE it runs.
    *
    * Scale shape: one scan folds to a one-row (n, Σx, Σx², span) scalar
    * aggregate, broadcast onto a 3-row lift grid. */
  private val q527 = QueryDef(
    "q527_mde_power_plan",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(10L, 20L, 50L).toDF("lift_permille")
      val stats = Tables.orders(spark, dir)
        .select(expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("v"),
          (epochS(col("o_orderdate")) / 86400L).cast("long").as("day"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
          sum(expr("v * v")).as("s2"),
          (max(col("day")) - min(col("day")) + 1L).as("span_days"))
      broadcast(grid).crossJoin(stats)
        .withColumn("mean_usd", expr("s1 div n"))
        .withColumn("var_usd2", expr("s2 div n - (s1 div n) * (s1 div n)"))
        .withColumn("delta_usd", expr("greatest(mean_usd * lift_permille div 1000, 1)"))
        .withColumn("n_per_arm", expr(
          "2 * 784 * var_usd2 div (100 * delta_usd * delta_usd)"))
        .withColumn("daily_orders", expr("n div span_days"))
        .select(col("lift_permille"), col("mean_usd"), col("var_usd2"),
          col("delta_usd"), col("n_per_arm"), col("daily_orders"),
          expr("(2 * n_per_arm + daily_orders - 1) div daily_orders")
            .as("days_needed"))
        .orderBy(col("lift_permille"))
    },
    Some("""
      WITH grid(lift_permille) AS (VALUES (CAST(10 AS BIGINT)),
        (CAST(20 AS BIGINT)), (CAST(50 AS BIGINT))),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2,
          CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days
        FROM (SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS v,
                epoch_ms(o_orderdate) // 1000 // 86400 AS day
              FROM orders)),
      m AS (
        SELECT lift_permille, n, span_days,
          s1 // n AS mean_usd,
          s2 // n - (s1 // n) * (s1 // n) AS var_usd2,
          greatest((s1 // n) * lift_permille // 1000, 1) AS delta_usd
        FROM grid CROSS JOIN stats),
      r AS (
        SELECT *, 2 * 784 * var_usd2 // (100 * delta_usd * delta_usd)
            AS n_per_arm,
          n // span_days AS daily_orders
        FROM m)
      SELECT lift_permille, mean_usd, var_usd2, delta_usd, n_per_arm,
        daily_orders,
        CAST((2 * n_per_arm + daily_orders - 1) // daily_orders AS BIGINT)
          AS days_needed
      FROM r ORDER BY lift_permille
    """))

  // ---------------------------------------------------------------- q528

  /** Best-of-n sampling yield: drawing n candidates and keeping the
    * best-scoring one lifts expected quality from E[Q] to E[max of n] =
    * Σ_b q_b·(F(b)ⁿ − F(b−)ⁿ) — evaluated exactly over the quantized
    * score histogram (score = min(n_chars/10, 1000), ≤ 1001 bins) with
    * the CDF carried in milli (n = 2, 4 exact in milliⁿ; n = 8 squares
    * the 10⁻⁶-truncated fourth power, identically in both engines). The
    * rejection-sampling planner: how much quality each doubling of
    * sampling compute actually buys on this corpus's distribution.
    *
    * Scale shape: one histogram aggregate; the cumulative window runs
    * over ≤ 1001 bins (q64's discipline); the corpus total is a one-row
    * broadcast. F(b−) is cum − c — no lag window needed. */
  private val q528 = QueryDef(
    "q528_best_of_n_quality_gain",
    (spark, dir) => {
      val binned = Tables.documents(spark, dir)
        .select(expr("least(n_chars div 10, 1000)").as("qs"))
      val hist = binned.groupBy(col("qs")).agg(count(lit(1)).as("c"))
      val cum = hist.select(col("qs"), col("c"),
        sum(col("c")).over(Window.orderBy(col("qs"))
          .rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
      val tot = binned.agg(count(lit(1)).as("n_docs"))
      val terms = cum.crossJoin(broadcast(tot))
        .select(col("qs"), col("n_docs"),
          expr("cum * 1000 div n_docs").as("cm"),
          expr("(cum - c) * 1000 div n_docs").as("cp"))
        .select(col("qs"), col("n_docs"),
          expr("qs * (cm - cp)").as("t1"),
          expr("qs * (cm * cm - cp * cp)").as("t2"),
          expr("qs * (cm * cm * cm * cm - cp * cp * cp * cp)").as("t4"),
          expr("qs * ((cm * cm * cm * cm div 1000000) * (cm * cm * cm * cm div 1000000)" +
            " - (cp * cp * cp * cp div 1000000) * (cp * cp * cp * cp div 1000000))")
            .as("t8"))
      terms.groupBy(col("n_docs"))
        .agg(sum(col("t1")).as("e1"), sum(col("t2")).as("e2"),
          sum(col("t4")).as("e4"), sum(col("t8")).as("e8"))
        .selectExpr("n_docs",
          "stack(4, CAST(1 AS BIGINT), e1 div 1000," +
            " CAST(2 AS BIGINT), e2 div 1000000," +
            " CAST(4 AS BIGINT), e4 div 1000000000000," +
            " CAST(8 AS BIGINT), e8 div 1000000000000) AS (n_samples, e_max_q)")
        .select(col("n_samples"), col("e_max_q"), col("n_docs"))
        .orderBy(col("n_samples"))
    },
    Some("""
      WITH b AS (SELECT least(n_chars // 10, 1000) AS qs FROM documents),
      h AS (SELECT qs, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY qs),
      cum AS (SELECT qs, c, sum(c) OVER (ORDER BY qs) AS cum FROM h),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM b),
      terms AS (
        SELECT qs, n_docs,
          cum * 1000 // n_docs AS cm, (cum - c) * 1000 // n_docs AS cp
        FROM cum CROSS JOIN tot),
      e AS (
        SELECT n_docs,
          sum(qs * (cm - cp)) AS e1,
          sum(qs * (cm * cm - cp * cp)) AS e2,
          sum(qs * (cm * cm * cm * cm - cp * cp * cp * cp)) AS e4,
          sum(qs * ((cm * cm * cm * cm // 1000000) * (cm * cm * cm * cm // 1000000)
            - (cp * cp * cp * cp // 1000000) * (cp * cp * cp * cp // 1000000))) AS e8
        FROM terms GROUP BY n_docs)
      SELECT CAST(1 AS BIGINT) AS n_samples,
        CAST(e1 // 1000 AS BIGINT) AS e_max_q, n_docs FROM e
      UNION ALL SELECT 2, CAST(e2 // 1000000 AS BIGINT), n_docs FROM e
      UNION ALL SELECT 4, CAST(e4 // 1000000000000 AS BIGINT), n_docs FROM e
      UNION ALL SELECT 8, CAST(e8 // 1000000000000 AS BIGINT), n_docs FROM e
      ORDER BY n_samples
    """))

  // ---------------------------------------------------------------- q529

  /** Reactive autoscaling audit: a lag-1 target-tracking policy sets
    * each hour's capacity to 120% of the PREVIOUS hour's demand (the
    * first observed hour boots at its own demand); the audit counts
    * scale events and prices both failure modes — demand the policy
    * could not serve (under-provisioned events) and slots it paid for
    * but never used. The capacity-planning readout that decides between
    * reactive scaling and q514's provisioned headroom.
    *
    * Scale shape: demand folds to one row per hour (calendar-sized);
    * the two lag windows run over that bounded hour series, never over
    * events. */
  private val q529 = QueryDef(
    "q529_autoscale_reactive_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val hours = Tables.events(spark, dir)
        .select((epochS(col("ts")) / 3600L).cast("long").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("demand"))
      val byH = Window.orderBy(col("h"))
      val withCap = hours
        .withColumn("capacity",
          coalesce(expr("lag(demand, 1) OVER (ORDER BY h) * 120 div 100"),
            col("demand")))
      val flags = withCap
        .withColumn("prev_cap", lag(col("capacity"), 1).over(byH))
      flags.agg(
          count(lit(1)).as("n_hours"),
          sum(when(col("prev_cap").isNotNull && col("capacity") > col("prev_cap"), 1L)
            .otherwise(0L)).as("scale_up_hours"),
          sum(when(col("prev_cap").isNotNull && col("capacity") < col("prev_cap"), 1L)
            .otherwise(0L)).as("scale_down_hours"),
          sum(when(col("demand") > col("capacity"), 1L).otherwise(0L))
            .as("underprov_hours"),
          sum(expr("greatest(demand - capacity, 0)")).as("dropped_events"),
          sum(expr("greatest(capacity - demand, 0)")).as("idle_slots"),
          sum(col("demand")).as("total_events"))
        .select(col("n_hours"), col("scale_up_hours"), col("scale_down_hours"),
          col("underprov_hours"), col("dropped_events"), col("idle_slots"),
          expr("dropped_events * 1000000 div total_events").as("dropped_ppm"))
    },
    Some("""
      WITH hours AS (
        SELECT epoch_ms(ts) // 1000 // 3600 AS h,
          CAST(count(*) AS BIGINT) AS demand
        FROM events GROUP BY 1),
      cap AS (
        SELECT h, demand,
          coalesce(lag(demand, 1) OVER (ORDER BY h) * 120 // 100, demand)
            AS capacity
        FROM hours),
      f AS (
        SELECT *, lag(capacity, 1) OVER (ORDER BY h) AS prev_cap FROM cap)
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
        CAST(sum(CASE WHEN prev_cap IS NOT NULL AND capacity > prev_cap
          THEN 1 ELSE 0 END) AS BIGINT) AS scale_up_hours,
        CAST(sum(CASE WHEN prev_cap IS NOT NULL AND capacity < prev_cap
          THEN 1 ELSE 0 END) AS BIGINT) AS scale_down_hours,
        CAST(sum(CASE WHEN demand > capacity THEN 1 ELSE 0 END) AS BIGINT)
          AS underprov_hours,
        CAST(sum(greatest(demand - capacity, 0)) AS BIGINT) AS dropped_events,
        CAST(sum(greatest(capacity - demand, 0)) AS BIGINT) AS idle_slots,
        CAST(sum(greatest(demand - capacity, 0)) * 1000000 // sum(demand)
          AS BIGINT) AS dropped_ppm
      FROM f
    """))

  // ---------------------------------------------------------------- q530

  /** Character-class corpus census: per source, the ppm split of raw
    * characters into letters / digits / spaces / other — the cheapest
    * corpus-health fingerprint (a source whose 'other' share jumps is
    * shipping markup, mojibake, or binary spill; a digits-heavy source
    * is tables, not prose). Complements q27's token-level quality score
    * with a byte-level one that needs no tokenization at all.
    *
    * Scale shape: per-document regexp_replace projections (codegen'd,
    * identical character classes in Java and RE2 regex dialects — the
    * DuckDB side adds the 'g' flag its regexp_replace needs for
    * replace-all) folded by one per-source aggregate. */
  private val q530 = QueryDef(
    "q530_char_class_census",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"), length(col("text")).cast("long").as("chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[a-zA-Z]", ""))).cast("long")
            .as("letters"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
            .as("digits"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[ ]", ""))).cast("long")
            .as("spaces"))
        .groupBy(col("source"))
        .agg(sum(col("chars")).as("total_chars"), sum(col("letters")).as("l"),
          sum(col("digits")).as("d"), sum(col("spaces")).as("s"))
        .select(col("source"), col("total_chars"),
          expr("l * 1000000 div total_chars").as("letters_ppm"),
          expr("d * 1000000 div total_chars").as("digits_ppm"),
          expr("s * 1000000 div total_chars").as("space_ppm"),
          expr("(total_chars - l - d - s) * 1000000 div total_chars")
            .as("other_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source, CAST(len(text) AS BIGINT) AS chars,
          CAST(len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))
            AS BIGINT) AS letters,
          CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
            AS BIGINT) AS digits,
          CAST(len(text) - len(regexp_replace(text, '[ ]', '', 'g'))
            AS BIGINT) AS spaces
        FROM documents)
      SELECT source, CAST(sum(chars) AS BIGINT) AS total_chars,
        CAST(sum(letters) * 1000000 // sum(chars) AS BIGINT) AS letters_ppm,
        CAST(sum(digits) * 1000000 // sum(chars) AS BIGINT) AS digits_ppm,
        CAST(sum(spaces) * 1000000 // sum(chars) AS BIGINT) AS space_ppm,
        CAST((sum(chars) - sum(letters) - sum(digits) - sum(spaces)) * 1000000
          // sum(chars) AS BIGINT) AS other_ppm
      FROM d GROUP BY source ORDER BY source
    """))

  // ---------------------------------------------------------------- q531

  /** Packing cross-contamination audit: q69 packs each shard's doc
    * stream into 512-token blocks by running sum, which means blocks
    * hold FRAGMENTS of adjacent documents — and without a block-diagonal
    * attention mask, every cross-document token pair inside a block is
    * contamination. Computed exactly: each doc occupies a [start, end)
    * interval of its shard's stream (partitioned running sum), overlaps
    * its covering blocks, and a block with member overlaps o₁..o_k holds
    * (T² − Σoᵢ²)/2 cross pairs of its T(T−1)/2 total. The number that
    * decides whether the training stack needs masked packing.
    *
    * Scale shape: the running sum is PARTITIONED by shard (q69's
    * parallelism dial); each doc explodes to ≤ len/512 + 1 block rows;
    * block and shard aggregates are keyed. No global window. */
  private val q531 = QueryDef(
    "q531_packing_contamination",
    (spark, dir) => {
      val t = Tables.documents(spark, dir)
        .select(col("doc_id"), (col("doc_id") % 4L).as("shard"),
          graft.functions.expressions.token_count(col("text")).cast("long").as("n"))
        .filter(col("n") >= 1L)
      val r = t
        .withColumn("end_off", sum(col("n")).over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("start_off", col("end_off") - col("n"))
      val spans = r.select(col("shard"), col("start_off"), col("end_off"),
          explode(expr("sequence(start_off div 512, (end_off - 1) div 512)"))
            .as("b"))
        .withColumn("ovl", expr(
          "least(end_off, (b + 1) * 512) - greatest(start_off, b * 512)"))
      spans.groupBy(col("shard"), col("b"))
        .agg(sum(col("ovl")).as("t"), sum(expr("ovl * ovl")).as("s2"))
        .select(col("shard"),
          expr("(t * t - s2) div 2").as("cross"),
          expr("t * (t - 1) div 2").as("tot"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("cross")).as("cross_doc_pairs"),
          sum(col("tot")).as("total_pairs"))
        .select(col("shard"), col("n_blocks"), col("cross_doc_pairs"),
          col("total_pairs"),
          expr("cross_doc_pairs * 1000000 div total_pairs")
            .as("contamination_ppm"))
        .orderBy(col("shard"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, doc_id % 4 AS shard,
          CAST($duckTokenCount AS BIGINT) AS n
        FROM documents),
      f AS (SELECT * FROM t WHERE n >= 1),
      r AS (
        SELECT shard,
          CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start_off,
          CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        FROM f),
      spans AS (
        SELECT shard, start_off, end_off,
          unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS b
        FROM r),
      o AS (
        SELECT shard, b,
          least(end_off, (b + 1) * 512) - greatest(start_off, b * 512) AS ovl
        FROM spans),
      blocks AS (
        SELECT shard, b, sum(ovl) AS t, sum(ovl * ovl) AS s2
        FROM o GROUP BY shard, b)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(sum((t * t - s2) // 2) AS BIGINT) AS cross_doc_pairs,
        CAST(sum(t * (t - 1) // 2) AS BIGINT) AS total_pairs,
        CAST(sum((t * t - s2) // 2) * 1000000 // sum(t * (t - 1) // 2)
          AS BIGINT) AS contamination_ppm
      FROM blocks GROUP BY shard ORDER BY shard
    """))

  // ---------------------------------------------------------------- q532

  /** KV-cache capacity plan: a serving session of L tokens pins
    * 4·layers·kv_heads·head_dim bytes per token of fp16 K+V cache; per
    * architecture (MHA 7B, GQA-8 7B, GQA-8 70B) and 256-token length
    * bucket (sized at the bucket ceiling), how many concurrent sessions
    * fit one 80 GB device — the batch-size ceiling that, multiplied by
    * q516's continuous-batching gain, sizes an inference fleet. GQA's
    * entire value proposition (4× the sessions of MHA) is visible in
    * one readout.
    *
    * Scale shape: a 3-row architecture grid broadcast onto an ≤ 8-row
    * length-bucket census; everything after the one doc scan is
    * constant-size arithmetic. */
  private val q532 = QueryDef(
    "q532_kv_cache_capacity",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(("llama7b_mha", 32L, 32L, 128L),
        ("llama7b_gqa8", 32L, 8L, 128L), ("llama70b_gqa8", 80L, 8L, 128L))
        .toDF("model", "layers", "kv_heads", "head_dim")
      val buckets = Tables.documents(spark, dir)
        .select(graft.functions.expressions.token_count(col("text")).cast("long")
          .as("len"))
        .filter(col("len") >= 1L)
        .select(expr("least(len div 256, 7)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      buckets.crossJoin(broadcast(grid))
        .withColumn("bucket_max_len", expr("(bucket + 1) * 256"))
        .withColumn("kv_bytes_per_token", expr("4 * layers * kv_heads * head_dim"))
        .select(col("model"), col("bucket"), col("n_docs"), col("bucket_max_len"),
          expr("bucket_max_len * kv_bytes_per_token").as("kv_bytes_per_session"),
          expr("80000000000 div (bucket_max_len * kv_bytes_per_token)")
            .as("sessions_per_gpu"))
        .orderBy(col("model"), col("bucket"))
    },
    Some(s"""
      WITH grid(model, layers, kv_heads, head_dim) AS (VALUES
        ('llama70b_gqa8', CAST(80 AS BIGINT), CAST(8 AS BIGINT), CAST(128 AS BIGINT)),
        ('llama7b_gqa8', CAST(32 AS BIGINT), CAST(8 AS BIGINT), CAST(128 AS BIGINT)),
        ('llama7b_mha', CAST(32 AS BIGINT), CAST(32 AS BIGINT), CAST(128 AS BIGINT))),
      lens AS (
        SELECT CAST($duckTokenCount AS BIGINT) AS len FROM documents),
      buckets AS (
        SELECT least(len // 256, 7) AS bucket, CAST(count(*) AS BIGINT) AS n_docs
        FROM lens WHERE len >= 1 GROUP BY 1)
      SELECT model, bucket, n_docs,
        (bucket + 1) * 256 AS bucket_max_len,
        (bucket + 1) * 256 * 4 * layers * kv_heads * head_dim
          AS kv_bytes_per_session,
        CAST(80000000000 // ((bucket + 1) * 256 * 4 * layers * kv_heads * head_dim)
          AS BIGINT) AS sessions_per_gpu
      FROM buckets CROSS JOIN grid
      ORDER BY model, bucket
    """))

  // ---------------------------------------------------------------- q533

  /** Reshard movement census: growing a fleet from 8 to 12 nodes moves
    * a fraction of keys that depends entirely on the placement scheme —
    * naive `hash % n` strands most keys on new homes, while rendezvous
    * (highest-random-weight) hashing provably moves only the keys the
    * new nodes win (~4/12). Both counted EXACTLY over the live order
    * keyspace with the same integer hash both engines share. The
    * before/after of q312's balance audit: that measures placement
    * evenness, this the cost of CHANGING placement.
    *
    * Scale shape: keys × 12 weight rows (a bounded explode), one keyed
    * max-fold to the two argmax assignments, one scalar rollup. */
  private val q533 = QueryDef(
    "q533_reshard_move_census",
    (spark, dir) => {
      val w = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"))
        .select(col("k"), explode(expr("sequence(0L, 11L)")).as("node"))
        // the (key, node) weight needs a REAL mixer: any purely affine
        // pipeline (multiply/add/mod) maps the 12 node weights of one
        // key to an arithmetic progression mod 2³², whose argmax is
        // structurally biased (first attempt: node*7919 added AFTER the
        // scramble → every key elected node 11; second: affine-in-node
        // → 22% movement, not 1/3). Two xor-shift rounds break the
        // affinity; div stands in for >> so both engines evaluate the
        // identical non-negative integer sequence.
        .withColumn("x0", expr("(k * 2654435761 + node * 40503) % 4294967296"))
        .withColumn("x1", expr(
          "(x0 ^ (x0 div 65536)) % 2147483648 * 2246822519 % 4294967296"))
        .withColumn("wt", expr("x1 ^ (x1 div 8192)"))
        .withColumn("cmb", expr("wt * 16 + node"))
      w.groupBy(col("k"))
        .agg(expr("max(CASE WHEN node < 8 THEN cmb END) % 16").as("hrw8"),
          expr("max(cmb) % 16").as("hrw12"))
        .select(col("k"), col("hrw8"), col("hrw12"),
          expr("k % 8").as("mod8"), expr("k % 12").as("mod12"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(expr("mod8 != mod12"), 1L).otherwise(0L)).as("moved_mod"),
          sum(when(expr("hrw8 != hrw12"), 1L).otherwise(0L)).as("moved_hrw"))
        .select(col("n_keys"), col("moved_mod"),
          expr("moved_mod * 1000000 div n_keys").as("moved_mod_ppm"),
          col("moved_hrw"),
          expr("moved_hrw * 1000000 div n_keys").as("moved_hrw_ppm"))
    },
    Some("""
      WITH x AS (
        SELECT o_orderkey AS k, node,
          (o_orderkey * 2654435761 + node * 40503) % 4294967296 AS x0
        FROM orders, LATERAL (SELECT unnest(range(0, 12)) AS node) n),
      x1 AS (
        SELECT k, node,
          xor(x0, x0 // 65536) % 2147483648 * 2246822519 % 4294967296 AS x1
        FROM x),
      w AS (
        SELECT k, node, xor(x1, x1 // 8192) * 16 + node AS cmb FROM x1),
      a AS (
        SELECT k,
          max(CASE WHEN node < 8 THEN cmb END) % 16 AS hrw8,
          max(cmb) % 16 AS hrw12,
          k % 8 AS mod8, k % 12 AS mod12
        FROM w GROUP BY k)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(CASE WHEN mod8 <> mod12 THEN 1 ELSE 0 END) AS BIGINT)
          AS moved_mod,
        CAST(sum(CASE WHEN mod8 <> mod12 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS moved_mod_ppm,
        CAST(sum(CASE WHEN hrw8 <> hrw12 THEN 1 ELSE 0 END) AS BIGINT)
          AS moved_hrw,
        CAST(sum(CASE WHEN hrw8 <> hrw12 THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS moved_hrw_ppm
      FROM a
    """))

  // ---------------------------------------------------------------- q534

  /** LSM write-amplification plan: from the measured corpus ingest
    * volume and a 1 MiB memtable, the tree needs ⌈log_f(total/memtable)⌉
    * levels at fanout f; leveled compaction rewrites each level ~(f+1)/2
    * times on its way down (WA ≈ 1 + levels·(f+1)/2) while tiered
    * rewrites each once (WA ≈ 1 + levels) — priced in bytes actually
    * written for f ∈ {4, 10}. The storage-engine knob (RocksDB
    * leveled-vs-universal) chosen from data, not defaults.
    *
    * Scale shape: one corpus-total scalar broadcast against a 24-row
    * precomputed (fanout, level, capacity) ladder — the integer log. */
  private val q534 = QueryDef(
    "q534_lsm_write_amplification",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val memtable = 1048576L
      val ladder = (for (f <- Seq(4L, 10L); l <- 1L to 12L)
        yield (f, l, memtable * math.pow(f.toDouble, l.toDouble).toLong))
        .toDF("fanout", "level", "cap")
      val total = Tables.documents(spark, dir)
        .agg(sum(col("n_chars")).as("total_bytes"))
      broadcast(ladder).crossJoin(total)
        .filter(col("cap") >= col("total_bytes"))
        .groupBy(col("fanout"))
        .agg(min(col("level")).as("levels"), max(col("total_bytes")).as("total_bytes"))
        .select(col("fanout"), col("total_bytes"), col("levels"),
          expr("10 + levels * (fanout + 1) * 10 div 2").as("wa_leveled_deci"),
          expr("10 + levels * 10").as("wa_tiered_deci"),
          expr("total_bytes * (10 + levels * (fanout + 1) * 10 div 2) div 10")
            .as("leveled_bytes_written"),
          expr("total_bytes * (10 + levels * 10) div 10")
            .as("tiered_bytes_written"))
        .orderBy(col("fanout"))
    },
    Some {
      val memtable = 1048576L
      val values = (for (f <- Seq(4L, 10L); l <- 1L to 12L)
        yield s"(CAST($f AS BIGINT), CAST($l AS BIGINT), CAST(${
          memtable * math.pow(f.toDouble, l.toDouble).toLong} AS BIGINT))")
        .mkString(", ")
      s"""
      WITH ladder(fanout, level, cap) AS (VALUES $values),
      total AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_bytes
                FROM documents),
      lv AS (
        SELECT fanout, min(level) AS levels, max(total_bytes) AS total_bytes
        FROM ladder CROSS JOIN total
        WHERE cap >= total_bytes GROUP BY fanout)
      SELECT fanout, total_bytes, levels,
        10 + levels * (fanout + 1) * 10 // 2 AS wa_leveled_deci,
        10 + levels * 10 AS wa_tiered_deci,
        CAST(total_bytes * (10 + levels * (fanout + 1) * 10 // 2) // 10
          AS BIGINT) AS leveled_bytes_written,
        CAST(total_bytes * (10 + levels * 10) // 10 AS BIGINT)
          AS tiered_bytes_written
      FROM lv ORDER BY fanout
    """
    })

  // ---------------------------------------------------------------- q535

  /** Sequence-length curriculum stages: training ramps context length
    * through stages (cap 128 → 512 → 2048); at each stage every doc
    * contributes min(len, cap) trainable tokens and docs beyond the cap
    * are truncated. The readout — token coverage and truncation count
    * per stage — is the schedule-design number: when coverage at a cap
    * crosses ~99%, ramping further buys compute, not data. Complements
    * q525 (which keeps full length and thins ATTENTION; this thins
    * LENGTH and keeps attention dense).
    *
    * Scale shape: a 3-row cap grid broadcast onto per-doc arithmetic,
    * folded per cap. */
  private val q535 = QueryDef(
    "q535_seqlen_curriculum_stages",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(128L, 512L, 2048L).toDF("cap")
      Tables.documents(spark, dir)
        .select(graft.functions.expressions.token_count(col("text")).cast("long")
          .as("len"))
        .filter(col("len") >= 1L)
        .crossJoin(broadcast(grid))
        .groupBy(col("cap"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("len") > col("cap"), 1L).otherwise(0L)).as("truncated_docs"),
          sum(expr("least(len, cap)")).as("trainable_tokens"),
          sum(col("len")).as("total_tokens"))
        .select(col("cap"), col("n_docs"), col("truncated_docs"),
          col("trainable_tokens"), col("total_tokens"),
          expr("trainable_tokens * 1000000 div total_tokens").as("coverage_ppm"))
        .orderBy(col("cap"))
    },
    Some(s"""
      WITH grid(cap) AS (VALUES (CAST(128 AS BIGINT)), (CAST(512 AS BIGINT)),
        (CAST(2048 AS BIGINT))),
      d AS (SELECT CAST($duckTokenCount AS BIGINT) AS len FROM documents),
      f AS (SELECT * FROM d WHERE len >= 1)
      SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN len > cap THEN 1 ELSE 0 END) AS BIGINT)
          AS truncated_docs,
        CAST(sum(least(len, cap)) AS BIGINT) AS trainable_tokens,
        CAST(sum(len) AS BIGINT) AS total_tokens,
        CAST(sum(least(len, cap)) * 1000000 // sum(len) AS BIGINT)
          AS coverage_ppm
      FROM f CROSS JOIN grid GROUP BY cap ORDER BY cap
    """))

  def defs: Seq[QueryDef] =
    Seq(q523, q524, q525, q526, q527, q528, q529, q530,
      q531, q532, q533, q534, q535)
}
