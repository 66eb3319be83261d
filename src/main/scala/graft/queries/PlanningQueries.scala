package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.epochS
import graft.operators.Sampling
import graft.queries.SqlMacros._

/** Round-4 pipeline-operations planning: weighted reservoir sampling,
  * small-file compaction planning, train/test split leakage auditing,
  * and trailing-window volume anomaly detection — the jobs that keep a
  * 100 TB ingest healthy rather than compute model features.
  */
object PlanningQueries extends QueryGroup {

  /** Deterministic weighted sampling without replacement (priority
    * sampling): priority = w·2^32 DIV (h(key)+1) makes a row's selection
    * odds proportional to its weight w (here n_chars — a token-budget
    * proxy), and the top-200 priorities form the sample. No rand(): the
    * same sample at any parallelism, scale factor, or engine.
    *
    * Scale shape: the priority is a narrow arithmetic column; top-k is
    * TakeOrderedAndProject (bounded per-partition heaps + one driver
    * merge of k·partitions rows) — no global sort ever materializes. */
  private val q125 = QueryDef(
    "q125_weighted_sampling",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          (Sampling.keyHash(col("doc_id")) + lit(1L)).as("h1"))
        .select(col("doc_id"), col("n_chars"),
          expr("(n_chars * 4294967296L) div h1").as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(200)
    },
    Some("""
      WITH p AS (
        SELECT doc_id, n_chars,
          (n_chars * 4294967296)
            // (((doc_id % 2147483648) * 2654435761) % 4294967296 + 1) AS priority
        FROM documents)
      SELECT doc_id, n_chars, priority FROM p
      ORDER BY priority DESC, doc_id LIMIT 200
    """))

  /** Small-file compaction planning — the table-maintenance job every
    * large lake runs: per source, how many target-size output files its
    * documents need and how many docs land per file. The 16 KiB target
    * stands in for the 64–512 MiB production value (same integer plan
    * math, test-scale-visible file counts).
    *
    * Scale shape: one aggregate over the corpus; the plan itself is
    * source-count-sized. max_doc_chars flags rows that can never pack
    * (a doc bigger than the target forces a single-doc file). */
  private val q126 = QueryDef(
    "q126_compaction_plan",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_doc_chars"))
        .select(col("source"), col("n_docs"), col("total_chars"), col("max_doc_chars"),
          expr("(total_chars + 16383) div 16384").as("n_files"),
          expr("(n_docs + (total_chars + 16383) div 16384 - 1) div ((total_chars + 16383) div 16384)")
            .as("docs_per_file"),
          expr("total_chars div n_docs").as("avg_doc_chars"))
        .orderBy(col("source"))
    },
    Some("""
      WITH a AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          max(n_chars) AS max_doc_chars
        FROM documents GROUP BY source)
      SELECT source, n_docs, total_chars, max_doc_chars,
        (total_chars + 16383) // 16384 AS n_files,
        (n_docs + (total_chars + 16383) // 16384 - 1)
          // ((total_chars + 16383) // 16384) AS docs_per_file,
        total_chars // n_docs AS avg_doc_chars
      FROM a ORDER BY source
    """))

  /** Per-mode leaking-user count for the split-leakage audit. */
  private def leakCounts(ev: org.apache.spark.sql.DataFrame,
                         split: Column, mode: String) =
    ev.select(col("user_id"), split.as("side"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("side")).as("n_sides"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("n_sides") === 2, 1L).otherwise(0L)).as("n_leaking_users"))
      .select(lit(mode).as("mode"), col("n_users"), col("n_leaking_users"))

  /** Train/test split leakage audit: under a ROW-hash split (by
    * event_id) a user's events land on both sides — evaluation sees the
    * training distribution of that user (leakage); under a GROUP-hash
    * split (by user_id, `Sampling.splitColumn`'s contract) leakage is
    * structurally zero. The audit counts users spanning both sides in
    * each mode — the check a training pipeline runs before trusting its
    * eval numbers.
    *
    * Scale shape: both splits are narrow hash arithmetic on the scan;
    * the audit is one user-keyed aggregate per mode and a two-row
    * union. */
  private val q128 = QueryDef(
    "q128_split_leakage_audit",
    (spark, dir) => {
      val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
      leakCounts(ev, Sampling.splitColumn(col("event_id"), 0.2), "row_hash")
        .unionAll(leakCounts(ev, Sampling.splitColumn(col("user_id"), 0.2), "group_hash"))
        .orderBy(col("mode"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id,
          CASE WHEN ((event_id % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 'test' ELSE 'train' END AS row_side,
          CASE WHEN ((user_id % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 'test' ELSE 'train' END AS grp_side
        FROM events),
      r AS (
        SELECT user_id, count(DISTINCT row_side) AS n_sides
        FROM e GROUP BY user_id),
      g AS (
        SELECT user_id, count(DISTINCT grp_side) AS n_sides
        FROM e GROUP BY user_id)
      SELECT 'group_hash' AS mode, count(*) AS n_users,
        CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_users
      FROM g
      UNION ALL
      SELECT 'row_hash' AS mode, count(*) AS n_users,
        CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_users
      FROM r
      ORDER BY mode
    """))

  /** Trailing-window volume anomaly detection over daily event counts:
    * a day is anomalous when it departs its OWN trailing 7-day baseline
    * by more than 2σ — evaluated sqrt-free in exact integers as
    * (7x − S)² > 4·(7Q − S²) (both sides are 49·the usual quantities).
    * The ingest-monitoring alarm a pipeline fires before a bad day
    * contaminates training data. Days without a full 7-day history
    * emit no verdict.
    *
    * Scale shape: the corpus collapses to one row per day before any
    * window; the trailing window runs over the calendar (bounded), and
    * the squared sums are decimal(38,0) so 7Q can't wrap at 10^10
    * events/day. */
  private val q130 = QueryDef(
    "q130_volume_anomaly",
    (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(epochS(col("ts")).as("ts_s"))
        .select(expr("ts_s div 86400").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
      val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .select(col("day"), col("n_events"),
          sum(col("n_events")).over(w).as("s7"),
          sum(expr("CAST(n_events AS DECIMAL(38,0)) * n_events")).over(w).as("q7"),
          count(col("n_events")).over(w).as("n7"))
        .filter(col("n7") === 7)
        .select(col("day"), col("n_events"), col("s7").as("trailing_sum"),
          expr("""CASE WHEN CAST(7 * n_events - s7 AS DECIMAL(38,0)) * (7 * n_events - s7)
                       > 4 * (7 * q7 - CAST(s7 AS DECIMAL(38,0)) * s7)
                  THEN 1L ELSE 0L END""").as("is_anomaly"))
        .orderBy(col("day"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(epoch_ms(ts) // 1000 AS BIGINT) // 86400 AS day FROM events),
      d AS (SELECT day, count(*) AS n_events FROM e GROUP BY day),
      f AS (SELECT day, n_events,
          sum(n_events) OVER w AS s7,
          sum(CAST(n_events AS HUGEINT) * n_events) OVER w AS q7,
          count(n_events) OVER w AS n7
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT day, n_events, CAST(s7 AS BIGINT) AS trailing_sum,
        CASE WHEN CAST(7 * n_events - s7 AS HUGEINT) * (7 * n_events - s7)
                  > 4 * (7 * q7 - CAST(s7 AS HUGEINT) * s7)
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_anomaly
      FROM f WHERE n7 = 7 ORDER BY day
    """))

  /** Join-blowup audit — the pre-flight check before a self-join or a
    * fact↔fact join on a hot key: per-key row counts and their squared
    * contribution to the join's output cardinality, plus each key's
    * share of the total blowup in ppm. The top key's share is exactly
    * what decides between a plain shuffle join, q33's salting, or a
    * q57-style bloom pre-filter.
    *
    * Scale shape: one keyed count (map-side combined), a one-row
    * broadcast total, and a top-20 TakeOrderedAndProject — the audit
    * never runs the join it is sizing. */
  private val q133 = QueryDef(
    "q133_join_blowup_audit",
    (spark, dir) => {
      val counts = Tables.events(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .select(col("user_id"), col("c"),
          expr("CAST(c AS DECIMAL(38,0)) * c").as("c2"))
      val tot = counts.agg(sum(col("c2")).as("total_pairs"))
      counts.crossJoin(broadcast(tot))
        .select(col("user_id"), col("c"),
          col("c2").cast("long").as("self_join_rows"),
          expr("CAST(c2 * 1000000 DIV total_pairs AS BIGINT)").as("blowup_share_ppm"))
        .orderBy(col("self_join_rows").desc, col("user_id"))
        .limit(20)
    },
    Some("""
      WITH k AS (
        SELECT user_id, count(*) AS c, CAST(count(*) AS HUGEINT) * count(*) AS c2
        FROM events GROUP BY user_id),
      t AS (SELECT sum(c2) AS total_pairs FROM k)
      SELECT user_id, c, CAST(c2 AS BIGINT) AS self_join_rows,
        CAST(c2 * 1000000 // total_pairs AS BIGINT) AS blowup_share_ppm
      FROM k CROSS JOIN t
      ORDER BY self_join_rows DESC, user_id LIMIT 20
    """))

  /** Duplicate-cluster size histogram — the dedup-monitoring readout:
    * how many exact-duplicate clusters exist at each size, how many
    * docs they hold, and what fraction of the corpus deleting all but
    * one survivor per cluster would remove (ppm). The shape of this
    * histogram is what tunes MinHash banding and bucket caps upstream.
    *
    * Scale shape: digest-keyed count (the body never shuffles — md5
    * happens on the scan), then a histogram over cluster SIZES (bounded
    * by the largest cluster, not the corpus); totals broadcast. */
  private val q135 = QueryDef(
    "q135_dup_size_histogram",
    (spark, dir) => {
      val clusters = Tables.documents(spark, dir)
        .select(md5(col("text")).as("digest"))
        .groupBy(col("digest")).agg(count(lit(1)).as("sz"))
      val hist = clusters.groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz"), col("n_clusters"), (col("sz") * col("n_clusters")).as("n_docs"),
          ((col("sz") - 1) * col("n_clusters")).as("n_removable"))
      val tot = hist.agg(sum(col("n_docs")).as("n_total"))
      hist.crossJoin(broadcast(tot))
        .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"),
          expr("n_removable * 1000000L div n_total").as("removable_ppm"))
        .orderBy(col("cluster_size"))
    },
    Some("""
      WITH c AS (
        SELECT md5(text) AS digest, count(*) AS sz
        FROM documents GROUP BY md5(text)),
      h AS (
        SELECT sz, count(*) AS n_clusters, sz * count(*) AS n_docs,
          (sz - 1) * count(*) AS n_removable
        FROM c GROUP BY sz),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM h)
      SELECT sz AS cluster_size, n_clusters, n_docs,
        n_removable * 1000000 // n_total AS removable_ppm
      FROM h CROSS JOIN t
      ORDER BY cluster_size
    """))

  /** Temperature-based mixture allocation (τ = 0.5): per-source token
    * budget shares ∝ √(n_tokens) — the multilingual-corpus sampling
    * formula that upweights small sources without letting giants drown
    * them. The integer square root floor(sqrt(x)) is exact across
    * engines while x < ~2^50 (IEEE sqrt is correctly rounded and the
    * true root is farther than half an ulp from the next integer), far
    * above any per-source token count; everything else is integer ppm.
    *
    * Scale shape: one corpus scan → per-source token totals (source-
    * count rows); the weight total is a one-row broadcast. */
  private val q136 = QueryDef(
    "q136_temperature_allocation",
    (spark, dir) => {
      val src = Tables.documents(spark, dir)
        .select(col("source"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)").as("w"))
      val tot = src.agg(sum(col("n_tokens")).as("t"), sum(col("w")).as("sw"))
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          expr("n_tokens * 1000000L div t").as("natural_ppm"),
          expr("w * 1000000L div sw").as("temp_alloc_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH s AS (
        SELECT source,
          CAST(sum(len($duckTokens)) AS BIGINT)
            AS n_tokens
        FROM documents GROUP BY source),
      ws AS (
        SELECT source, n_tokens,
          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
        FROM s),
      t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, CAST(sum(w) AS BIGINT) AS sw FROM ws)
      SELECT source, n_tokens,
        n_tokens * 1000000 // t.t AS natural_ppm,
        w * 1000000 // t.sw AS temp_alloc_ppm
      FROM ws CROSS JOIN t
      ORDER BY source
    """))

  /** Exact least-squares trend slope of daily event volume — the
    * ingest-drift companion to q130's anomaly gate (is volume trending,
    * not just spiking?): slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with
    * x = epoch-day, y = daily count, emitted as signed micro-units
    * (events/day per day) via one integral division — numerator and
    * denominator are exact decimal(38,0) sums, so the division is the
    * only rounding anywhere and both engines truncate toward zero.
    *
    * Scale shape: the corpus collapses to day rows; the moments are one
    * tiny aggregate; no window at all. */
  private val q141 = QueryDef(
    "q141_volume_trend_slope",
    (spark, dir) => {
      Tables.events(spark, dir)
        .select(epochS(col("ts")).as("ts_s"))
        .select(expr("ts_s div 86400").as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .select(col("n").as("n_days"), col("sy").cast("long").as("n_events"),
          expr("""CAST((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
                  DIV (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("slope_micro"))
    },
    Some("""
      WITH d AS (
        SELECT CAST(epoch_ms(ts) // 1000 AS BIGINT) // 86400 AS x, count(*) AS y
        FROM events GROUP BY 1),
      m AS (
        SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
          CAST(sum(y) AS BIGINT) AS sy,
          sum(CAST(x AS HUGEINT) * y) AS sxy,
          sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM d)
      SELECT n AS n_days, sy AS n_events,
        CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
          // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_micro
      FROM m
    """))

  /** Robust (median/MAD) outlier gate — q81's z-score with the
    * breakdown-resistant location/scale pair: a value is an outlier when
    * |x − median| > 3·1.4826·MAD, evaluated in EXACT integers as
    * |x − med|·10000 > 44478·MAD (values are whole dollars). Median and
    * MAD are both bin-granular percentiles over value-range-bounded
    * dollar histograms (median of x, then median of |x − med|) — two
    * window passes over histograms, never over orders.
    *
    * Scale shape: two histogram builds (the second keyed on the
    * deviation, derived from the first scan's histogram by arithmetic —
    * no second corpus scan), one-row broadcasts for both medians, and a
    * final summary aggregate. */
  private val q146 = QueryDef(
    "q146_robust_outliers",
    (spark, dir) => {
      def medianOf(hist: org.apache.spark.sql.DataFrame, vCol: String)
          : org.apache.spark.sql.DataFrame = {
        val w = Window.orderBy(col(vCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.select(col(vCol), sum(col("c")).over(w).as("cum"))
        val tot = hist.agg(sum(col("c")).as("n"))
        cum.crossJoin(broadcast(tot))
          .filter(expr(s"cum >= (n + 1) DIV 2"))
          .agg(min(col(vCol)).as("med"))
      }
      val vals = Tables.orders(spark, dir)
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 100").as("v"))
      val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val med = medianOf(hist, "v")
      val devHist = hist.crossJoin(broadcast(med))
        .select(abs(col("v") - col("med")).as("d"), col("c"))
        .groupBy(col("d")).agg(sum(col("c")).as("c"))
      val mad = medianOf(devHist, "d").withColumnRenamed("med", "mad")
      vals.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
        .select(col("v"), col("med"), col("mad"),
          (abs(col("v") - col("med")) * 10000 > col("mad") * 44478).as("out"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("med")).as("median_dollars"),
          max(col("mad")).as("mad_dollars"),
          sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"),
          min(when(col("out"), col("v"))).as("min_outlier_dollars"))
    },
    Some("""
      WITH vals AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS v
        FROM orders),
      h AS (SELECT v, count(*) AS c FROM vals GROUP BY v),
      medt AS (
        SELECT min(v) AS med FROM (
          SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM h)
        CROSS JOIN (SELECT sum(c) AS n FROM h)
        WHERE cum >= (n + 1) // 2),
      dh AS (
        SELECT abs(v - med) AS d, sum(c) AS c
        FROM h CROSS JOIN medt GROUP BY 1),
      madt AS (
        SELECT min(d) AS mad FROM (
          SELECT d, sum(c) OVER (ORDER BY d) AS cum FROM dh)
        CROSS JOIN (SELECT sum(c) AS n FROM dh)
        WHERE cum >= (n + 1) // 2),
      f AS (
        SELECT v, med, mad, abs(v - med) * 10000 > mad * 44478 AS out
        FROM vals CROSS JOIN medt CROSS JOIN madt)
      SELECT count(*) AS n_orders,
        max(med) AS median_dollars,
        max(mad) AS mad_dollars,
        CAST(sum(CASE WHEN out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        min(CASE WHEN out THEN v END) AS min_outlier_dollars
      FROM f
    """))

  /** One-scan table profile of `orders` — per column: row count, null
    * count, exact distinct count, and canonical min/max — the statistics
    * a cost-based optimizer (join reorder, broadcast thresholds) and a
    * data-quality gate both feed on. Values are canonicalized before
    * profiling (money → integer cents, timestamps → epoch seconds) so
    * the reprs are engine-portable strings.
    *
    * Scale shape: ONE scan of the fact table; the multi-column exact
    * NDVs plan as a single Expand (×6 of a narrow projection) feeding
    * one partial+final aggregate — no per-column jobs, no second scan.
    * At petabyte row counts production would swap countDistinct for
    * approx_count_distinct per column (same single-Expand plan, sketch
    * partials instead of exact sets); the exact form is what the oracle
    * can hash. The 6×4-field single row unpivots via stack into the
    * 6-row profile — driver-sized from the first shuffle on. */
  private val q171 = {
    val profiled = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "price_cents", "date_s", "o_orderpriority")
    QueryDef(
      "q171_column_profile",
      (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          graft.functions.Deterministic.cents(col("o_totalprice")).as("price_cents"),
          epochS(col("o_orderdate")).as("date_s"),
          col("o_orderpriority"))
        // one branch per column, NOT one agg with 6 countDistincts: the
        // multi-distinct form plans an Expand that multiplies every row
        // 6× before the shuffle; per-column branches each scan exactly
        // one pruned parquet column and shuffle only its distinct values
        profiled.map { c =>
            o.select(col(c)).agg(
              count(lit(1)).as("n_rows"),
              (count(lit(1)) - count(col(c))).as("n_nulls"),
              countDistinct(col(c)).as("ndv"),
              min(col(c)).cast("string").as("min_repr"),
              max(col(c)).cast("string").as("max_repr"))
              .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
                col("ndv"), col("min_repr"), col("max_repr"))
          }
          .reduce(_.unionAll(_))
          .orderBy(col("column_name"))
      },
      Some {
        val per = Seq(
          ("o_orderkey", "o_orderkey"), ("o_custkey", "o_custkey"),
          ("o_orderstatus", "o_orderstatus"),
          ("price_cents", "price_cents"), ("date_s", "date_s"),
          ("o_orderpriority", "o_orderpriority")).map { case (name, c) =>
          s"""SELECT '$name' AS column_name,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
            CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
            CAST(min($c) AS VARCHAR) AS min_repr,
            CAST(max($c) AS VARCHAR) AS max_repr
          FROM o"""
        }
        s"""
        WITH o AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
            CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
            CAST(epoch_ms(o_orderdate) // 1000 AS BIGINT) AS date_s,
            o_orderpriority
          FROM orders)
        ${per.mkString(" UNION ALL ")}
        ORDER BY column_name
        """
      })
  }

  /** Recency half-life weighting: each order's revenue decays by 2^-a
    * where a = age in 180-day half-lives from the corpus's newest order
    * — the freshness bias a training-data budget applies so stale data
    * stops dominating the mixture. Per priority class: order count,
    * effective (decayed) revenue cents, and its share of the total in
    * exact ppm. Powers of two keep the decay exact integer arithmetic
    * (weight_ppm = 10⁶ >> a, zero past 20 half-lives where the ppm
    * grid underflows) — no doubles anywhere.
    *
    * Scale shape: the reference day is a broadcast one-row aggregate
    * cross-joined onto the scan (no driver action); weighting is narrow
    * arithmetic; one 5-row aggregate + a 5-row window for shares.
    * Weighted products accumulate in decimal(38,0) (cents × ppm ≈ 10^13
    * per row wraps a 64-bit sum at ~10^6 rows), de-scaled to effective
    * cents only after the fold. */
  private val q175 = QueryDef(
    "q175_recency_weights",
    (spark, dir) => {
      val o = Tables.orders(spark, dir).select(
        col("o_orderpriority"),
        graft.functions.Deterministic.cents(col("o_totalprice")).as("vc"),
        (epochS(col("o_orderdate")) / 86400).cast("long").as("day"))
      val ref = o.agg(max(col("day")).as("ref_day"))
      val all = Window.partitionBy()
      o.crossJoin(broadcast(ref))
        .select(col("o_orderpriority"), col("vc"),
          expr("(ref_day - day) div 180").as("hl"))
        .select(col("o_orderpriority"), col("vc"),
          when(col("hl") >= 20, lit(0L))
            .otherwise(expr("1000000 div shiftleft(CAST(1 AS BIGINT), CAST(hl AS INT))"))
            .as("w_ppm"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(vc AS DECIMAL(38,0)) * w_ppm")).as("wsum"))
        .select(col("o_orderpriority"), col("n_orders"), col("wsum"),
          sum(col("wsum")).over(all).as("sum_w"))
        .select(col("o_orderpriority"), col("n_orders"),
          expr("CAST(wsum div 1000000 AS BIGINT)").as("eff_cents"),
          expr("CAST(wsum * 1000000 div sum_w AS BIGINT)").as("share_ppm"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderpriority,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day
        FROM orders),
      r AS (SELECT max(day) AS ref_day FROM o),
      w AS (
        SELECT o_orderpriority, vc,
          CASE WHEN (ref_day - day) // 180 >= 20 THEN 0
               ELSE 1000000 // (CAST(1 AS BIGINT) << ((ref_day - day) // 180))
          END AS w_ppm
        FROM o CROSS JOIN r),
      g AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
          sum(CAST(vc AS HUGEINT) * w_ppm) AS wsum
        FROM w GROUP BY 1)
      SELECT o_orderpriority, n_orders,
        CAST(wsum // 1000000 AS BIGINT) AS eff_cents,
        CAST(wsum * 1000000 // sum(wsum) OVER () AS BIGINT) AS share_ppm
      FROM g ORDER BY o_orderpriority
    """))

  /** Token-WEIGHTED length percentiles: per source, the 64-char doc-
    * length bin below which 50% / 90% of the corpus TOKENS (not docs)
    * live — the statistic that sizes packing buffers and truncation
    * cutoffs, where q36's unweighted percentiles would be skewed by
    * swarms of short docs carrying almost no token mass.
    *
    * Determinism: bin-granular cumulative weights with integer cross-
    * multiplied thresholds (2·cum ≥ tot, 10·cum ≥ 9·tot) — no division,
    * no interpolation, so the picked bins are exact in both engines.
    *
    * Scale shape: one scan emits (source, bin, tokens); the cumulative
    * window runs over the value-bounded length histogram (≤ a few
    * hundred bins per source), never the raw table. */
  private val q195 = QueryDef(
    "q195_weighted_percentiles",
    (spark, dir) => {
      val h = Tables.documents(spark, dir)
        .select(col("source"),
          expr("CAST(length(text) AS BIGINT) div 64").as("bin"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("w"))
        .groupBy(col("source"), col("bin")).agg(sum(col("w")).as("w"))
      val wC = Window.partitionBy(col("source")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wA = Window.partitionBy(col("source"))
      h.withColumn("cum", sum(col("w")).over(wC))
        .withColumn("tot", sum(col("w")).over(wA))
        .groupBy(col("source"))
        .agg(max(col("tot")).as("total_tokens"),
          min(when(col("cum") * 2 >= col("tot"), col("bin"))).as("p50_bin"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("bin"))).as("p90_bin"))
        .select(col("source"), col("total_tokens"),
          (col("p50_bin") * 64).as("p50_len_lo"), (col("p90_bin") * 64).as("p90_len_lo"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH h AS (
        SELECT source, CAST(len(text) AS BIGINT) // 64 AS bin,
          CAST(sum(len($duckTokens))
            AS BIGINT) AS w
        FROM documents GROUP BY 1, 2),
      c AS (
        SELECT source, bin, w,
          CAST(sum(w) OVER (PARTITION BY source ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot
        FROM h)
      SELECT source, max(tot) AS total_tokens,
        min(CASE WHEN cum * 2 >= tot THEN bin END) * 64 AS p50_len_lo,
        min(CASE WHEN cum * 10 >= tot * 9 THEN bin END) * 64 AS p90_len_lo
      FROM c GROUP BY source ORDER BY source
    """))

  /** One-step-ahead forecast backtest — naive (yesterday) vs
    * seasonal-naive (same weekday last week) over the zero-filled 1995
    * daily revenue series, scored by MAE in exact integer cents. The
    * model-selection primitive behind capacity planning: before fitting
    * anything fancier, know which trivial baseline the series already
    * beats. Zero-fill (not interpolation — q199) is the right prep here
    * because a missing day IS zero demand for forecasting purposes.
    *
    * Scale shape: one date-pruned grouped aggregation; the lag windows
    * and the scoring rollup run on the 5×365-row spine, keyed by
    * priority throughout — nothing global, nothing row-scale. */
  private val q201 = QueryDef(
    "q201_forecast_backtest",
    (spark, dir) => {
      val w = Window.partitionBy(col("pri")).orderBy(col("day"))
      IntervalQueries.dailyOnSpine(spark, dir)
        .withColumn("v", coalesce(col("vc"), lit(0L)))
        .withColumn("f1", lag(col("v"), 1).over(w))
        .withColumn("f7", lag(col("v"), 7).over(w))
        .filter(col("day") >= 9138L)
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("v") - col("f1"))).as("sae1"),
          sum(abs(col("v") - col("f7"))).as("sae7"))
        .select(col("pri"), col("n_days"),
          expr("sae1 div n_days").as("mae_naive_cents"),
          expr("sae7 div n_days").as("mae_seasonal_cents"),
          when(col("sae7") < col("sae1"), "seasonal")
            .when(col("sae1") < col("sae7"), "naive")
            .otherwise("tie").as("winner"))
        .orderBy(col("pri"))
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority AS pri,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS vc
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      spine AS (
        SELECT pri, CAST(d AS BIGINT) AS day
        FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders),
          LATERAL (SELECT unnest(range(9131, 9496)) AS d) x),
      s AS (
        SELECT s.pri, s.day, coalesce(daily.vc, 0) AS v,
          lag(coalesce(daily.vc, 0), 1) OVER w AS f1,
          lag(coalesce(daily.vc, 0), 7) OVER w AS f7
        FROM spine s LEFT JOIN daily ON s.pri = daily.pri AND s.day = daily.day
        WINDOW w AS (PARTITION BY s.pri ORDER BY s.day)),
      g AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(abs(v - f1)) AS BIGINT) AS sae1,
          CAST(sum(abs(v - f7)) AS BIGINT) AS sae7
        FROM s WHERE day >= 9138 GROUP BY pri)
      SELECT pri, n_days,
        CAST(sae1 // n_days AS BIGINT) AS mae_naive_cents,
        CAST(sae7 // n_days AS BIGINT) AS mae_seasonal_cents,
        CASE WHEN sae7 < sae1 THEN 'seasonal'
             WHEN sae1 < sae7 THEN 'naive' ELSE 'tie' END AS winner
      FROM g ORDER BY pri
    """))

  /** ABC–XYZ inventory classification over 1995 part demand: ABC from
    * cumulative revenue share (A = parts covering the first 80 % of
    * revenue, B to 95 %, C the tail), XYZ from demand variability
    * (coefficient of variation of the 12 monthly quantities — months
    * with no sales count as zero demand, which the moment algebra gets
    * for free since zero months add nothing to ΣQ or ΣQ²; with n pinned
    * at 12 no calendar spine is ever built). CV thresholds compare cv²
    * (≤0.25 → X, ≤1 → Y, else Z) so no square root enters the plan.
    * The nine-cell census is the classic stocking-policy screen: AX =
    * automate, CZ = forget.
    *
    * Scale shape: one date-pruned scan → per-(part, month) quantities →
    * per-part moments; the cumulative-share window runs over the part
    * aggregate only (dimension-sized, ~lineitem/7500 — at the 100 TB
    * design point that global sort is the one stage worth
    * range-partitioning, and the note here is the reminder). Products
    * S² and 12·ΣQ² run in decimal(38,0): monthly quantities near 10^9
    * push S² past 2^63 long before the census misbehaves. */
  private val q207 = QueryDef(
    "q207_abc_xyz_classes",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val perMonth = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
        .select(col("l_partkey").as("part"), month(col("l_shipdate")).as("m"),
          cents(col("l_extendedprice")).as("c"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("q"))
        .groupBy(col("part"), col("m"))
        .agg(sum(col("c")).as("cm"), sum(col("q")).as("qm"))
      val perPart = perMonth.groupBy(col("part"))
        .agg(sum(col("cm")).as("rev"), sum(col("qm")).as("s"),
          sum(col("qm") * col("qm")).as("qq"))
      perPart
        .withColumn("cum_ppm", expr(
          "CAST(CAST(sum(rev) OVER (ORDER BY rev DESC, part " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) " +
            "* 1000000 DIV sum(rev) OVER () AS BIGINT)"))
        .withColumn("cv2_ppm", expr(
          "CAST((CAST(12 AS DECIMAL(38,0)) * qq - CAST(s AS DECIMAL(38,0)) * s) " +
            "* 1000000 DIV (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)"))
        .select(
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C").as("abc"),
          when(col("cv2_ppm") <= 250000L, "X")
            .when(col("cv2_ppm") <= 1000000L, "Y").otherwise("Z").as("xyz"),
          col("rev"))
        .groupBy(col("abc"), col("xyz"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
        .orderBy(col("abc"), col("xyz"))
    },
    Some("""
      WITH pm AS (
        SELECT l_partkey AS part, CAST(month(l_shipdate) AS BIGINT) AS m,
          CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS cm,
          CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qm
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
      pp AS (
        SELECT part, CAST(sum(cm) AS BIGINT) AS rev, CAST(sum(qm) AS BIGINT) AS s,
          CAST(sum(qm * qm) AS BIGINT) AS qq
        FROM pm GROUP BY part),
      cl AS (
        SELECT rev,
          CAST(CAST(sum(rev) OVER (ORDER BY rev DESC, part
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
            * 1000000 // sum(rev) OVER () AS BIGINT) AS cum_ppm,
          CAST((12 * CAST(qq AS HUGEINT) - CAST(s AS HUGEINT) * s)
            * 1000000 // (CAST(s AS HUGEINT) * s) AS BIGINT) AS cv2_ppm
        FROM pp),
      lab AS (
        SELECT rev,
          CASE WHEN cum_ppm <= 800000 THEN 'A'
               WHEN cum_ppm <= 950000 THEN 'B' ELSE 'C' END AS abc,
          CASE WHEN cv2_ppm <= 250000 THEN 'X'
               WHEN cv2_ppm <= 1000000 THEN 'Y' ELSE 'Z' END AS xyz
        FROM cl)
      SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
        CAST(sum(rev) AS BIGINT) AS revenue_cents
      FROM lab GROUP BY abc, xyz ORDER BY abc, xyz
    """))

  /** Price–volume growth bridge: each brand's 1995→1996 revenue growth
    * decomposed into the volume effect (quantity growth at constant
    * revenue-per-unit) and the price/mix residual — the waterfall chart
    * behind every "why did revenue move" review. All three terms are
    * exact ppm via integer cross-ratios; the residual is defined as
    * growth − volume so the bridge closes by construction (no
    * interaction term leaks).
    *
    * Scale shape: one date-pruned lineitem scan with a broadcast part
    * lookup → a brand-sized conditional aggregate; the ppm ratios run on
    * the ~25-row result. Numerators in decimal(38,0): Δcents·10^6 clears
    * 2^63 at the 100 TB design point. */
  private val q211 = QueryDef(
    "q211_growth_bridge",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1997-01-01")
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          (col("l_shipdate") < "1996-01-01").as("base"),
          cents(col("l_extendedprice")).as("c"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("q"))
        .groupBy(col("brand"))
        .agg(
          sum(when(col("base"), col("c")).otherwise(0L)).as("rev_base"),
          sum(when(col("base"), col("q")).otherwise(0L)).as("qty_base"),
          sum(when(!col("base"), col("c")).otherwise(0L)).as("rev_next"),
          sum(when(!col("base"), col("q")).otherwise(0L)).as("qty_next"))
        .filter(col("rev_base") > 0L && col("qty_base") > 0L)
        .withColumn("growth_ppm", expr(
          "CAST(CAST(rev_next - rev_base AS DECIMAL(38,0)) * 1000000 DIV rev_base AS BIGINT)"))
        .withColumn("volume_ppm", expr(
          "CAST(CAST(qty_next - qty_base AS DECIMAL(38,0)) * 1000000 DIV qty_base AS BIGINT)"))
        .withColumn("price_mix_ppm", col("growth_ppm") - col("volume_ppm"))
        .select(col("brand"), col("rev_base"), col("rev_next"), col("growth_ppm"),
          col("volume_ppm"), col("price_mix_ppm"))
        .orderBy(col("brand"))
    },
    Some("""
      WITH li AS (
        SELECT p_brand AS brand, l_shipdate < TIMESTAMP '1996-01-01' AS base,
          CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS c,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      g AS (
        SELECT brand,
          CAST(sum(CASE WHEN base THEN c ELSE 0 END) AS BIGINT) AS rev_base,
          CAST(sum(CASE WHEN base THEN q ELSE 0 END) AS BIGINT) AS qty_base,
          CAST(sum(CASE WHEN NOT base THEN c ELSE 0 END) AS BIGINT) AS rev_next,
          CAST(sum(CASE WHEN NOT base THEN q ELSE 0 END) AS BIGINT) AS qty_next
        FROM li GROUP BY brand),
      b AS (
        SELECT brand, rev_base, rev_next,
          CAST(CAST(rev_next - rev_base AS HUGEINT) * 1000000 // rev_base AS BIGINT) AS growth_ppm,
          CAST(CAST(qty_next - qty_base AS HUGEINT) * 1000000 // qty_base AS BIGINT) AS volume_ppm
        FROM g WHERE rev_base > 0 AND qty_base > 0)
      SELECT brand, rev_base, rev_next, growth_ppm, volume_ppm,
        growth_ppm - volume_ppm AS price_mix_ppm
      FROM b ORDER BY brand
    """))

  /** Largest-remainder apportionment: 1 000 sampling slots split across
    * sources proportionally to token mass — floor quotas first, then the
    * leftover seats go to the largest fractional remainders (ties by
    * source name). The Hamilton method electoral systems use, and the
    * exact-integer way to turn mixture weights (q136's ppm shares) into
    * whole sample counts that provably sum to the budget — no
    * float rounding drift, no over/under-allocation.
    *
    * Scale shape: corpus collapses to one row per source, every window
    * runs on that source-sized table. Quota products in decimal(38,0):
    * token-mass·1000 clears 2^63 at the 100 TB design point. */
  private val q213 = QueryDef(
    "q213_seat_apportionment",
    (spark, dir) => {
      val everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(spark, dir)
        .select(col("source"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("tc"))
        .groupBy(col("source")).agg(sum(col("tc")).as("n_tokens"))
        .withColumn("total", sum(col("n_tokens")).over(everything))
        .withColumn("base_seats", expr(
          "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000 DIV total AS BIGINT)"))
        .withColumn("rem", expr(
          "CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000 % total AS BIGINT)"))
        .withColumn("deficit", lit(1000L) - sum(col("base_seats")).over(everything))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))).cast("long"))
        .withColumn("extra", when(col("rk") <= col("deficit"), 1L).otherwise(0L))
        .select(col("source"), col("n_tokens"), col("base_seats"), col("extra"),
          (col("base_seats") + col("extra")).as("seats"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH s AS (
        SELECT source,
          CAST(sum(len($duckTokens)) AS BIGINT)
            AS n_tokens
        FROM documents GROUP BY source),
      q AS (
        SELECT source, n_tokens,
          CAST(CAST(n_tokens AS HUGEINT) * 1000 // sum(n_tokens) OVER () AS BIGINT)
            AS base_seats,
          CAST(CAST(n_tokens AS HUGEINT) * 1000 % sum(n_tokens) OVER () AS BIGINT)
            AS rem
        FROM s),
      r AS (
        SELECT source, n_tokens, base_seats,
          1000 - sum(base_seats) OVER () AS deficit,
          row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM q)
      SELECT source, n_tokens, base_seats,
        CAST(CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS extra,
        CAST(base_seats + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS seats
      FROM r ORDER BY source
    """))

  /** Session-timeout census — the table that picks a sessionization gap
    * (the reference hardcodes 30 min; this derives it from data). Every
    * consecutive same-user gap lands in a log₂ bucket (bit-length of
    * seconds, the q215 portable-log₂ trick); reading cum_ppm top-down
    * IS the timeout decision: the bucket where the cumulative share
    * plateaus separates intra-session rhythm from between-session
    * returns. Complements q76 (per-user gap moments) with the global
    * distribution the timeout constant actually comes from.
    *
    * Scale shape: one keyed window (user, time order) — the same
    * shuffle any sessionization pays — then a ≤64-bucket hash agg. The
    * cumulative window runs over buckets, never events. */
  private val q228 = QueryDef(
    "q228_session_timeout_census",
    (spark, dir) => {
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("s"))
        .withColumn("gap", col("s") - lag(col("s"), 1).over(byTime))
        .filter(col("gap").isNotNull)
        .select((length(bin(col("gap") + 1)) - 1).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_gaps"))
        .withColumn("cum_ppm", expr(
          "CAST(CAST(sum(n_gaps) OVER (ORDER BY bucket" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0))" +
            " * 1000000 DIV sum(n_gaps) OVER () AS BIGINT)"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s
        FROM events),
      g AS (
        SELECT s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS gap
        FROM e),
      b AS (
        SELECT CAST(length(bin(gap + 1)) - 1 AS BIGINT) AS bucket
        FROM g WHERE gap IS NOT NULL),
      c AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_gaps FROM b GROUP BY bucket)
      SELECT bucket, n_gaps,
        CAST(CAST(sum(n_gaps) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
          * 1000000 // sum(n_gaps) OVER () AS BIGINT) AS cum_ppm
      FROM c ORDER BY bucket
    """))

  /** Bloom-filter sizing plan per source — the m = −n·ln p /(ln 2)²
    * formula (Bloom 1970) at 1% FPR, evaluated in exact integer ppm
    * arithmetic (9.585059 bits/key → the 9585059 micro-bits constant)
    * over the EXACT distinct-key count, with k = 7 hashes
    * (⌈m/n·ln 2⌉). Feeds BloomJoin provisioning: how many bits each
    * source's pre-filter needs before a 100 TB anti-join.
    *
    * Scale shape: distinct counting groups 16-byte digests, never
    * text; everything after is a per-source scalar row. */
  private val q229 = QueryDef(
    "q229_bloom_size_plan",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"), md5(col("text")).as("digest"))
        .groupBy(col("source"))
        .agg(countDistinct(col("digest")).as("n_keys"))
        .select(col("source"), col("n_keys"),
          expr("CAST((CAST(n_keys AS DECIMAL(38,0)) * 9585059 + 999999) DIV 1000000 AS BIGINT)")
            .as("bloom_bits"))
        .withColumn("bloom_bytes", expr("(bloom_bits + 7) DIV 8"))
        .withColumn("n_hashes", lit(7L))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_keys
        FROM documents GROUP BY source),
      b AS (
        SELECT source, n_keys,
          CAST((CAST(n_keys AS HUGEINT) * 9585059 + 999999) // 1000000 AS BIGINT)
            AS bloom_bits
        FROM d)
      SELECT source, n_keys, bloom_bits,
        (bloom_bits + 7) // 8 AS bloom_bytes,
        CAST(7 AS BIGINT) AS n_hashes
      FROM b ORDER BY source
    """))

  /** Cross-source boilerplate leakage: near-dup clusters keyed by a
    * shared 64-char prefix (the q177 boilerplate signal — this corpus,
    * like most crawls, has no byte-exact dups but plenty of shared
    * openings), histogrammed by how many SOURCES each cluster spans.
    * Span 1 = within-source templates (per-source dedup catches them);
    * span ≥ 2 = cross-source contamination that survives per-source
    * dedup and double-counts in any per-source statistic.
    *
    * Scale shape: prefix-digest group then span-group — two hash aggs
    * over 16-byte digests, never full text. */
  private val q230 = QueryDef(
    "q230_cross_source_dup_leakage",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(md5(substring(col("text"), 1, 64)).as("digest"), col("source"))
        .groupBy(col("digest"))
        .agg(count(lit(1)).as("c"), countDistinct(col("source")).as("span"))
        .filter(col("c") > 1)
        .groupBy(col("span"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("c")).as("n_docs"))
        .orderBy(col("span"))
    },
    Some("""
      WITH g AS (
        SELECT md5(substr(text, 1, 64)) AS digest, CAST(count(*) AS BIGINT) AS c,
          CAST(count(DISTINCT source) AS BIGINT) AS span
        FROM documents GROUP BY 1),
      f AS (SELECT * FROM g WHERE c > 1)
      SELECT span, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(c) AS BIGINT) AS n_docs
      FROM f GROUP BY span ORDER BY span
    """))

  /** Temporal split leakage: carve the order history into
    * train / val / test by day terciles (the time-based split every
    * behavioral model needs — q45's hash split would leak future into
    * past) and census which customers appear in which split
    * COMBINATION. Any customer in more than one split is cross-split
    * signal leakage for user-level models; the combo census prices it
    * exactly.
    *
    * Scale shape: the day terciles come from one min/max scalar
    * aggregate broadcast back (q64's threshold pattern — no driver
    * action); then one customer-keyed agg with three conditional flags
    * and a ≤7-row combo rollup. */
  private val q231 = QueryDef(
    "q231_temporal_split_leakage",
    (spark, dir) => {
      val days = Tables.orders(spark, dir)
        .select((epochS(col("o_orderdate")) / 86400).cast("long").as("day"))
      val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      Tables.orders(spark, dir)
        .select(col("o_custkey").as("user_id"),
          (epochS(col("o_orderdate")) / 86400).cast("long").as("day"))
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          expr("""CASE WHEN day < lo + (hi - lo + 1) DIV 3 THEN 'train'
                       WHEN day < lo + (hi - lo + 1) * 2 DIV 3 THEN 'val'
                       ELSE 'test' END""").as("split"))
        .groupBy(col("user_id"))
        .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
          max(when(col("split") === "val", 1L).otherwise(0L)).as("in_val"),
          max(when(col("split") === "test", 1L).otherwise(0L)).as("in_test"))
        .groupBy(col("in_train"), col("in_val"), col("in_test"))
        .agg(count(lit(1)).as("n_users"))
        .select(
          concat_ws("+",
            when(col("in_train") === 1, lit("train")),
            when(col("in_val") === 1, lit("val")),
            when(col("in_test") === 1, lit("test"))).as("splits"),
          (col("in_train") + col("in_val") + col("in_test")).as("n_splits"),
          col("n_users"))
        .orderBy(col("splits"))
    },
    Some("""
      WITH d AS (
        SELECT o_custkey AS user_id,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day
        FROM orders),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
      s AS (
        SELECT user_id,
          CASE WHEN day < lo + (hi - lo + 1) // 3 THEN 'train'
               WHEN day < lo + (hi - lo + 1) * 2 // 3 THEN 'val'
               ELSE 'test' END AS split
        FROM d, b),
      u AS (
        SELECT user_id,
          max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
          max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
          max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
        FROM s GROUP BY user_id),
      c AS (
        SELECT in_train, in_val, in_test, CAST(count(*) AS BIGINT) AS n_users
        FROM u GROUP BY in_train, in_val, in_test)
      SELECT concat_ws('+',
          CASE WHEN in_train = 1 THEN 'train' END,
          CASE WHEN in_val = 1 THEN 'val' END,
          CASE WHEN in_test = 1 THEN 'test' END) AS splits,
        CAST(in_train + in_val + in_test AS BIGINT) AS n_splits, n_users
      FROM c ORDER BY splits
    """))

  /** Join-key skew census — the decision table for
    * `operators.Skew.saltedJoin`: for each candidate join key, how
    * unbalanced is its heaviest value? imbalance_ppm = max·n_keys·10⁶
    * / total (10⁶ = perfectly uniform), and the salt factor that would
    * flatten the heaviest key back under 4× the mean,
    * ⌈max·n_keys / (4·total)⌉ — 1 means "don't salt". All integer
    * cross-multiplication against the per-key mean, never a fractional
    * mean.
    *
    * Scale shape: per candidate, one (key → count) agg collapsing
    * straight into a one-row census — three scans, three tiny
    * censuses, one union. Products run in decimal(38,0): max·n_keys
    * crosses 2^63 when both reach ~10⁹ at the 100 TB design point. */
  private val q232 = QueryDef(
    "q232_join_key_skew_census",
    (spark, dir) => {
      def census(df: org.apache.spark.sql.DataFrame, key: String, name: String) =
        df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"),
            max(col("cnt")).as("max_cnt"))
          .select(lit(name).as("key_name"), col("n_keys"), col("total"), col("max_cnt"),
            expr("CAST(CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 1000000 DIV total AS BIGINT)")
              .as("imbalance_ppm"),
            expr("""CAST((CAST(max_cnt AS DECIMAL(38,0)) * n_keys + 4 * total - 1)
                         DIV (CAST(4 AS DECIMAL(38,0)) * total) AS BIGINT)""")
              .as("salt_factor"))
      census(Tables.events(spark, dir), "user_id", "events.user_id")
        .unionAll(census(Tables.events(spark, dir), "event_type", "events.event_type"))
        .unionAll(census(Tables.lineitem(spark, dir), "l_partkey", "lineitem.l_partkey"))
        .orderBy(col("key_name"))
    },
    Some("""
      WITH ck AS (
        SELECT 'events.user_id' AS key_name, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
        UNION ALL
        SELECT 'events.event_type', CAST(count(*) AS BIGINT)
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'lineitem.l_partkey', CAST(count(*) AS BIGINT)
        FROM lineitem GROUP BY l_partkey),
      s AS (
        SELECT key_name, CAST(count(*) AS BIGINT) AS n_keys,
          CAST(sum(cnt) AS BIGINT) AS total, CAST(max(cnt) AS BIGINT) AS max_cnt
        FROM ck GROUP BY key_name)
      SELECT key_name, n_keys, total, max_cnt,
        CAST(CAST(max_cnt AS HUGEINT) * n_keys * 1000000 // total AS BIGINT)
          AS imbalance_ppm,
        CAST((CAST(max_cnt AS HUGEINT) * n_keys + 4 * total - 1)
             // (CAST(4 AS HUGEINT) * total) AS BIGINT) AS salt_factor
      FROM s ORDER BY key_name
    """))

  /** Streaming state-store sizing plan: for each stateful operator in
    * the reference topology (sliding-window agg, session windows,
    * stream dedup — SURVEY §2 W2/W8), how many state rows and bytes the
    * store holds over the trailing-day horizon. Row counts are exact
    * distinct-key censuses of the live data; widths are the documented
    * per-row state estimates (window-agg row ≈ 64 B of packed
    * aggregates, session ≈ 96 B with timers, dedup key ≈ 32 B). The
    * table RocksDB capacity planning starts from.
    *
    * Scale shape: one max-timestamp scalar broadcast (q64 threshold
    * pattern), one filtered scan per operator census, a 3-row union. */
  private val q233 = QueryDef(
    "q233_state_size_plan",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), col("user_id"), col("event_id"),
          epochS(col("ts")).as("s"))
      val horizon = ev.agg(max(col("s")).as("hi"))
      val recent = ev.crossJoin(broadcast(horizon))
        .filter(col("s") >= col("hi") - 86400L)
      def census(op: String, keyRows: org.apache.spark.sql.DataFrame,
                 multiplier: Long, width: Long) =
        keyRows.agg(countDistinct(col("k")).as("n_keys"))
          .select(lit(op).as("operator"), col("n_keys"),
            (col("n_keys") * multiplier).as("state_rows"),
            (col("n_keys") * multiplier * width).as("state_bytes"))
      // sliding 60s/30s window ⇒ 2 windows open per key at any instant
      census("windowed_agg_sliding", recent.select(col("event_type").as("k")), 2L, 64L)
        .unionAll(census("session_window", recent.select(col("user_id").as("k")), 1L, 96L))
        .unionAll(census("stream_dedup", recent.select(col("event_id").as("k")), 1L, 32L))
        .orderBy(col("operator"))
    },
    Some("""
      WITH e AS (
        SELECT event_type, user_id, event_id,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s
        FROM events),
      h AS (SELECT max(s) AS hi FROM e),
      r AS (SELECT * FROM e, h WHERE s >= hi - 86400),
      c AS (
        SELECT 'windowed_agg_sliding' AS operator,
          CAST(count(DISTINCT event_type) AS BIGINT) AS n_keys,
          CAST(2 AS BIGINT) AS mult, CAST(64 AS BIGINT) AS width FROM r
        UNION ALL
        SELECT 'session_window', CAST(count(DISTINCT user_id) AS BIGINT), 1, 96 FROM r
        UNION ALL
        SELECT 'stream_dedup', CAST(count(DISTINCT event_id) AS BIGINT), 1, 32 FROM r)
      SELECT operator, n_keys, n_keys * mult AS state_rows,
        n_keys * mult * width AS state_bytes
      FROM c ORDER BY operator
    """))

  /** Stratification audit of the deterministic hash split (q45): per
    * event type, are train and test shares actually 80/20? Reports the
    * exact per-label shares in ppm and the two-cell chi-square against
    * the 80/20 design, flagged at the χ²₁ 95% critical value — the
    * label-balance companion to q225's SRM (which audits arm totals,
    * not per-label composition). chi = (o_test·4 − o_train)² · 10⁶ /
    * (16·o_train + 4·o_test)... kept exact-integer by
    * cross-multiplying: for design p=0.2, chi = (o1 − p·n)²/(p·n) +
    * (o0 − (1−p)·n)²/((1−p)·n) = (4·o1 − o0+... — evaluated as
    * (5·o1 − n)² · 10⁶ / (4·n) with n = o0+o1, all in decimal(38,0).
    *
    * Scale shape: narrow scan, one (label) hash agg, vocabulary-sized
    * output. */
  private val q234 = QueryDef(
    "q234_split_stratification_audit",
    (spark, dir) => {
      Tables.events(spark, dir)
        .select(col("event_type"),
          when(Sampling.keyHash(col("event_id"), 1779033703L) % 10000L < 2000L, 1L)
            .otherwise(0L).as("is_test"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("is_test")).as("n_test"))
        .select(col("event_type"), col("n"), (col("n") - col("n_test")).as("n_train"),
          col("n_test"),
          expr("CAST(CAST(n_test AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
            .as("test_ppm"),
          expr("""CAST(CAST(5 * n_test - n AS DECIMAL(38,0)) *
                       (5 * n_test - n) * 1000000 DIV (4 * n) AS BIGINT)""")
            .as("chi_ppm"))
        .withColumn("srm_flag", when(col("chi_ppm") > 3841459L, 1L).otherwise(0L))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_type,
          CASE WHEN ((event_id % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 1 ELSE 0 END AS is_test
        FROM events),
      g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(is_test) AS BIGINT) AS n_test
        FROM e GROUP BY event_type)
      SELECT event_type, n, n - n_test AS n_train, n_test,
        CAST(CAST(n_test AS HUGEINT) * 1000000 // n AS BIGINT) AS test_ppm,
        CAST(CAST(5 * n_test - n AS HUGEINT) * (5 * n_test - n) * 1000000
             // (4 * n) AS BIGINT) AS chi_ppm,
        CAST(CASE WHEN CAST(5 * n_test - n AS HUGEINT) * (5 * n_test - n) * 1000000
               // (4 * n) > 3841459 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      FROM g ORDER BY event_type
    """))

  /** Sampling-error audit: the deterministic hash sample's mean revenue
    * at 1% / 10% / 20% rates versus the full-scan truth, error in ppm.
    * The empirical answer to "can the dashboard run on a sample" — and
    * because the sample is the keyed-hash kind (q45), the numbers are
    * reproducible to the bit, so the error table is itself regression-
    * testable. Key = orderkey·8 + linenumber (linenumber ≤ 7), unique
    * per row.
    *
    * Scale shape: ONE scan with three conditional sums (a sampled mean
    * costs nothing extra to audit), one-row census unpivoted to 3
    * rows. */
  private val q257 = QueryDef(
    "q257_sampling_error_audit",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val base = Tables.lineitem(spark, dir)
        .select(cents(col("l_extendedprice")).as("rc"),
          (graft.operators.Sampling.keyHash(
            col("l_orderkey") * 8 + col("l_linenumber")) % 10000L).as("h"))
      base.agg(
          count(lit(1)).as("n_all"), sum(col("rc")).as("rc_all"),
          sum(when(col("h") < 100L, 1L).otherwise(0L)).as("n_1"),
          sum(when(col("h") < 100L, col("rc")).otherwise(0L)).as("rc_1"),
          sum(when(col("h") < 1000L, 1L).otherwise(0L)).as("n_10"),
          sum(when(col("h") < 1000L, col("rc")).otherwise(0L)).as("rc_10"),
          sum(when(col("h") < 2000L, 1L).otherwise(0L)).as("n_20"),
          sum(when(col("h") < 2000L, col("rc")).otherwise(0L)).as("rc_20"))
        .select(expr(
          """stack(3,
               100,  n_1,  rc_1,
               1000, n_10, rc_10,
               2000, n_20, rc_20) AS (rate_bp, n_kept, rc_kept)"""),
          col("n_all"), col("rc_all"))
        .select(col("rate_bp").cast("long").as("rate_bp"), col("n_kept"),
          expr("CAST(CASE WHEN n_kept = 0 THEN NULL" +
            " ELSE CAST(rc_kept AS DECIMAL(38,0)) * 1000000 DIV n_kept END AS BIGINT)")
            .as("est_mean_micro"),
          expr("CAST(CAST(rc_all AS DECIMAL(38,0)) * 1000000 DIV n_all AS BIGINT)")
            .as("true_mean_micro"))
        .withColumn("err_ppm", expr(
          "CAST(abs(est_mean_micro - true_mean_micro) * 1000000 DIV true_mean_micro AS BIGINT)"))
        .orderBy(col("rate_bp"))
    },
    Some("""
      WITH b AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS rc,
          ((l_orderkey * 8 + l_linenumber) % 2147483648) * 2654435761 % 4294967296
            % 10000 AS h
        FROM lineitem),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(rc) AS BIGINT) AS rc_all,
          CAST(sum(CASE WHEN h < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
          CAST(sum(CASE WHEN h < 100 THEN rc ELSE 0 END) AS BIGINT) AS rc_1,
          CAST(sum(CASE WHEN h < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_10,
          CAST(sum(CASE WHEN h < 1000 THEN rc ELSE 0 END) AS BIGINT) AS rc_10,
          CAST(sum(CASE WHEN h < 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_20,
          CAST(sum(CASE WHEN h < 2000 THEN rc ELSE 0 END) AS BIGINT) AS rc_20
        FROM b),
      u AS (
        SELECT CAST(100 AS BIGINT) AS rate_bp, n_1 AS n_kept, rc_1 AS rc_kept,
          n_all, rc_all FROM s
        UNION ALL SELECT 1000, n_10, rc_10, n_all, rc_all FROM s
        UNION ALL SELECT 2000, n_20, rc_20, n_all, rc_all FROM s),
      e AS (
        SELECT rate_bp, n_kept,
          CAST(CASE WHEN n_kept = 0 THEN NULL
               ELSE CAST(rc_kept AS HUGEINT) * 1000000 // n_kept END AS BIGINT)
            AS est_mean_micro,
          CAST(CAST(rc_all AS HUGEINT) * 1000000 // n_all AS BIGINT) AS true_mean_micro
        FROM u)
      SELECT rate_bp, n_kept, est_mean_micro, true_mean_micro,
        CAST(abs(est_mean_micro - true_mean_micro) * 1000000 // true_mean_micro AS BIGINT)
          AS err_ppm
      FROM e ORDER BY rate_bp
    """))

  /** Session count versus timeout — the downstream consequence table
    * for q228's gap census: at candidate timeouts 5 min / 30 min / 2 h,
    * how many sessions does the event stream split into, and how many
    * events does an average session hold? sessions(t) = users +
    * |gaps > t| — a pure conditional sum over the same lag pass, no
    * re-sessionization per candidate. The reference hardcodes 30 min
    * (`SURVEY §2` W8); this prices the alternatives.
    *
    * Scale shape: one keyed lag window (the q228 shuffle), one
    * conditional aggregate, 3-row output. */
  private val q260 = QueryDef(
    "q260_sessions_by_timeout",
    (spark, dir) => {
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
      val g = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("s"))
        .withColumn("gap", col("s") - lag(col("s"), 1).over(byTime))
      val agg = g.agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("gap") > 300L, 1L).otherwise(0L)).as("brk_5m"),
        sum(when(col("gap") > 1800L, 1L).otherwise(0L)).as("brk_30m"),
        sum(when(col("gap") > 7200L, 1L).otherwise(0L)).as("brk_2h"))
      agg.select(expr(
          """stack(3,
               300,  n_users + brk_5m,
               1800, n_users + brk_30m,
               7200, n_users + brk_2h) AS (timeout_s, n_sessions)"""),
          col("n_events"))
        .select(col("timeout_s").cast("long").as("timeout_s"), col("n_sessions"),
          expr("CAST(n_events * 1000 DIV n_sessions AS BIGINT)")
            .as("events_per_session_milli"))
        .orderBy(col("timeout_s"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS s
        FROM events),
      g AS (
        SELECT user_id,
          s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS gap
        FROM e),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_events,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(sum(CASE WHEN gap > 300 THEN 1 ELSE 0 END) AS BIGINT) AS brk_5m,
          CAST(sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS brk_30m,
          CAST(sum(CASE WHEN gap > 7200 THEN 1 ELSE 0 END) AS BIGINT) AS brk_2h
        FROM g),
      u AS (
        SELECT CAST(300 AS BIGINT) AS timeout_s, n_users + brk_5m AS n_sessions,
          n_events FROM a
        UNION ALL SELECT 1800, n_users + brk_30m, n_events FROM a
        UNION ALL SELECT 7200, n_users + brk_2h, n_events FROM a)
      SELECT timeout_s, n_sessions,
        CAST(n_events * 1000 // n_sessions AS BIGINT) AS events_per_session_milli
      FROM u ORDER BY timeout_s
    """))

  /** Single-sourcing risk census: parts histogrammed by their distinct
    * supplier count, with each tier's revenue and its share of total —
    * the supply-chain fragility table (revenue flowing through
    * single-sourced parts is revenue one supplier outage stops).
    *
    * Scale shape: (part → supplier set size, revenue) hash agg, then a
    * ≤10-row tier census; the share denominator is an unpartitioned
    * window over that census (vocabulary-sized, sanctioned). */
  private val q265 = QueryDef(
    "q265_single_source_risk",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          sum(cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))))
            .as("rev"))
        .groupBy(col("n_suppliers"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
        .withColumn("revenue_share_ppm", expr(
          "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000 DIV " +
            "sum(revenue_cents) OVER () AS BIGINT)"))
        .orderBy(col("n_suppliers"))
    },
    Some("""
      WITH p AS (
        SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey),
      t AS (
        SELECT n_suppliers, CAST(count(*) AS BIGINT) AS n_parts,
          CAST(sum(rev) AS BIGINT) AS revenue_cents
        FROM p GROUP BY n_suppliers)
      SELECT n_suppliers, n_parts, revenue_cents,
        CAST(CAST(revenue_cents AS HUGEINT) * 1000000 // sum(revenue_cents) OVER ()
          AS BIGINT) AS revenue_share_ppm
      FROM t ORDER BY n_suppliers
    """))

  override def defs: Seq[QueryDef] =
    Seq(q125, q126, q128, q130, q133, q135, q136, q141, q146, q171, q175, q195,
      q201, q207, q211, q213, q228, q229, q230, q231, q232, q233, q234, q257,
      q260, q265)
}
