package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._
import graft.text.TextFunctions

/** Round-4 distribution-drift and corpus-diversity statistics — the
  * monitoring layer of a training-data pipeline: total-variation drift of
  * per-source token distributions, chi-square independence of metadata
  * dimensions, the Kolmogorov–Smirnov two-sample statistic, per-document
  * Simpson diversity, and vocabulary coverage curves.
  *
  * Log-free by design: KL-style divergences need libm `log`, whose last
  * ulp differs across engines; total variation, chi-square, KS, and
  * Simpson are all rational in the counts, so every number here is exact
  * integer (decimal(38,0) where 64-bit products could wrap at 100 TB) or
  * one fixed-order IEEE expression quantized with floor(x·10^6 + 0.5).
  */
object DriftQueries extends QueryGroup {

  /** Per-source total-variation distance from the corpus-wide token
    * distribution: TV(s) = ½ Σ_t |n_st/T_s − N_t/T|, emitted in exact ppm
    * as Σ_t |n_st·T − N_t·T_s| · 10^6 DIV (2·T_s·T) over decimal(38,0).
    *
    * Scale shape: one documents scan → (source, token) counts; token and
    * source marginals derive from that aggregate (no rescan). The dense
    * grid is vocab × sources via a broadcast of the (tiny) source-total
    * table, then one keyed join back to the observed counts — absent
    * (source, token) cells still contribute |0 − N_t·T_s|, which a naive
    * inner join would silently drop. */
  private val q118 = QueryDef(
    "q118_source_drift_tv",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val nst = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_st"))
      val nt = nst.groupBy(col("tok")).agg(sum(col("n_st")).as("n_t"))
      val tsrc = nst.groupBy(col("source")).agg(sum(col("n_st")).as("t_s"))
      val tot = tsrc.agg(sum(col("t_s")).as("t"))
      nt.crossJoin(broadcast(tsrc))
        .join(nst, Seq("source", "tok"), "left")
        .na.fill(0L, Seq("n_st"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("t_s"), col("t"),
          expr("abs(CAST(n_st AS DECIMAL(38,0)) * t - CAST(n_t AS DECIMAL(38,0)) * t_s)")
            .as("d"))
        .groupBy(col("source"), col("t_s"), col("t"))
        .agg(sum(col("d")).as("sd"))
        .select(col("source"), col("t_s").as("n_tokens"),
          expr("CAST(sd * 1000000 DIV (2 * CAST(t_s AS DECIMAL(38,0)) * t) AS BIGINT)")
            .as("tv_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tok AS (
        SELECT source, unnest($duckTokens) AS tok FROM documents),
      nst AS (SELECT source, tok, count(*) AS n_st FROM tok GROUP BY source, tok),
      nt AS (SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM nst GROUP BY tok),
      tsrc AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS t_s FROM nst GROUP BY source),
      tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM tsrc),
      grid AS (
        SELECT tsrc.source, tsrc.t_s, tot.t,
          abs(CAST(coalesce(nst.n_st, 0) AS HUGEINT) * tot.t
              - CAST(nt.n_t AS HUGEINT) * tsrc.t_s) AS d
        FROM nt CROSS JOIN tsrc CROSS JOIN tot
        LEFT JOIN nst ON nst.source = tsrc.source AND nst.tok = nt.tok)
      SELECT source, t_s AS n_tokens,
        CAST(sum(d) * 1000000 // (2 * CAST(t_s AS HUGEINT) * t) AS BIGINT) AS tv_ppm
      FROM grid GROUP BY source, t_s, t ORDER BY source
    """))

  /** Chi-square independence of lang × source over documents: per-cell
    * contribution (O·T − R·C)² / (T·R·C) on the DENSE 5×20 grid (absent
    * cells contribute their full expected mass). Each term is one
    * fixed-order IEEE expression — products of exact longs cast to double
    * one at a time — quantized to micro-units, so the per-cell values
    * (and any downstream exact-integer total) hash-match across engines.
    *
    * Scale shape: the contingency table is one documents scan + one tiny
    * aggregate; marginals and grid are vocabulary-sized broadcasts. */
  private val q119 = QueryDef(
    "q119_chi_square_independence",
    (spark, dir) => {
      val cells = Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rl = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
      val cs = cells.groupBy(col("source")).agg(sum(col("o")).as("cc"))
      val tot = cells.agg(sum(col("o")).as("t"))
      rl.crossJoin(broadcast(cs))
        .join(cells, Seq("lang", "source"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("o").as("n_docs"),
          expr("""CAST(floor(
              (((CAST(o AS DOUBLE) * t - CAST(r AS DOUBLE) * cc)
                * (CAST(o AS DOUBLE) * t - CAST(r AS DOUBLE) * cc))
               / ((CAST(t AS DOUBLE) * r) * cc)) * 1000000 + 0.5) AS BIGINT)""")
            .as("chi2_micro"))
        .orderBy(col("lang"), col("source"))
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
      rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang),
      cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cc FROM cells GROUP BY source),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
      grid AS (
        SELECT rl.lang, cs.source, coalesce(cells.o, 0) AS o, rl.r, cs.cc, tot.t
        FROM rl CROSS JOIN cs CROSS JOIN tot
        LEFT JOIN cells ON cells.lang = rl.lang AND cells.source = cs.source)
      SELECT lang, source, o AS n_docs,
        CAST(floor(
          (((CAST(o AS DOUBLE) * t - CAST(r AS DOUBLE) * cc)
            * (CAST(o AS DOUBLE) * t - CAST(r AS DOUBLE) * cc))
           / ((CAST(t AS DOUBLE) * r) * cc)) * 1000000 + 0.5) AS BIGINT) AS chi2_micro
      FROM grid ORDER BY lang, source
    """))

  /** Two-sample Kolmogorov–Smirnov statistic between the order-price
    * distributions of '1-URGENT' and '5-LOW' orders:
    * D = max_x |F1(x) − F2(x)|, emitted as max|a1·n2 − a2·n1|·10^6 DIV
    * (n1·n2) plus the (smallest) dollar value attaining it. Prices are
    * whole-dollar quantized so the CDF support is value-range-bounded —
    * the cumulative window runs over the bounded dollar histogram, not
    * over orders.
    *
    * Scale shape: one pushed-down orders scan → dollar histogram with
    * per-group conditional counts; cumulative sums over the histogram;
    * totals and the argmax are one-row broadcast aggregates (no driver
    * collect, no job in the constructor). */
  private val q120 = QueryDef(
    "q120_ks_two_sample",
    (spark, dir) => {
      val h = Tables.orders(spark, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 100").as("d"),
          col("o_orderpriority").as("pr"))
        .groupBy(col("d")).agg(
          sum(when(col("pr") === "1-URGENT", 1L).otherwise(0L)).as("c1"),
          sum(when(col("pr") === "5-LOW", 1L).otherwise(0L)).as("c2"))
      val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.select(col("d"),
        sum(col("c1")).over(w).as("a1"), sum(col("c2")).over(w).as("a2"))
      val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val diffs = cum.crossJoin(broadcast(tot))
        .select(col("d"), col("n1"), col("n2"),
          expr("abs(CAST(a1 AS DECIMAL(38,0)) * n2 - CAST(a2 AS DECIMAL(38,0)) * n1)")
            .as("diff"))
      val mx = diffs.agg(max(col("diff")).as("mxd"))
      diffs.crossJoin(broadcast(mx))
        .filter(col("diff") === col("mxd"))
        .groupBy(col("n1"), col("n2"), col("mxd"))
        .agg(min(col("d")).as("at_dollar"))
        .select(col("n1"), col("n2"),
          expr("CAST(mxd * 1000000 DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
            .as("ks_ppm"),
          col("at_dollar"))
    },
    Some("""
      WITH h AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS d,
          sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS c1,
          sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS c2
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1),
      cum AS (
        SELECT d, sum(c1) OVER (ORDER BY d) AS a1, sum(c2) OVER (ORDER BY d) AS a2
        FROM h),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      diffs AS (
        SELECT d, n1, n2,
          abs(CAST(a1 AS HUGEINT) * n2 - CAST(a2 AS HUGEINT) * n1) AS diff
        FROM cum CROSS JOIN tot),
      mx AS (SELECT max(diff) AS mxd FROM diffs)
      SELECT n1, n2,
        CAST(mxd * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm,
        min(d) AS at_dollar
      FROM diffs CROSS JOIN mx
      WHERE diff = mxd
      GROUP BY n1, n2, mxd
    """))

  /** Per-document Simpson concentration index Σ n_i² / T² in exact ppm —
    * the log-free diversity/repetitiveness quality signal (1/Simpson is
    * the "effective vocabulary size"; template-generated and looping text
    * scores high).
    *
    * Scale shape: explode → (doc, token) counts → per-doc moment, two
    * keyed shuffles both partial-aggregated map-side; all arithmetic is
    * per-document-bounded 64-bit integers (T ≤ doc length, so n_i²·10^6
    * can't wrap regardless of corpus size). */
  private val q121 = QueryDef(
    "q121_simpson_diversity",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id")).agg(
          sum(col("n")).as("n_tokens"),
          sum(col("n") * col("n")).as("s2"))
        .select(col("doc_id"), col("n_tokens"),
          expr("s2 * 1000000L div (n_tokens * n_tokens)").as("simpson_ppm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
      a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
              CAST(sum(n * n) AS BIGINT) AS s2
            FROM c GROUP BY doc_id)
      SELECT doc_id, n_tokens, s2 * 1000000 // (n_tokens * n_tokens) AS simpson_ppm
      FROM a ORDER BY doc_id
    """))

  /** Vocabulary coverage curve: the fraction of all token occurrences
    * covered by the top-k most frequent tokens, at k ∈ {10, 100, 1000} —
    * the tokenizer-vocab-sizing signal (how much of the corpus a k-entry
    * vocab explains).
    *
    * Scale shape: token frequencies are one explode + keyed aggregate;
    * the rank/cumulative window is over the VOCABULARY (already
    * aggregated, orders of magnitude smaller than the corpus — the same
    * sanctioned bounded-window class as q82's bins), with a total order
    * (freq DESC, token) so ties can't reorder across engines. */
  private val q122 = QueryDef(
    "q122_vocab_coverage",
    (spark, dir) => {
      val freq = Tables.documents(spark, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val ord = Window.orderBy(col("n").desc, col("tok"))
      val ranked = freq.select(col("tok"), col("n"),
        row_number().over(ord).as("top_k"),
        sum(col("n")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("covered_tokens"))
      val tot = freq.agg(sum(col("n")).as("t"))
      ranked.filter(col("top_k").isin(10, 100, 1000))
        .crossJoin(broadcast(tot))
        .select(col("top_k").cast("long").as("top_k"), col("covered_tokens"),
          expr("CAST(CAST(covered_tokens AS DECIMAL(38,0)) * 1000000 DIV t AS BIGINT)")
            .as("coverage_ppm"))
        .orderBy(col("top_k"))
    },
    Some(s"""
      WITH t AS (
        SELECT unnest($duckTokens) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
      r AS (SELECT tok, n,
          row_number() OVER (ORDER BY n DESC, tok) AS top_k,
          sum(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS covered
        FROM f),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM f)
      SELECT CAST(top_k AS BIGINT) AS top_k,
        CAST(covered AS BIGINT) AS covered_tokens,
        CAST(CAST(covered AS HUGEINT) * 1000000 // t AS BIGINT) AS coverage_ppm
      FROM r CROSS JOIN tt
      WHERE top_k IN (10, 100, 1000)
      ORDER BY top_k
    """))

  /** Pairwise token-set Jaccard between sources — the corpus-level
    * similarity matrix behind mixture design (two sources with
    * near-identical vocabularies are redundant; q118 measures distance
    * from the CORPUS, this measures distance between SLICES).
    *
    * Scale shape: the (source, token) distinct table is the only
    * corpus-sized object; the pair expansion joins it to itself on the
    * token key, but each token fans out to at most C(sources, 2) pairs —
    * source count is a fixed small constant (the mixture vocabulary), so
    * the expansion is bounded ×190 here. Set sizes broadcast onto the
    * pair counts. */
  private val q131 = QueryDef(
    "q131_source_similarity",
    (spark, dir) => {
      val st = Tables.documents(spark, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = st.as("a").join(st.as("b"), Seq("tok"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
        .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"), col("inter"),
          expr("inter * 1000000L div (n1 + n2 - inter)").as("jaccard_ppm"))
        .orderBy(col("s1"), col("s2"))
    },
    Some(s"""
      WITH st AS (
        SELECT DISTINCT source, tok FROM (
          SELECT source, unnest($duckTokens) AS tok FROM documents)),
      sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
      inter AS (
        SELECT a.source AS s1, b.source AS s2, count(*) AS inter
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT s1, s2, za.n AS n1, zb.n AS n2, inter,
        inter * 1000000 // (za.n + zb.n - inter) AS jaccard_ppm
      FROM inter
      JOIN sizes za ON za.source = s1
      JOIN sizes zb ON zb.source = s2
      ORDER BY s1, s2
    """))

  /** OOV rate by min-count cutoff — the vocabulary-pruning design table
    * (the complement of q122's coverage curve): for each candidate
    * min_count c, how many vocabulary entries survive and what fraction
    * of token OCCURRENCES falls out-of-vocabulary, in exact ppm.
    *
    * Scale shape: one token-frequency aggregate; the 4-row cutoff table
    * broadcasts onto the vocabulary (sanctioned nested-loop: the small
    * side is a constant), and each cutoff's sums partial-aggregate
    * map-side. */
  private val q145 = QueryDef(
    "q145_oov_rate_by_cutoff",
    (spark, dir) => {
      import spark.implicits._
      val freq = Tables.documents(spark, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val tot = freq.agg(sum(col("n")).as("t"))
      val cuts = Seq(2L, 5L, 10L, 100L).toDF("cutoff")
      freq.crossJoin(broadcast(cuts))
        .groupBy(col("cutoff"))
        .agg(sum(when(col("n") >= col("cutoff"), 1L).otherwise(0L)).as("vocab_kept"),
          sum(when(col("n") < col("cutoff"), col("n")).otherwise(0L)).as("occ_lost"))
        .crossJoin(broadcast(tot))
        .select(col("cutoff"), col("vocab_kept"), col("occ_lost"),
          expr("occ_lost * 1000000L div t").as("oov_ppm"))
        .orderBy(col("cutoff"))
    },
    Some(s"""
      WITH t AS (
        SELECT unnest($duckTokens) AS tok FROM documents),
      f AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM f),
      cuts AS (SELECT unnest([2, 5, 10, 100]) AS cutoff)
      SELECT CAST(cutoff AS BIGINT) AS cutoff,
        CAST(sum(CASE WHEN n >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS vocab_kept,
        CAST(sum(CASE WHEN n < cutoff THEN n ELSE 0 END) AS BIGINT) AS occ_lost,
        CAST(sum(CASE WHEN n < cutoff THEN n ELSE 0 END) * 1000000
          // (SELECT t FROM tot) AS BIGINT) AS oov_ppm
      FROM f CROSS JOIN cuts
      GROUP BY cutoff
      ORDER BY cutoff
    """))

  /** Weekly distribution drift — q118's total-variation distance turned
    * into a TIME SERIES: each week's order-price distribution vs the
    * previous week's, in exact ppm. The alarm that catches a slow
    * distribution slide q130's volume gate can't see (volume can stay
    * flat while the mix shifts).
    *
    * Scale shape: one scan → (week, dollar-bucket) histogram; the
    * week-over-week comparison is a full-outer self-join on the BUCKET
    * key between adjacent weeks (either side may miss a bucket — a
    * dropped bucket is exactly the drift being measured), with
    * calendar-sized weekly totals broadcast back. */
  private val q148 = QueryDef(
    "q148_weekly_drift",
    (spark, dir) => {
      val h = Tables.orders(spark, dir)
        .select(
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
            .as("week"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 100").as("d"))
        .groupBy(col("week"), col("d")).agg(count(lit(1)).as("c"))
        .persist() // both join sides + weekly totals
      val tw = h.groupBy(col("week")).agg(sum(col("c")).as("t"))
      val cur = h.select(col("week"), col("d"), col("c"))
      val prev = h.select((col("week") + 1).as("week"), col("d"), col("c").as("cp"))
      cur.join(prev, Seq("week", "d"), "full_outer")
        .na.fill(0L, Seq("c", "cp"))
        .join(broadcast(tw), Seq("week")) // drops week 0's phantom predecessor rows... see filter
        .join(broadcast(tw.select((col("week") + 1).as("week"), col("t").as("tp"))), Seq("week"))
        .select(col("week"), col("t"), col("tp"),
          expr("abs(CAST(c AS DECIMAL(38,0)) * tp - CAST(cp AS DECIMAL(38,0)) * t)").as("dd"))
        .groupBy(col("week"), col("t"), col("tp"))
        .agg(sum(col("dd")).as("num"))
        .select(col("week"), col("t").as("n_cur"), col("tp").as("n_prev"),
          expr("CAST(num * 1000000 DIV (2 * CAST(t AS DECIMAL(38,0)) * tp) AS BIGINT)")
            .as("tv_vs_prev_ppm"))
        .orderBy(col("week"))
    },
    Some("""
      WITH o AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
            AS BIGINT) AS week,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS d
        FROM orders),
      h AS (SELECT week, d, count(*) AS c FROM o GROUP BY week, d),
      tw AS (SELECT week, CAST(sum(c) AS BIGINT) AS t FROM h GROUP BY week),
      pairs AS (
        SELECT coalesce(cur.week, prv.week + 1) AS week,
          coalesce(cur.c, 0) AS c, coalesce(prv.c, 0) AS cp
        FROM h cur
        FULL OUTER JOIN h prv
          ON prv.week + 1 = cur.week AND prv.d = cur.d),
      j AS (
        SELECT p.week, tc.t, tp.t AS tp,
          abs(CAST(p.c AS HUGEINT) * tp.t - CAST(p.cp AS HUGEINT) * tc.t) AS dd
        FROM pairs p
        JOIN tw tc ON tc.week = p.week
        JOIN tw tp ON tp.week = p.week - 1)
      SELECT week, t AS n_cur, tp AS n_prev,
        CAST(sum(dd) * 1000000 // (2 * CAST(t AS HUGEINT) * tp) AS BIGINT)
          AS tv_vs_prev_ppm
      FROM j GROUP BY week, t, tp
      ORDER BY week
    """))

  /** Per-source lexical richness: token count, vocabulary size (types),
    * hapax legomena (types occurring exactly once in the source),
    * type-token ratio and hapax share in exact ppm. The
    * lexical-diversity profile that separates template/boilerplate
    * sources (low TTR, few hapax) from natural prose — a curation
    * signal orthogonal to q27's per-document quality score and q131's
    * cross-source vocabulary overlap.
    *
    * Scale shape: explode → one (source, token) grouped count (the only
    * corpus-sized shuffle, map-side combined), then a vocabulary-sized
    * per-source rollup. Nothing else moves. */
  private val q154 = QueryDef(
    "q154_lexical_richness",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("CAST(CAST(n_types AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")
            .as("ttr_ppm"),
          expr("CAST(CAST(n_hapax AS DECIMAL(38,0)) * 1000000 DIV n_types AS BIGINT)")
            .as("hapax_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH t AS (
        SELECT source, unnest($duckTokens) AS tok FROM documents),
      f AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
      s AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
          CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM f GROUP BY source)
      SELECT source, n_tokens, n_types, n_hapax,
        CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
        CAST(CAST(n_hapax AS HUGEINT) * 1000000 // n_types AS BIGINT) AS hapax_ppm
      FROM s ORDER BY source
    """))

  /** New-category detection — the categorical half of schema drift
    * (q148 watches a numeric distribution slide; this watches the
    * DOMAIN itself grow): per week, how many distinct (clerk-free)
    * order-priority × status combinations appear for the FIRST time,
    * plus the running domain size. A new combination in week w is one
    * whose min-first-week equals w; downstream contracts (enum columns,
    * one-hot encoders, dashboards) break exactly here.
    *
    * Scale shape: one scan → distinct (combo, week) pairs (map-side
    * combined), a combo-keyed min, then a calendar-sized weekly census
    * with a running-total window over weeks (bounded by the calendar,
    * not the corpus). */
  private val q161 = QueryDef(
    "q161_new_category_drift",
    (spark, dir) => {
      val firstWeek = Tables.orders(spark, dir)
        .select(
          concat_ws("|", col("o_orderpriority"), col("o_orderstatus")).as("combo"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') div 7 AS BIGINT)")
            .as("week"))
        .groupBy(col("combo")).agg(min(col("week")).as("first_week"))
      firstWeek.groupBy(col("first_week").as("week"))
        .agg(count(lit(1)).as("n_new"))
        .withColumn("domain_size", sum(col("n_new")).over(
          Window.orderBy(col("week")).rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .orderBy(col("week"))
    },
    Some("""
      WITH f AS (
        SELECT o_orderpriority || '|' || o_orderstatus AS combo,
          CAST(min(CAST(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) // 7 AS BIGINT)) AS BIGINT) AS first_week
        FROM orders GROUP BY 1),
      w AS (
        SELECT first_week AS week, CAST(count(*) AS BIGINT) AS n_new
        FROM f GROUP BY 1)
      SELECT week, n_new,
        CAST(sum(n_new) OVER (ORDER BY week ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS domain_size
      FROM w ORDER BY week
    """))

  /** Class-discriminative terms (keyness): for each source, the 5
    * tokens whose in-source relative frequency most exceeds their
    * corpus-wide relative frequency — lift in exact ppm
    * (cnt_src·tot_corpus·10⁶ DIV (cnt_corpus·tot_src)), min support 5
    * so hapax noise can't dominate. The corpus-linguistics counterpart
    * of q44's per-document TF-IDF: WHAT vocabulary makes a source
    * different, the labeling aid for mixture design and contamination
    * triage.
    *
    * Scale shape: one (source, token) grouped count (the corpus-sized
    * shuffle, map-side combined); global token counts derive from it by
    * a second vocabulary-sized aggregate; totals broadcast; top-5 is a
    * rank window partitioned by source over the vocabulary-sized lift
    * table. Ties break on token for determinism. */
  private val q166 = QueryDef(
    "q166_source_keyness",
    (spark, dir) => {
      val st = Tables.documents(spark, dir)
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_src"))
      val glob = st.groupBy(col("tok")).agg(sum(col("c_src")).as("c_all"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_src")).as("t_src"))
      val allTot = srcTot.agg(sum(col("t_src")).as("t_all"))
      val lifts = st.filter(col("c_src") >= 5)
        .join(glob, Seq("tok"))
        .join(broadcast(srcTot), Seq("source"))
        .crossJoin(broadcast(allTot))
        .select(col("source"), col("tok"), col("c_src"),
          expr("""CAST(CAST(c_src AS DECIMAL(38,0)) * t_all * 1000000
                  DIV (CAST(c_all AS DECIMAL(38,0)) * t_src) AS BIGINT)""")
            .as("lift_ppm"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("lift_ppm").desc, col("tok"))
      lifts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("tok"), col("c_src"), col("lift_ppm"))
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""
      WITH t AS (
        SELECT source, unnest($duckTokens) AS tok FROM documents),
      st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_src
        FROM t GROUP BY 1, 2),
      gcount AS (SELECT tok, CAST(sum(c_src) AS BIGINT) AS c_all FROM st GROUP BY 1),
      srctot AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS t_src
        FROM st GROUP BY 1),
      alltot AS (SELECT CAST(sum(t_src) AS BIGINT) AS t_all FROM srctot),
      lifts AS (
        SELECT st.source, st.tok, st.c_src,
          CAST(CAST(st.c_src AS HUGEINT) * t_all * 1000000
            // (CAST(gcount.c_all AS HUGEINT) * t_src) AS BIGINT) AS lift_ppm
        FROM st
        JOIN gcount USING (tok) JOIN srctot USING (source) CROSS JOIN alltot
        WHERE st.c_src >= 5),
      ranked AS (
        SELECT source, tok, c_src, lift_ppm,
          row_number() OVER (PARTITION BY source
            ORDER BY lift_ppm DESC, tok) AS rank
        FROM lifts)
      SELECT source, CAST(rank AS BIGINT) AS rank, tok, c_src, lift_ppm
      FROM ranked WHERE rank <= 5
      ORDER BY source, rank
    """))

  /** CUSUM change detection over daily event volume: the classic
    * sequential drift alarm s_d = max(0, s_{d-1} + (x_d − μ − slack))
    * evaluated in closed form — s_d = cum_d − min(0, min_{j≤d} cum_j)
    * where cum is the running sum of deviations — so no recursion, just
    * two ordered windows. Deviations are scaled by n_days (dev = x·n −
    * total − total/10) to stay in exact integers: slack is 10 % of the
    * mean, the alarm threshold one full mean day of cumulative excess
    * (h = total). The monitor that catches a slow upward drift q130's
    * per-day 2σ gate never fires on.
    *
    * Scale shape: the corpus collapses to one row per day before any
    * window; both windows (running sum, running min) run over the
    * bounded calendar — the same sanctioned single-partition shape as
    * q130. decimal(38,0) keeps x·n and the cumulative sums exact out to
    * 10^10 events/day × centuries. */
  private val q176 = QueryDef(
    "q176_cusum_drift",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val daily = Tables.events(spark, dir)
        .select(epochS(col("ts")).as("ts_s"))
        .select(expr("ts_s div 86400").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
      val all = Window.partitionBy()
      val ord = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
      daily
        .select(col("day"), col("n_events"),
          count(lit(1)).over(all).as("n_days"),
          sum(col("n_events")).over(all).as("total"))
        .select(col("day"), col("n_events"),
          (expr("CAST(n_events AS DECIMAL(38,0)) * n_days") - col("total")
            - expr("total div 10")).as("dev"),
          col("total"))
        .select(col("day"), col("n_events"),
          sum(col("dev")).over(ord).as("cum"), col("total"))
        .select(col("day"), col("n_events"), col("cum"),
          min(col("cum")).over(ord).as("runmin"), col("total"))
        .select(col("day"), col("n_events"),
          (col("cum") - least(col("runmin"), lit(0L))).cast("long")
            .as("cusum_scaled"),
          when(col("cum") - least(col("runmin"), lit(0L)) > col("total"), lit(1L))
            .otherwise(lit(0L)).as("is_alarm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day,
          CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
      t AS (
        SELECT day, n_events,
          CAST(count(*) OVER () AS BIGINT) AS n_days,
          CAST(sum(n_events) OVER () AS BIGINT) AS total
        FROM daily),
      d AS (
        SELECT day, n_events, total,
          CAST(n_events AS HUGEINT) * n_days - total - total // 10 AS dev
        FROM t),
      c1 AS (
        SELECT day, n_events, total,
          sum(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
        FROM d),
      c AS (
        SELECT day, n_events, total, cum,
          min(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS runmin
        FROM c1)
      SELECT day, n_events,
        CAST(cum - least(runmin, 0) AS BIGINT) AS cusum_scaled,
        CAST(CASE WHEN cum - least(runmin, 0) > total THEN 1 ELSE 0 END AS BIGINT)
          AS is_alarm
      FROM c ORDER BY day
    """))

  /** Dyadic-weight EWMA: per order priority, the exponentially-weighted
    * trailing average of daily revenue with α = 1/2 truncated to an
    * 8-day horizon — smoothing weights 128,64,…,1 are exact powers of
    * two, so every weighted sum is pure integer arithmetic (the reason
    * classic double-recursion EWMA can't hash-match across engines and
    * this one can). Missing days self-renormalize: the denominator sums
    * only the weights of days present in the window.
    *
    * Scale shape: the corpus collapses to a (priority, day) census
    * first; the window is then an 8-way explode of that bounded census
    * (calendar-span × 5 priorities rows, SF-invariant) re-aggregated by
    * target day — an equi-join rewrite of the range frame, no sort-
    * based window over the raw table, no driver loop. */
  private val q188 = QueryDef(
    "q188_dyadic_ewma",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("prio"),
          expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) div 86400").as("day"),
          graft.functions.Deterministic.cents(col("o_totalprice")).as("c"))
        .groupBy(col("prio"), col("day")).agg(sum(col("c")).as("v"))
      val contrib = daily
        .select(col("prio"), col("day"), col("v"),
          explode(expr("sequence(0, 7)")).as("k"))
        .select(col("prio"), (col("day") + col("k")).as("day"),
          expr("v * shiftleft(1L, CAST(7 - k AS INT))").as("wv"),
          expr("shiftleft(1L, CAST(7 - k AS INT))").as("w"))
      contrib
        .join(daily.select(col("prio"), col("day")), Seq("prio", "day"), "left_semi")
        .groupBy(col("prio"), col("day"))
        .agg(sum(col("wv")).as("num"), sum(col("w")).as("den"))
        .select(col("prio"), col("day"), col("den").as("w_mass"),
          expr("CAST(CAST(num AS DECIMAL(38,0)) * 1000 DIV den AS BIGINT)")
            .as("ewma_milli"))
        .orderBy(col("prio"), col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT o_orderpriority AS prio,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY 1, 2),
      c AS (
        SELECT d.prio, d.day + k.k AS day,
          d.v * (1 << (7 - k.k)) AS wv,
          CAST(1 << (7 - k.k) AS BIGINT) AS w
        FROM daily d, (SELECT unnest(range(0, 8)) AS k) k),
      g AS (
        SELECT c.prio, c.day,
          CAST(sum(c.wv) AS BIGINT) AS num, CAST(sum(c.w) AS BIGINT) AS den
        FROM c
        WHERE EXISTS (SELECT 1 FROM daily x
                      WHERE x.prio = c.prio AND x.day = c.day)
        GROUP BY 1, 2)
      SELECT prio, day, den AS w_mass,
        CAST(CAST(num AS HUGEINT) * 1000 // den AS BIGINT) AS ewma_milli
      FROM g ORDER BY prio, day
    """))

  /** Offline changepoint by binary segmentation: per order priority,
    * the month split that maximizes the two-segment fit of the monthly
    * revenue series — argmax_k S1²/k + S2²/(n−k), the exact-SSE form —
    * reported with its explained-variance share (the "R² of the best
    * split"). The offline complement to q176's sequential CUSUM: CUSUM
    * answers "has it drifted yet?", this answers "where did it break?".
    *
    * Determinism: all moments (S1, S, Q) are exact integers from the
    * bounded monthly census; the score and split_r2 are the same
    * fixed-order IEEE expressions in both engines, and the argmax is
    * tie-broken by the earliest month.
    *
    * Scale shape: corpus → (priority, month) census (one shuffle); the
    * cumulative window and argmax run over ≤ 84 rows per priority. */
  private val q194 = QueryDef(
    "q194_changepoint_binseg",
    (spark, dir) => {
      val monthly = Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("prio"),
          expr("(year(o_orderdate) - 1992) * 12 + month(o_orderdate)").cast("long")
            .as("t"),
          graft.functions.Deterministic.cents(col("o_totalprice")).as("c"))
        .groupBy(col("prio"), col("t")).agg(sum(col("c")).as("y"))
      val wC = Window.partitionBy(col("prio")).orderBy(col("t"))
      val wA = Window.partitionBy(col("prio"))
      val scored = monthly
        .withColumn("k", row_number().over(wC).cast("long"))
        .withColumn("s1", sum(col("y")).over(
          wC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wA))
        .withColumn("stot", sum(col("y")).over(wA))
        .withColumn("q", sum(expr("CAST(y AS DECIMAL(38,0)) * y")).over(wA))
        .filter(col("k") < col("n"))
        .withColumn("score", expr(
          """CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
             + CAST(stot - s1 AS DOUBLE) * CAST(stot - s1 AS DOUBLE)
               / CAST(n - k AS DOUBLE)"""))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("prio")).orderBy(col("score").desc, col("t"))))
        .filter(col("rn") === 1)
        .select(col("prio"), col("n").as("n_months"), col("t").as("split_t"),
          expr("""(score - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(q AS DOUBLE) - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))""")
            .as("split_r2"))
        .orderBy(col("prio"))
    },
    Some("""
      WITH m AS (
        SELECT o_orderpriority AS prio,
          CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) AS BIGINT) AS t,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2),
      s AS (
        SELECT prio, t, y,
          CAST(row_number() OVER w AS BIGINT) AS k,
          CAST(sum(y) OVER (PARTITION BY prio ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
          CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n,
          CAST(sum(y) OVER (PARTITION BY prio) AS BIGINT) AS stot,
          sum(CAST(y AS HUGEINT) * y) OVER (PARTITION BY prio) AS q
        FROM m
        WINDOW w AS (PARTITION BY prio ORDER BY t)),
      sc AS (
        SELECT *,
          CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
            + CAST(stot - s1 AS DOUBLE) * CAST(stot - s1 AS DOUBLE)
              / CAST(n - k AS DOUBLE) AS score
        FROM s WHERE k < n),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY prio
          ORDER BY score DESC, t) AS rn
        FROM sc)
      SELECT prio, n AS n_months, t AS split_t,
        (score - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(q AS DOUBLE) - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
          AS split_r2
      FROM best WHERE rn = 1 ORDER BY prio
    """))

  /** Lag-7 autocorrelation — the seasonality DETECTOR feeding q201's
    * model choice: per priority, Pearson r² (ppm) and sign between the
    * zero-filled 1995 daily series and itself shifted one week. All
    * moments are exact integers in hecto-dollar units (cents div 10^4 —
    * the rescaling that keeps every product, including cov²·10^6,
    * inside 38 digits even at 10^9-dollar daily volumes), evaluated in
    * decimal(38,0) / HUGEINT; no sqrt — r² cross-multiplies instead.
    * Constant series ⇒ zero variance ⇒ NULL r² (÷0) in both engines.
    *
    * Scale shape: one date-pruned grouped aggregation; lag + moment
    * rollup run on the 5×365-row spine, keyed by priority. */
  private val q203 = QueryDef(
    "q203_lag7_autocorrelation",
    (spark, dir) => {
      val daily = IntervalQueries.dailyRevenue(spark, dir)
      val spine = Tables.orders(spark, dir)
        .select(col("o_orderpriority")).distinct()
        .select(col("o_orderpriority").as("pri"),
          explode(sequence(lit(9131L), lit(9495L))).as("day"))
      val w = Window.partitionBy(col("pri")).orderBy(col("day"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      spine.join(daily, Seq("pri", "day"), "left")
        .withColumn("x", expr("coalesce(vc, 0L) div 10000"))
        .withColumn("y", lag(col("x"), 7).over(w))
        .filter(col("y").isNotNull)
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(d(col("x")) * d(col("y"))).as("sxy"),
          sum(d(col("x")) * d(col("x"))).as("sxx"),
          sum(d(col("y")) * d(col("y"))).as("syy"))
        .withColumn("cov", d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy")))
        .withColumn("varx", d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx")))
        .withColumn("vary", d(col("n")) * col("syy") - d(col("sy")) * d(col("sy")))
        .select(col("pri"), col("n").as("n_pairs"),
          signum(col("cov")).cast("long").as("cov_sign"),
          expr("CAST((cov * cov * 1000000) div (varx * vary) AS BIGINT)").as("r2_ppm"))
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
          LATERAL (SELECT unnest(range(9131, 9496)) AS d) t),
      s AS (
        SELECT s.pri, s.day, coalesce(daily.vc, 0) // 10000 AS x,
          lag(coalesce(daily.vc, 0) // 10000, 7)
            OVER (PARTITION BY s.pri ORDER BY s.day) AS y
        FROM spine s LEFT JOIN daily ON s.pri = daily.pri AND s.day = daily.day),
      m AS (
        SELECT pri, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM s WHERE y IS NOT NULL GROUP BY pri),
      c AS (
        SELECT pri, n, n*sxy - sx*sy AS cov,
          n*sxx - sx*sx AS varx, n*syy - sy*sy AS vary
        FROM m)
      SELECT pri, n AS n_pairs,
        CAST(CASE WHEN cov < 0 THEN -1 WHEN cov > 0 THEN 1 ELSE 0 END AS BIGINT) AS cov_sign,
        CAST((cov * cov * 1000000) // (varx * vary) AS BIGINT) AS r2_ppm
      FROM c ORDER BY pri
    """))

  /** Revenue peak detection over the zero-filled 1995 daily series: a
    * day is a peak iff it strictly beats both neighbors AND clears a
    * prominence floor — 5·v ≥ 3·(prev+next), i.e. ≥20 % above the
    * neighbor average — so single-day blips over a flat series surface
    * but ordinary day-to-day wiggle doesn't. The spike-finding
    * complement of q194's changepoints (level shifts) and q176's CUSUM
    * (slow drifts): all three read the same daily spine, each catches a
    * different anomaly shape. Lift is reported in exact ppm of the
    * neighbor average; an isolated spike (both neighbors zero) keeps
    * its NULL lift — infinite prominence, and both engines agree that
    * integer ÷0 is NULL under the session's non-ANSI config.
    *
    * Scale shape: one date-pruned aggregation to the 365-row spine; the
    * lag/lead window and the peak predicate run on that calendar-sized
    * series only. Lift numerators in decimal(38,0) — cents·2·10^6
    * clears 2^63 at the 100 TB design point. */
  private val q212 = QueryDef(
    "q212_revenue_peaks",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val daily = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select((epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
      val spine = spark.range(9131L, 9496L).select(col("id").as("day"))
      val w = Window.orderBy(col("day"))
      spine.join(daily, Seq("day"), "left")
        .withColumn("v", coalesce(col("v"), lit(0L)))
        .withColumn("vm", lag(col("v"), 1).over(w))
        .withColumn("vp", lead(col("v"), 1).over(w))
        .filter(col("vm").isNotNull && col("vp").isNotNull &&
          col("v") > col("vm") && col("v") > col("vp") &&
          col("v") * 5L >= (col("vm") + col("vp")) * 3L)
        .select(col("day"), col("v").as("revenue_cents"),
          expr("CAST(CAST(v AS DECIMAL(38,0)) * 2000000 DIV (vm + vp) AS BIGINT)")
            .as("lift_ppm"))
        .orderBy(col("day"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      s AS (
        SELECT CAST(d AS BIGINT) AS day, coalesce(daily.v, 0) AS v
        FROM (SELECT unnest(range(9131, 9496)) AS d) x
        LEFT JOIN daily ON daily.day = d),
      n AS (
        SELECT day, v,
          lag(v) OVER (ORDER BY day) AS vm,
          lead(v) OVER (ORDER BY day) AS vp
        FROM s)
      SELECT day, CAST(v AS BIGINT) AS revenue_cents,
        CAST(CAST(v AS HUGEINT) * 2000000 // (vm + vp) AS BIGINT) AS lift_ppm
      FROM n
      WHERE vm IS NOT NULL AND vp IS NOT NULL
        AND v > vm AND v > vp AND 5*v >= 3*(vm + vp)
      ORDER BY day
    """))

  /** Exact Wasserstein-1 (earth-mover) distance between the returned
    * and non-returned quantity distributions — the drift metric that
    * SEES how far mass moved, where TV (q118) only sees that it moved
    * and KS (q120) only the worst single gap. W₁ = ∫|F_A − F_B| dx
    * evaluated exactly on the merged value ladder: cross-multiplied
    * CDFs (cumA·n_B − cumB·n_A — no fractions), each step weighted by
    * its value gap Δx, normalized to milli-cents of quantity per unit
    * mass.
    *
    * Scale shape: one (group, value) histogram agg over a bounded
    * cents domain, a cumulative window over the merged value ladder
    * (vocabulary-sized), one scalar rollup. Cross-products run in
    * decimal(38,0). */
  private val q247 = QueryDef(
    "q247_wasserstein_drift",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      val w = Window.orderBy(col("x"))
      val hist = Tables.lineitem(spark, dir)
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("g"), cents(col("l_quantity")).as("x"))
        .groupBy(col("x"))
        .agg(sum(when(col("g") === "R", 1L).otherwise(0L)).as("ca"),
          sum(when(col("g") === "N", 1L).otherwise(0L)).as("cb"))
      val everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum_a", sum(col("ca")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_b", sum(col("cb")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_a", sum(col("ca")).over(everything))
        .withColumn("n_b", sum(col("cb")).over(everything))
        .withColumn("dx", lead(col("x"), 1).over(w) - col("x"))
        .filter(col("dx").isNotNull)
        .withColumn("term", expr(
          "abs(CAST(cum_a AS DECIMAL(38,0)) * n_b - CAST(cum_b AS DECIMAL(38,0)) * n_a) * dx"))
        .groupBy()
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          sum(col("term")).as("tsum"))
        .select(col("n_a"), col("n_b"),
          expr("CAST(tsum * 1000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
            .as("w1_milli_cents"))
    },
    Some("""
      WITH h AS (
        SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY 1),
      c AS (
        SELECT x, ca, cb,
          CAST(sum(ca) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
          CAST(sum(cb) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
          CAST(sum(ca) OVER () AS BIGINT) AS n_a,
          CAST(sum(cb) OVER () AS BIGINT) AS n_b,
          lead(x) OVER (ORDER BY x) - x AS dx
        FROM h),
      t AS (
        SELECT n_a, n_b,
          abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a) * dx AS term
        FROM c WHERE dx IS NOT NULL)
      SELECT CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
        CAST(sum(term) * 1000 // (CAST(max(n_a) AS HUGEINT) * max(n_b)) AS BIGINT)
          AS w1_milli_cents
      FROM t
    """))

  /** Autocorrelation function sweep — q203's single lag-7 point
    * extended to the full ACF table at lags 1..14 over 1995 daily
    * revenue (zero-filled dense spine, so lags are calendar-true). The
    * standard seasonality diagnostic read as a table: a weekly cycle
    * shows as peaks at 7 and 14; the same exact-integer moment
    * algebra as q203 (signed r² in ppm, decimal(38,0) cross-products).
    *
    * Scale shape: one day-level aggregate, a 14-way explode of the
    * day-sized spine (≤ 365·14 rows), one equi-join back to the spine,
    * and a 14-row rollup. */
  private val q255 = QueryDef(
    "q255_acf_sweep",
    (spark, dir) => {
      import graft.functions.Deterministic.{cents, epochS}
      val daily = Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01")
        .select((epochS(col("o_orderdate")) / 86400).cast("long").as("day"),
          cents(col("o_totalprice")).as("vc"))
        .groupBy(col("day")).agg(sum(col("vc")).as("vc"))
      val spine = spark.range(1)
        .select(explode(sequence(lit(9131L), lit(9495L))).as("day"))
      val dense = spine.join(daily, Seq("day"), "left")
        .select(col("day"), expr("coalesce(vc, 0L) div 10000").as("x"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val expanded = dense
        .select(col("day"), col("x").as("xa"),
          explode(expr("sequence(1L, 14L)")).as("k"))
        .select(col("k"), col("xa"), (col("day") - col("k")).as("pday"))
      expanded
        .join(dense.select(col("day").as("pday"), col("x").as("xb")), Seq("pday"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
          sum(d(col("xa")) * d(col("xb"))).as("sxy"),
          sum(d(col("xa")) * d(col("xa"))).as("sxx"),
          sum(d(col("xb")) * d(col("xb"))).as("syy"))
        .withColumn("cov", d(col("n_pairs")) * col("sxy") - d(col("sx")) * d(col("sy")))
        .withColumn("varx", d(col("n_pairs")) * col("sxx") - d(col("sx")) * d(col("sx")))
        .withColumn("vary", d(col("n_pairs")) * col("syy") - d(col("sy")) * d(col("sy")))
        .select(col("k").as("lag"), col("n_pairs"),
          signum(col("cov")).cast("long").as("cov_sign"),
          expr("CAST((cov * cov * 1000000) div (varx * vary) AS BIGINT)").as("r2_ppm"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vc
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY 1),
      dense AS (
        SELECT s.day, coalesce(d.vc, 0) // 10000 AS x
        FROM (SELECT unnest(range(9131, 9496)) AS day) s
        LEFT JOIN daily d ON s.day = d.day),
      ex AS (
        SELECT k.k, a.x AS xa, a.day - k.k AS pday
        FROM dense a CROSS JOIN (SELECT unnest(range(1, 15)) AS k) k),
      j AS (
        SELECT ex.k, ex.xa, b.x AS xb
        FROM ex JOIN dense b ON ex.pday = b.day),
      m AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
          sum(CAST(xa AS HUGEINT) * xb) AS sxy,
          sum(CAST(xa AS HUGEINT) * xa) AS sxx,
          sum(CAST(xb AS HUGEINT) * xb) AS syy
        FROM j GROUP BY k),
      c AS (
        SELECT k, n_pairs,
          CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov,
          CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx,
          CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary
        FROM m)
      SELECT CAST(k AS BIGINT) AS lag, n_pairs,
        CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END AS BIGINT)
          AS cov_sign,
        CAST((cov * cov * 1000000) // (varx * vary) AS BIGINT) AS r2_ppm
      FROM c ORDER BY lag
    """))

  /** Language evenness per source — inverse-Simpson effective language
    * count normalized by the observed language count: evenness 10⁶
    * means the source speaks its languages in equal measure, → 0 means
    * one language dominates. The balance check a multilingual corpus
    * mix needs per source (the per-source drill-down of q121's global
    * diversity). Exact integers: eff = (Σn)²/Σn², evenness = eff/k.
    *
    * Scale shape: one (source, lang) hash agg, then a source-sized
    * rollup; squares in decimal(38,0). */
  private val q267 = QueryDef(
    "q267_lang_evenness",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("k_langs"), sum(col("n")).as("n_docs"),
          sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("ssq"))
        .select(col("source"), col("k_langs"), col("n_docs"),
          expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000 DIV ssq AS BIGINT)")
            .as("eff_langs_milli"),
          expr("""CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000000
                  DIV (ssq * k_langs) AS BIGINT)""").as("evenness_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS k_langs,
          CAST(sum(n) AS BIGINT) AS n_docs,
          sum(CAST(n AS HUGEINT) * n) AS ssq
        FROM c GROUP BY source)
      SELECT source, k_langs, n_docs,
        CAST(CAST(n_docs AS HUGEINT) * n_docs * 1000 // ssq AS BIGINT)
          AS eff_langs_milli,
        CAST(CAST(n_docs AS HUGEINT) * n_docs * 1000000 // (ssq * k_langs) AS BIGINT)
          AS evenness_ppm
      FROM g ORDER BY source
    """))

  /** Monthly brand-concentration trend — q205's HHI computed per ship
    * month, in exact ppm (HHI = Σ share² = Σrev² / (Σrev)²): rising
    * HHI means revenue is consolidating into fewer brands, the drift
    * signal assortment planning watches quarter over quarter.
    *
    * Scale shape: (month, brand) hash agg → month-sized rollup;
    * squares of cent sums need decimal(38,0) well before 100 TB. */
  private val q268 = QueryDef(
    "q268_monthly_hhi_trend",
    (spark, dir) => {
      import graft.functions.Deterministic.cents
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
        .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("month"),
          col("p_brand").as("brand"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rc"))
        .groupBy(col("month"), col("brand"))
        .agg(sum(col("rc")).as("rev"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_brands"), sum(col("rev")).as("total_rev"),
          sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("ssq"))
        .select(col("month"), col("n_brands"),
          expr("""CAST(ssq * 1000000 DIV
                  (CAST(total_rev AS DECIMAL(38,0)) * total_rev) AS BIGINT)""")
            .as("hhi_ppm"))
        .orderBy(col("month"))
    },
    Some("""
      WITH mb AS (
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS month,
          p_brand AS brand,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      g AS (
        SELECT month, CAST(count(*) AS BIGINT) AS n_brands,
          CAST(sum(rev) AS BIGINT) AS total_rev,
          sum(CAST(rev AS HUGEINT) * rev) AS ssq
        FROM mb GROUP BY month)
      SELECT month, n_brands,
        CAST(ssq * 1000000 // (CAST(total_rev AS HUGEINT) * total_rev) AS BIGINT)
          AS hhi_ppm
      FROM g ORDER BY month
    """))

  override def defs: Seq[QueryDef] =
    Seq(q118, q119, q120, q121, q122, q131, q145, q148, q154, q161, q166, q176,
      q188, q194, q203, q212, q247, q255, q267, q268)
}
