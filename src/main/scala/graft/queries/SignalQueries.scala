package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.queries.SqlMacros._

/** Round-4 signal/record operators: maximum-sum campaign window (Kadane
  * via prefix sums), golden-record survivorship merge, and binned
  * conditional quantiles — time-series DP, master-data management, and
  * quantile-regression readouts, all integer-exact for the oracle gate.
  */
object SignalQueries extends QueryGroup {

  // ---------------------------------------------------------------- q390

  /** Best contiguous campaign window: the consecutive day span with the
    * largest cumulative revenue ABOVE the global daily mean — Kadane's
    * maximum-subarray, O(n)-sequential in a loop, here as pure window
    * algebra: deviations are exact (rev·n − total, no mean division),
    * the best span ending at t is prefix(t) − min(prefix(<t) ∪ {0}),
    * and the argmax plus a tiny join on the day table recovers the
    * span's start.
    *
    * Scale shape: everything after the daily fold runs on the
    * calendar-sized day table (sanctioned global windows); the fold
    * itself is one keyed agg. */
  private val q390 = QueryDef(
    "q390_best_campaign_window",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val tot = daily.agg(sum(col("rev_c")).as("total_c"), count(lit(1)).as("nd"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPrev = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val pref = daily.crossJoin(broadcast(tot))
        .withColumn("p", sum(col("rev_c") * col("nd") - col("total_c")).over(w))
        .withColumn("m", least(coalesce(min(col("p")).over(wPrev), lit(0L)), lit(0L)))
        .withColumn("best", col("p") - col("m"))
      val top = pref.agg(max(col("best")).as("best_v"))
      val end = pref.crossJoin(broadcast(top))
        .filter(col("best") === col("best_v"))
        .groupBy(col("best_v"))
        .agg(min(col("day")).as("end_day"),
          min_by(col("m"), col("day")).as("m_at_end"),
          max(col("nd")).as("nd"))
      val start = pref.select(col("day"), col("p")).crossJoin(broadcast(end))
        .filter(col("p") === col("m_at_end") && col("day") < col("end_day"))
        .groupBy(col("best_v"), col("end_day"), col("nd"))
        .agg(max(col("day")).as("d0"))
      val startAll = end.join(start, Seq("best_v", "end_day", "nd"), "left")
        .crossJoin(broadcast(daily.agg(min(col("day")).as("first_day"))))
      startAll
        .select(
          expr("best_v div nd").as("best_sum_c"),
          coalesce(date_add(col("d0"), 1), col("first_day")).as("start_day"),
          col("end_day"),
          (datediff(col("end_day"),
            coalesce(date_add(col("d0"), 1), col("first_day"))) + 1)
            .cast("long").as("span_days"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      tot AS (SELECT sum(rev_c) AS total_c, CAST(count(*) AS BIGINT) AS nd FROM daily),
      pref AS (
        SELECT day, nd,
          sum(rev_c * nd - total_c) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM daily CROSS JOIN tot),
      scored AS (
        SELECT day, nd, p,
          least(coalesce(min(p) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0) AS m
        FROM pref),
      best AS (
        SELECT max(p - m) AS best_v FROM scored),
      e AS (
        SELECT best_v, min(day) AS end_day, arg_min(m, day) AS m_at_end,
          max(nd) AS nd
        FROM scored CROSS JOIN best
        WHERE p - m = best_v
        GROUP BY best_v),
      s AS (
        SELECT max(scored.day) AS d0 FROM scored CROSS JOIN e
        WHERE scored.p = e.m_at_end AND scored.day < e.end_day),
      f AS (SELECT min(day) AS first_day FROM daily)
      SELECT CAST(best_v // nd AS BIGINT) AS best_sum_c,
        coalesce(d0 + 1, first_day) AS start_day,
        end_day,
        date_diff('day', coalesce(d0 + 1, first_day), end_day) + 1 AS span_days
      FROM e CROSS JOIN s CROSS JOIN f
    """))

  // ---------------------------------------------------------------- q391

  /** Golden-record survivorship merge: documents sharing a duplicate
    * family key (the 8-token prefix — boilerplate/template identity,
    * q177's signal) collapse into one master record under explicit
    * survivorship rules — smallest id as the canonical key, MAJORITY
    * lang and source (count-desc, value-asc tiebreak), max n_chars —
    * the MDM merge step that follows duplicate detection; q282 picks
    * one member, this FUSES fields across members.
    *
    * Scale shape: one key-keyed agg for the scalars plus one
    * (key, field)-keyed count → rank per majority field; joins stay on
    * the family key throughout (one shuffle family, AQE-coalesced). */
  private val q391 = QueryDef(
    "q391_golden_record_merge",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .withColumn("text", expr(
          "concat_ws(' ', slice(filter(split(text, ' '), t -> length(t) > 0), 1, 8))"))
      val base = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_members"),
          max(col("n_chars")).as("max_chars"))
        .filter(col("n_members") >= 2L)
      def majority(field: String, out: String) = {
        val wRank = Window.partitionBy(col("text"))
          .orderBy(col("cnt").desc, col(field))
        docs.groupBy(col("text"), col(field))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(wRank))
          .filter(col("rk") === 1)
          .select(col("text"), col(field).as(out))
      }
      base
        .join(majority("lang", "lang_majority"), Seq("text"))
        .join(majority("source", "source_majority"), Seq("text"))
        .select(col("canonical_id"), col("n_members"),
          col("lang_majority"), col("source_majority"), col("max_chars"))
        .orderBy(col("canonical_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang, source, n_chars,
          array_to_string(
            $duckTokens[1:8], ' ') AS text
        FROM documents),
      base AS (
        SELECT text, min(doc_id) AS canonical_id,
          CAST(count(*) AS BIGINT) AS n_members, max(n_chars) AS max_chars
        FROM d GROUP BY text HAVING count(*) >= 2),
      lang_m AS (
        SELECT text, lang AS lang_majority FROM (
          SELECT text, lang,
            row_number() OVER (PARTITION BY text
              ORDER BY count(*) DESC, lang) AS rk
          FROM d GROUP BY text, lang)
        WHERE rk = 1),
      src_m AS (
        SELECT text, source AS source_majority FROM (
          SELECT text, source,
            row_number() OVER (PARTITION BY text
              ORDER BY count(*) DESC, source) AS rk
          FROM d GROUP BY text, source)
        WHERE rk = 1)
      SELECT canonical_id, n_members, lang_majority, source_majority, max_chars
      FROM base JOIN lang_m USING (text) JOIN src_m USING (text)
      ORDER BY canonical_id
    """))

  // ---------------------------------------------------------------- q392

  /** Binned conditional quantiles ("poor man's quantile regression"):
    * p25/p50/p75 of the line price at EVERY quantity level 1..50 — the
    * distributional price-vs-volume curve that a conditional mean
    * (q236's elasticity) flattens away. Exact rank selection per bin
    * via RankSelect's two-level histogram (no per-group sort of raw
    * rows at scale).
    *
    * Scale shape: RankSelect — coarse $10-bin histogram per quantity
    * level, cumulative window over bins, exact refinement only inside
    * selected bins. */
  private val q392 = QueryDef(
    "q392_conditional_price_quantiles",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(floor(col("l_quantity") + 0.5).cast("long").as("qty"),
          cents(col("l_extendedprice")).as("price_c"))
      graft.operators.RankSelect
        .percentiles(li, "qty", "price_c", Seq(2500, 5000, 7500), binWidth = 1000L)
        .select(col("qty"), col("n"),
          col("p_2500").as("p25_c"), col("p_5000").as("p50_c"),
          col("p_7500").as("p75_c"))
        .orderBy(col("qty"))
    },
    Some("""
      WITH li AS (
        SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
          CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS price_c
        FROM lineitem),
      cum AS (
        SELECT qty, price_c, c,
          sum(c) OVER (PARTITION BY qty ORDER BY price_c) AS cum,
          sum(c) OVER (PARTITION BY qty) AS n
        FROM (SELECT qty, price_c, count(*) AS c FROM li GROUP BY 1, 2))
      SELECT qty, CAST(max(n) AS BIGINT) AS n,
        CAST(min(CASE WHEN cum * 10000 >= 2500 * n THEN price_c END) AS BIGINT) AS p25_c,
        CAST(min(CASE WHEN cum * 10000 >= 5000 * n THEN price_c END) AS BIGINT) AS p50_c,
        CAST(min(CASE WHEN cum * 10000 >= 7500 * n THEN price_c END) AS BIGINT) AS p75_c
      FROM cum
      GROUP BY qty
      ORDER BY qty
    """))

  // ---------------------------------------------------------------- q393

  /** Positional phrase search: every occurrence of the corpus's most
    * frequent word trigram, located through a POSITIONAL inverted index
    * (token → (doc, pos) postings) — the IR primitive behind exact
    * phrase queries, q63's index upgraded with positions. The phrase is
    * data-derived (top trigram, count-desc/gram-asc tiebreak) so the
    * query is self-contained at any SF.
    *
    * Scale shape: postings build is one explode; the phrase row is a
    * one-row broadcast; matching is three postings self-joins on
    * (doc, consecutive pos) — each join keyed, each side pre-filtered
    * to ONE token by the broadcast, so the joined volume is the
    * postings of three specific words, not the corpus. */
  private val q393 = QueryDef(
    "q393_phrase_search_positional",
    (spark, dir) => {
      val post = Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.expressions.tokens_native(col("text")))
            .as(Seq("pos", "token")))
      val grams = Tables.documents(spark, dir)
        .withColumn("tk", graft.functions.expressions.tokens_native(col("text")))
        .filter(size(col("tk")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', slice(tk, i, 3)))"))
          .as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      val top = grams.orderBy(col("n").desc, col("gram")).limit(1)
        .select(split(col("gram"), " ").as("ws"), col("gram"))
        .select(col("gram"), col("ws").getItem(0).as("w1"),
          col("ws").getItem(1).as("w2"), col("ws").getItem(2).as("w3"))
      val p1 = post.crossJoin(broadcast(top)).filter(col("token") === col("w1"))
        .select(col("doc_id"), col("pos"), col("gram"), col("w2"), col("w3"))
      val p2 = post.select(col("doc_id").as("d2"), col("pos").as("q2"),
        col("token").as("t2"))
      val p3 = post.select(col("doc_id").as("d3"), col("pos").as("q3"),
        col("token").as("t3"))
      p1.join(p2, col("doc_id") === col("d2") && col("q2") === col("pos") + 1 &&
          col("t2") === col("w2"))
        .join(p3, col("doc_id") === col("d3") && col("q3") === col("pos") + 2 &&
          col("t3") === col("w3"))
        .select(col("gram").as("phrase"), col("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy(col("doc_id"), col("pos"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents),
      grams AS (
        SELECT unnest([array_to_string(t.tk[i:i+2], ' ')
                       for i in range(1, len(t.tk) - 1)]) AS gram
        FROM tk t WHERE len(t.tk) >= 3),
      top AS (
        SELECT gram, str_split(gram, ' ') AS ws
        FROM (SELECT gram, count(*) AS n FROM grams GROUP BY 1
              ORDER BY n DESC, gram LIMIT 1)),
      post AS (
        SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos, tk[CAST(i.i AS INTEGER)] AS token
        FROM tk, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) i)
      SELECT top.gram AS phrase, p1.doc_id, p1.pos
      FROM post p1
      JOIN top ON p1.token = ws[1]
      JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                   AND p2.token = ws[2]
      JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
                   AND p3.token = ws[3]
      ORDER BY p1.doc_id, p1.pos
    """))

  // ---------------------------------------------------------------- q394

  /** One real BPE training step: find the corpus's best character pair,
    * MERGE it everywhere (the step q104's pair census stops short of),
    * and emit the next round's top-5 pairs — demonstrating that
    * tokenizer training iterates entirely inside the engine. Sequences
    * are space-joined symbols; the merge is a literal left-to-right
    * replace (identical semantics in both engines) — safe WITHOUT
    * q477's boundary anchoring because it runs exactly once on a
    * sequence of single-character symbols, where the 'x y' pattern can
    * only align on a symbol start (cross-boundary fusing needs a
    * multi-char symbol, which exists only from round 2 on); round-2
    * pairs come from array adjacency, immune to overlap artifacts.
    *
    * Scale shape: everything runs on the word-frequency table (the
    * vocabulary), not the corpus — one corpus scan feeds it; the merge
    * pair is a one-row broadcast. */
  private val q394 = QueryDef(
    "q394_bpe_merge_step",
    (spark, dir) => {
      val words = Tables.documents(spark, dir)
        .select(explode(graft.functions.expressions.tokens_native(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        // explicit substring chars: split(w, '') keeps a trailing empty
        // string under Java's limit=-1 semantics, which DuckDB's
        // str_split does not — substring indexing is identical in both
        .withColumn("seq", expr(
          "concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1)))"))
      def pairCounts(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("a", split(col("seq"), " "))
        .filter(size(col("a")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat(a[i - 1], ' ', a[i]))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      val top1 = pairCounts(words)
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair").as("merge_pair"), col("n").as("merge_n"),
          regexp_replace(col("pair"), " ", "").as("merged"))
      val merged = words.crossJoin(broadcast(top1))
        .withColumn("seq", expr("replace(seq, merge_pair, merged)"))
      val round2 = pairCounts(merged.select(col("f"), col("seq")))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("pair"))).cast("long"))
        .filter(col("rk") <= 5)
        .select(lit(2L).as("round"), col("rk"), col("pair"), col("n"))
      top1.select(lit(1L).as("round"), lit(1L).as("rk"),
          col("merge_pair").as("pair"), col("merge_n").as("n"))
        .union(round2)
        .orderBy(col("round"), col("rk"))
    },
    Some(s"""
      WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f,
          array_to_string([substring(w, CAST(i AS INTEGER), 1)
                           for i in range(1, len(w) + 1)], ' ') AS seq
        FROM (SELECT unnest($duckTokens) AS w
              FROM documents)
        GROUP BY w),
      p1 AS (
        SELECT pair, sum(f) AS n FROM (
          SELECT f, a[i] || ' ' || a[i + 1] AS pair
          FROM (SELECT f, str_split(seq, ' ') AS a FROM words),
            LATERAL (SELECT unnest(range(1, len(a))) AS i) i
          WHERE len(a) >= 2)
        GROUP BY pair),
      top1 AS (
        SELECT pair AS merge_pair, n AS merge_n, replace(pair, ' ', '') AS merged
        FROM p1 ORDER BY n DESC, pair LIMIT 1),
      merged AS (
        SELECT f, replace(seq, merge_pair, merged) AS seq
        FROM words CROSS JOIN top1),
      p2 AS (
        SELECT pair, sum(f) AS n FROM (
          SELECT f, a[i] || ' ' || a[i + 1] AS pair
          FROM (SELECT f, str_split(seq, ' ') AS a FROM merged),
            LATERAL (SELECT unnest(range(1, len(a))) AS i) i
          WHERE len(a) >= 2)
        GROUP BY pair),
      r2 AS (
        SELECT CAST(2 AS BIGINT) AS round, rk, pair, CAST(n AS BIGINT) AS n FROM (
          SELECT pair, n,
            CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
          FROM p2)
        WHERE rk <= 5)
      SELECT CAST(1 AS BIGINT) AS round, CAST(1 AS BIGINT) AS rk,
        merge_pair AS pair, CAST(merge_n AS BIGINT) AS n
      FROM top1
      UNION ALL
      SELECT round, rk, pair, n FROM r2
      ORDER BY round, rk
    """))

  // ---------------------------------------------------------------- q395

  /** Markov stationarity distance: push the EMPIRICAL event-type
    * distribution 8 power steps through the full first-order chain
    * (purchase as an ordinary state — no absorption) and measure the
    * total-variation distance to where it started, per state and in
    * total — near-zero means the click-stream is already mixing at its
    * stationary behavior; large means the observed mix is transient.
    * q374's machinery transposed: row-vector · matrix instead of
    * matrix · column-vector.
    *
    * Scale shape: same as q374 — the transition build scans events once
    * and localCheckpoints a ≤6×6 table; 8 unrolled tiny join+agg steps. */
  private val q395 = QueryDef(
    "q395_markov_stationarity",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val steps = ev
        .withColumn("nxt", lead(col("event_type"), 1).over(wU))
        .filter(col("nxt").isNotNull)
        .select(col("event_type").as("src"), col("nxt").as("dst"))
      val counts = steps.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val outs = counts.groupBy(col("src")).agg(sum(col("n")).as("tot"))
      val trans = counts.join(outs, Seq("src"))
        .select(col("src"), col("dst"), expr("n * 1000000 div tot").as("t_ppm"))
        .localCheckpoint(true)
      val emp = Tables.events(spark, dir)
        .groupBy(col("event_type").as("state")).agg(count(lit(1)).as("c"))
      val empTot = emp.agg(sum(col("c")).as("tc"))
      val d0 = emp.crossJoin(broadcast(empTot))
        .select(col("state"), expr("c * 1000000 div tc").as("d_ppm"))
      // r14: the chain is state-dimension-bounded (≤ 6×6 entries) at
      // every scale factor, so the 8 row-vector power steps fold into
      // ONE expression over the two collected arrays — the q374
      // discipline (r13) transposed. The former dataflow unrolled 8×
      // (join + keyed agg) over tiny tables: ~16 scheduling barriers
      // of pure floor. Recurrence, flooring order (Σ products, then ONE
      // div 1e6), and the missing-state→0 default are identical: a
      // state with no incoming edge folds to 0, exactly what the old
      // left-join + na.fill(0) produced. (plans/r14/q395_*.txt)
      val transRow = trans
        .agg(collect_list(struct(col("src"), col("dst"), col("t_ppm"))).as("tarr"))
      val d0Row = d0
        .agg(sort_array(collect_list(struct(col("state"), col("d_ppm")))).as("d0arr"))
      val iterExpr = """
        aggregate(sequence(1, 8),
          map_from_arrays(transform(d0arr, e -> e.state),
                          transform(d0arr, e -> e.d_ppm)),
          (v, step) -> map_from_arrays(
            transform(d0arr, e -> e.state),
            transform(d0arr, e ->
              aggregate(
                filter(tarr, t -> t.dst = e.state),
                CAST(0 AS BIGINT),
                (acc, t) -> acc + coalesce(try_element_at(v, t.src),
                                           CAST(0 AS BIGINT)) * t.t_ppm,
                s -> s div 1000000))),
          v -> v)"""
      d0Row.crossJoin(broadcast(transRow))
        .select(explode(col("d0arr")).as("e"), expr(iterExpr).as("ev"))
        .select(col("e.state").as("state"),
          col("e.d_ppm").as("empirical_ppm"),
          expr("coalesce(try_element_at(ev, e.state), CAST(0 AS BIGINT))")
            .as("evolved_ppm"))
        .select(col("state"), col("empirical_ppm"), col("evolved_ppm"),
          abs(col("empirical_ppm") - col("evolved_ppm")).as("abs_diff_ppm"))
        .orderBy(col("state"))
    },
    Some {
      // unrolled row-vector power steps as chained CTEs
      val stepCtes = (1 to 8).map { i =>
        val prev = if (i == 1) "d0" else s"d${i - 1}"
        s"""d$i AS (
          SELECT t.dst AS state, sum(p.d_ppm * t.t_ppm) // 1000000 AS d_ppm
          FROM trans t JOIN $prev p ON p.state = t.src
          GROUP BY 1)"""
      }.mkString(",\n")
      s"""
      WITH ev AS (
        SELECT event_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events),
      counts AS (
        SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS n
        FROM ev WHERE nxt IS NOT NULL GROUP BY 1, 2),
      outs AS (SELECT src, sum(n) AS tot FROM counts GROUP BY 1),
      trans AS (
        SELECT counts.src, dst, n * 1000000 // tot AS t_ppm
        FROM counts JOIN outs ON counts.src = outs.src),
      emp AS (
        SELECT event_type AS state, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      d0 AS (
        SELECT state, c * 1000000 // (SELECT sum(c) FROM emp) AS d_ppm FROM emp),
      $stepCtes
      SELECT d0.state, CAST(d0.d_ppm AS BIGINT) AS empirical_ppm,
        CAST(coalesce(d8.d_ppm, 0) AS BIGINT) AS evolved_ppm,
        CAST(abs(d0.d_ppm - coalesce(d8.d_ppm, 0)) AS BIGINT) AS abs_diff_ppm
      FROM d0 LEFT JOIN d8 USING (state)
      ORDER BY d0.state
      """
    })

  // ---------------------------------------------------------------- q396

  /** Rendezvous (highest-random-weight) sharding: every customer key
    * scores each shard with a deterministic hash and lands on the
    * argmax — then the audit re-runs with one shard ADDED and counts
    * who moves. HRW's guarantee (only keys whose argmax becomes the new
    * shard move, ≈ 1/(N+1) of them) is the property that makes
    * rebalancing cheap; q312's consistent-hash ring is the other
    * classic answer, this is the join-free one.
    *
    * Scale shape: explode keys × (N+1) shard ids (a constant fan-out),
    * one max_by per key per scenario, vocabulary-sized shard census. */
  private val q396 = QueryDef(
    "q396_rendezvous_sharding",
    (spark, dir) => {
      // h(k, s): Knuth multiplier over the masked key, shard-salted
      val keys = Tables.customer(spark, dir).select(col("c_custkey").as("k"))
        .withColumn("s", explode(expr("sequence(0L, 8L)")))
        // the key is PRE-HASHED before the per-shard multiplier (kept
        // odd: even step) — raw small keys times M_s walk the 2^32 ring
        // monotonically in s without wrapping, collapsing every argmax
        // onto the largest shard id; the ×16+s fold breaks exact hash
        // collisions between shards deterministically
        .withColumn("kh", expr(
          "((k % 2147483648) * 2654435761) % 4294967296 % 2147483648"))
        .withColumn("h", expr(
          "((kh * (2654435761 + s * 81006)) % 4294967296) * 16 + s"))
      val assign = keys.groupBy(col("k"))
        .agg(
          max_by(col("s"), when(col("s") < 8L, col("h")).otherwise(lit(-1L)))
            .as("shard8"),
          max_by(col("s"), col("h")).as("shard9"))
      assign.groupBy(col("shard9").as("shard"))
        .agg(
          sum(when(col("shard8") === col("shard9"), 1L).otherwise(0L)).as("n_stable"),
          sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L)).as("n_moved_in"))
        .withColumn("n_after", col("n_stable") + col("n_moved_in"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH keys AS (
        SELECT c_custkey AS k, s.s,
          (((((c_custkey % 2147483648) * 2654435761) % 4294967296 % 2147483648)
            * (2654435761 + s.s * 81006)) % 4294967296) * 16 + s.s AS h
        FROM customer, LATERAL (SELECT unnest(range(0, 9)) AS s) s),
      assign AS (
        SELECT k,
          arg_max(s, CASE WHEN s < 8 THEN h ELSE -1 END) AS shard8,
          arg_max(s, h) AS shard9
        FROM keys GROUP BY k)
      SELECT shard9 AS shard,
        CAST(count(*) FILTER (shard8 = shard9) AS BIGINT) AS n_stable,
        CAST(count(*) FILTER (shard8 <> shard9) AS BIGINT) AS n_moved_in,
        CAST(count(*) AS BIGINT) AS n_after
      FROM assign
      GROUP BY shard9
      ORDER BY shard
    """))

  // ---------------------------------------------------------------- q397

  /** word2vec-style unigram^{3/4} sampling table: token pick
    * probabilities proportional to f^{0.75}, the frequency flattening
    * every embedding trainer uses for negative sampling.
    * f^{3/4} = √(√(f³)) — two correctly-rounded IEEE square roots on an
    * exact integer (f³ < 2^53 at verified scales), floored to milli
    * units ONCE, so both engines produce identical weights with no
    * pow()/log() in sight.
    *
    * Scale shape: the whole computation lives on the vocabulary table;
    * the normalizing sum is a one-row broadcast. */
  private val q397 = QueryDef(
    "q397_unigram_sampling_table",
    (spark, dir) => {
      val freq = Tables.documents(spark, dir)
        .select(explode(graft.functions.expressions.tokens_native(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("f"))
        .withColumn("w_m", expr(
          "CAST(floor(sqrt(sqrt(CAST(f * f * f AS DOUBLE))) * 1000) AS BIGINT)"))
      val tot = freq.agg(sum(col("w_m")).as("tw"), sum(col("f")).as("tf"))
      freq.crossJoin(broadcast(tot))
        .select(col("token"), col("f"),
          expr("f * 1000000 div tf").as("raw_ppm"),
          expr("w_m * 1000000 div tw").as("sample_ppm"))
        .orderBy(col("f").desc, col("token"))
        .limit(20)
    },
    Some(s"""
      WITH freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS f,
          CAST(floor(sqrt(sqrt(CAST(f * f * f AS DOUBLE))) * 1000) AS BIGINT) AS w_m
        FROM (SELECT unnest($duckTokens) AS token FROM documents)
        GROUP BY token),
      tot AS (SELECT sum(w_m) AS tw, sum(f) AS tf FROM freq)
      SELECT token, f,
        CAST(f * 1000000 // tf AS BIGINT) AS raw_ppm,
        CAST(w_m * 1000000 // tw AS BIGINT) AS sample_ppm
      FROM freq CROSS JOIN tot
      ORDER BY f DESC, token
      LIMIT 20
    """))

  // ---------------------------------------------------------------- q398

  /** Disparate-impact (80%-rule) audit: per customer nation, the rate
    * of above-mean-value orders vs the LARGEST nation's rate, as an
    * exact ppm ratio with the classic fourth-fifths flag — the fairness
    * sanity check any scoring pipeline owes its selection step. The
    * above-mean test is the cross-multiplied rev·n > total (no mean
    * division), the reference group is data-derived (max population,
    * nation-name tiebreak).
    *
    * Scale shape: one orders↔customer join (nation broadcast), a
    * nation-keyed census, a one-row broadcast reference. */
  private val q398 = QueryDef(
    "q398_disparate_impact_audit",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey"), cents(col("o_totalprice")).as("v_c"))
      val tot = o.agg(sum(col("v_c")).as("total_c"), count(lit(1)).as("n"))
      val rates = o.crossJoin(broadcast(tot))
        .withColumn("pos", when(col("v_c") * col("n") > col("total_c"), 1L).otherwise(0L))
        .join(Tables.customer(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sum(col("pos")).as("n_pos"))
        .withColumn("rate_ppm", expr("n_pos * 1000000 div n_orders"))
      val ref = rates
        .orderBy(col("n_orders").desc, col("n_name")).limit(1)
        .select(col("n_name").as("ref_nation"), col("rate_ppm").as("ref_ppm"))
      rates.crossJoin(broadcast(ref))
        .select(col("n_name"), col("n_orders"), col("rate_ppm"), col("ref_nation"),
          expr("CASE WHEN ref_ppm = 0 THEN 1000000 " +
            "ELSE rate_ppm * 1000000 div ref_ppm END").as("impact_ratio_ppm"))
        .withColumn("below_four_fifths", col("impact_ratio_ppm") < 800000L)
        .orderBy(col("n_name"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v_c
        FROM orders),
      tot AS (SELECT sum(v_c) AS total_c, CAST(count(*) AS BIGINT) AS n FROM o),
      rates AS (
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
          CAST(count(*) FILTER (v_c * n > total_c) AS BIGINT) AS n_pos,
          CAST(count(*) FILTER (v_c * n > total_c) AS BIGINT) * 1000000
            // CAST(count(*) AS BIGINT) AS rate_ppm
        FROM o CROSS JOIN tot
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name),
      ref AS (
        SELECT n_name AS ref_nation, rate_ppm AS ref_ppm
        FROM rates ORDER BY n_orders DESC, n_name LIMIT 1)
      SELECT n_name, n_orders, rate_ppm, ref_nation,
        CASE WHEN ref_ppm = 0 THEN CAST(1000000 AS BIGINT)
             ELSE rate_ppm * 1000000 // ref_ppm END AS impact_ratio_ppm,
        (CASE WHEN ref_ppm = 0 THEN CAST(1000000 AS BIGINT)
              ELSE rate_ppm * 1000000 // ref_ppm END) < 800000
          AS below_four_fifths
      FROM rates CROSS JOIN ref
      ORDER BY n_name
    """))

  // ---------------------------------------------------------------- q399

  /** Instrumental-variable Wald estimator: the effect of a deep
    * discount (≥ 5%) on line quantity, instrumented by the weekend
    * placement of the order — ITT over first-stage as one exact
    * cross-multiplied rational. Completes the causal toolkit next to
    * DiD (q240), CUPED (q332) and AIPW (q356); the instrument's
    * day-of-week comes from epoch-day arithmetic, not the engines'
    * (incompatible) dayofweek conventions.
    *
    * Scale shape: one orderkey join, one conditional aggregate row;
    * the Wald ratio is sign-safe integer division (q301's pattern). */
  private val q399 = QueryDef(
    "q399_iv_wald_estimator",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          graft.functions.Deterministic.epochS(col("o_orderdate")).as("od_s"))
        // epoch-day mod 7 with 1970-01-01 = Thursday ⇒ 0 = Sunday
        .withColumn("dow", expr("((od_s div 86400) + 4) % 7"))
      val base = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"),
          (cents(col("l_discount")) >= 5L).cast("long").as("x"),
          floor(col("l_quantity") + 0.5).cast("long").as("y"))
        .join(o.withColumn("z",
          (col("dow") === 0L || col("dow") === 6L).cast("long")),
          col("l_orderkey") === col("o_orderkey"))
      base.agg(
          sum(when(col("z") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("z") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("z") === 1L, col("y")).otherwise(0L)).as("sy1"),
          sum(when(col("z") === 0L, col("y")).otherwise(0L)).as("sy0"),
          sum(when(col("z") === 1L, col("x")).otherwise(0L)).as("sx1"),
          sum(when(col("z") === 0L, col("x")).otherwise(0L)).as("sx0"))
        .select(col("n1"), col("n0"),
          (col("sy1") * col("n0") - col("sy0") * col("n1")).as("num"),
          (col("sx1") * col("n0") - col("sx0") * col("n1")).as("den"))
        .select(col("n1"), col("n0"), col("num"), col("den"),
          expr("""CASE WHEN den = 0 THEN 0
                  WHEN (num >= 0) = (den >= 0)
                  THEN abs(num) * 1000 div abs(den)
                  ELSE -(abs(num) * 1000 div abs(den)) END""").as("wald_milli"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey,
          CASE WHEN ((epoch_ms(o_orderdate) // 1000 // 86400) + 4) % 7 IN (0, 6)
               THEN 1 ELSE 0 END AS z
        FROM orders),
      base AS (
        SELECT z,
          CASE WHEN CAST(floor(l_discount*100 + 0.5) AS BIGINT) >= 5
               THEN 1 ELSE 0 END AS x,
          CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
        FROM lineitem JOIN o ON l_orderkey = o_orderkey),
      m AS (
        SELECT
          CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
          CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
          CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
          CAST(sum(CASE WHEN z = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0
        FROM base),
      d AS (
        SELECT n1, n0, sy1 * n0 - sy0 * n1 AS num, sx1 * n0 - sx0 * n1 AS den
        FROM m)
      SELECT n1, n0, num, den,
        CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
             WHEN (num >= 0) = (den >= 0)
             THEN abs(num) * 1000 // abs(den)
             ELSE -(abs(num) * 1000 // abs(den)) END AS wald_milli
      FROM d
    """))

  // ---------------------------------------------------------------- q400

  /** Catalog census: one heartbeat row per table — row count, distinct
    * primary-key count, and the uniqueness verdict — across all ten
    * tables in one query. The daily data-platform health panel; q317
    * audits one table's key in depth, this sweeps the catalog (and
    * exposes that lineitem's (orderkey, linenumber) is NOT unique in
    * this data).
    *
    * Scale shape: ten independent single-row aggregates unioned — each
    * a map-side-combined count over its own scan; no joins. */
  private val q400 = QueryDef(
    "q400_catalog_row_census",
    (spark, dir) => {
      def census(name: String, df: org.apache.spark.sql.DataFrame, pk: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"), countDistinct(pk).as("n_keys"))
          .select(lit(name).as("table_name"), col("n_rows"), col("n_keys"),
            (col("n_rows") === col("n_keys")).as("pk_unique"))
      Seq(
        census("customer", Tables.customer(spark, dir), col("c_custkey")),
        census("documents", Tables.documents(spark, dir), col("doc_id")),
        census("embeddings", Tables.embeddings(spark, dir), col("vec_id")),
        census("events", Tables.events(spark, dir), col("event_id")),
        census("lineitem", Tables.lineitem(spark, dir),
          concat_ws("#", col("l_orderkey"), col("l_linenumber"))),
        census("nation", Tables.nation(spark, dir), col("n_nationkey")),
        census("orders", Tables.orders(spark, dir), col("o_orderkey")),
        census("part", Tables.part(spark, dir), col("p_partkey")),
        census("region", Tables.region(spark, dir), col("r_regionkey")),
        census("supplier", Tables.supplier(spark, dir), col("s_suppkey")))
        .reduce(_ union _)
        .orderBy(col("table_name"))
    },
    Some("""
      SELECT * FROM (
        SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
          count(*) = count(DISTINCT c_custkey) AS pk_unique FROM customer
        UNION ALL SELECT 'documents', count(*), count(DISTINCT doc_id),
          count(*) = count(DISTINCT doc_id) FROM documents
        UNION ALL SELECT 'embeddings', count(*), count(DISTINCT vec_id),
          count(*) = count(DISTINCT vec_id) FROM embeddings
        UNION ALL SELECT 'events', count(*), count(DISTINCT event_id),
          count(*) = count(DISTINCT event_id) FROM events
        UNION ALL SELECT 'lineitem', count(*),
          count(DISTINCT l_orderkey || '#' || l_linenumber),
          count(*) = count(DISTINCT l_orderkey || '#' || l_linenumber) FROM lineitem
        UNION ALL SELECT 'nation', count(*), count(DISTINCT n_nationkey),
          count(*) = count(DISTINCT n_nationkey) FROM nation
        UNION ALL SELECT 'orders', count(*), count(DISTINCT o_orderkey),
          count(*) = count(DISTINCT o_orderkey) FROM orders
        UNION ALL SELECT 'part', count(*), count(DISTINCT p_partkey),
          count(*) = count(DISTINCT p_partkey) FROM part
        UNION ALL SELECT 'region', count(*), count(DISTINCT r_regionkey),
          count(*) = count(DISTINCT r_regionkey) FROM region
        UNION ALL SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
          count(*) = count(DISTINCT s_suppkey) FROM supplier)
      ORDER BY table_name
    """))

  // ---------------------------------------------------------------- q401

  /** Day-of-week percentile envelope monitoring: each weekday's
    * p10–p90 band of daily revenue, plus how many days broke out of
    * their own weekday's band — the seasonal-aware alarm that a flat
    * global threshold (q130's volume anomaly) would mistune for
    * naturally-slow Sundays. Portably computed dow (epoch-day mod 7),
    * exact rank selection per band.
    *
    * Scale shape: the day table is calendar-sized; per-dow rank
    * selection runs on ≤ n/7 values per group via one cumulative
    * window over the (dow, value) histogram. */
  private val q401 = QueryDef(
    "q401_dow_percentile_envelope",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .select(graft.functions.Deterministic.epochS(col("o_orderdate")).as("od_s"),
          expr("CAST(o_orderdate AS DATE)").as("day"),
          cents(col("o_totalprice")).as("v_c"))
        .withColumn("dow", expr("((od_s div 86400) + 4) % 7"))
        .groupBy(col("dow"), col("day"))
        .agg(sum(col("v_c")).as("rev_c"))
      val env = graft.operators.RankSelect
        .percentiles(daily.select(col("dow"), col("rev_c")), "dow", "rev_c",
          Seq(1000, 9000), binWidth = 100000L)
        .select(col("dow"), col("n").as("n_days"),
          col("p_1000").as("p10_c"), col("p_9000").as("p90_c"))
      daily.join(env, Seq("dow"))
        .groupBy(col("dow"), col("n_days"), col("p10_c"), col("p90_c"))
        .agg(
          sum(when(col("rev_c") < col("p10_c"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("rev_c") > col("p90_c"), 1L).otherwise(0L)).as("n_above"))
        .orderBy(col("dow"))
    },
    Some("""
      WITH daily AS (
        SELECT ((epoch_ms(o_orderdate) // 1000 // 86400) + 4) % 7 AS dow,
          CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1, 2),
      cum AS (
        SELECT dow, rev_c, c,
          sum(c) OVER (PARTITION BY dow ORDER BY rev_c) AS cum,
          sum(c) OVER (PARTITION BY dow) AS n
        FROM (SELECT dow, rev_c, count(*) AS c FROM daily GROUP BY 1, 2)),
      env AS (
        SELECT dow, CAST(max(n) AS BIGINT) AS n_days,
          CAST(min(CASE WHEN cum * 10000 >= 1000 * n THEN rev_c END) AS BIGINT) AS p10_c,
          CAST(min(CASE WHEN cum * 10000 >= 9000 * n THEN rev_c END) AS BIGINT) AS p90_c
        FROM cum GROUP BY dow)
      SELECT daily.dow, n_days, p10_c, p90_c,
        CAST(count(*) FILTER (rev_c < p10_c) AS BIGINT) AS n_below,
        CAST(count(*) FILTER (rev_c > p90_c) AS BIGINT) AS n_above
      FROM daily JOIN env ON daily.dow = env.dow
      GROUP BY daily.dow, n_days, p10_c, p90_c
      ORDER BY daily.dow
    """))

  // ---------------------------------------------------------------- q402

  /** Exact 0/1 knapsack for source selection: which of the ten biggest
    * sources maximize DOCUMENT yield inside half the storage budget?
    * Weights are 64-bucket byte shares; with n = 10 items the exact
    * optimum is a 2¹⁰-subset enumeration — ONE parallel pass (masks ×
    * broadcast items → per-mask weight/value fold) — and is reported
    * against the density-greedy heuristic, optimality gap in ppm. The
    * sequential (item, capacity) DP unroll answers the same question in
    * 10 dependent union+max rounds; measured at 18 s of pure stage-
    * scheduling overhead on 33-row tables vs one round here — for
    * bounded n, enumeration IS the distributed form of DP.
    *
    * Scale shape: the corpus folds to ten item rows ONCE
    * (localCheckpoint — the mask join and the greedy pass must not
    * rescan documents); the search space is 1024 masks × 10 broadcast
    * items, bounded by construction. */
  private val q402 = QueryDef(
    "q402_knapsack_source_budget",
    (spark, dir) => {
      val cap = 32L
      val bySource = Tables.documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("v"), sum(col("n_chars")).as("bytes"))
      val top = bySource
        .withColumn("rn", row_number().over(
          Window.orderBy(col("bytes").desc, col("source"))).cast("long"))
        .filter(col("rn") <= 10L)
      val tot = top.agg(sum(col("bytes")).as("tot"))
      val items = top.crossJoin(broadcast(tot))
        .select(col("rn"), col("source"), col("v"),
          expr("(bytes * 64 + tot - 1) div tot").as("wb"))
        .localCheckpoint(true)
      val masks = spark.range(0, 1024).select(col("id").as("mask"))
      val best = masks
        .join(broadcast(items.select(col("rn"), col("v"), col("wb"))),
          expr("((mask div shiftleft(1L, CAST(rn - 1 AS INT))) % 2) = 1"))
        .groupBy(col("mask"))
        .agg(sum(col("wb")).as("w"), sum(col("v")).as("value"))
        .filter(col("w") <= cap)
        .agg(coalesce(max(col("value")), lit(0L)).as("dp_best"))
      val wG = Window.orderBy(expr("v * 1000000 div wb").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val greedy = items
        .withColumn("cumw", sum(col("wb")).over(wG))
        .filter(col("cumw") <= cap)
        .agg(coalesce(sum(col("v")), lit(0L)).as("greedy_v"))
      best.crossJoin(broadcast(greedy))
        .select(lit(cap).as("capacity"), col("dp_best"), col("greedy_v"),
          expr("CASE WHEN dp_best = 0 THEN 0 " +
            "ELSE (dp_best - greedy_v) * 1000000 div dp_best END").as("gap_ppm"))
    },
    Some {
      val dpSteps = (1 to 10).map { i =>
        val prev = if (i == 1) "dp0" else s"dp${i - 1}"
        s"""dp$i AS MATERIALIZED (
          SELECT c, max(value) AS value FROM (
            SELECT c, value FROM $prev
            UNION ALL
            SELECT $prev.c + it.wb AS c, $prev.value + it.v AS value
            FROM $prev CROSS JOIN (SELECT wb, v FROM items WHERE rn = $i) it
            WHERE $prev.c + it.wb <= 32)
          GROUP BY c)"""
      }.mkString(",\n")
      s"""
      WITH by_source AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS v, sum(n_chars) AS bytes
        FROM documents GROUP BY 1),
      top AS (
        SELECT source, v, bytes,
          CAST(row_number() OVER (ORDER BY bytes DESC, source) AS BIGINT) AS rn
        FROM by_source QUALIFY rn <= 10),
      tot AS (SELECT sum(bytes) AS tot FROM top),
      items AS MATERIALIZED (
        SELECT rn, source, v, (bytes * 64 + tot - 1) // tot AS wb
        FROM top CROSS JOIN tot),
      dp0 AS MATERIALIZED (SELECT unnest(range(0, 33)) AS c, CAST(0 AS BIGINT) AS value),
      $dpSteps,
      best AS (SELECT max(value) AS dp_best FROM dp10),
      greedy AS (
        SELECT coalesce(sum(v), 0) AS greedy_v FROM (
          SELECT v, sum(wb) OVER (ORDER BY v * 1000000 // wb DESC, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
          FROM items)
        WHERE cumw <= 32)
      SELECT CAST(32 AS BIGINT) AS capacity, CAST(dp_best AS BIGINT) AS dp_best,
        CAST(greedy_v AS BIGINT) AS greedy_v,
        CASE WHEN dp_best = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST((dp_best - greedy_v) * 1000000 // dp_best AS BIGINT) END
          AS gap_ppm
      FROM best CROSS JOIN greedy
      """
    })

  // ---------------------------------------------------------------- q403

  /** Shard-packing feasibility bounds: pack documents (by size) into
    * 64 KiB shards — the classic lower bounds (total/capacity fill
    * bound; count of over-half items) against a measured
    * sort-descending round-robin heuristic: makespan, overflowing
    * shards, and the makespan/capacity ratio. The pre-flight answer to
    * "how many output files will this need, and how bad is naive
    * placement?".
    *
    * Scale shape: the doc ranking is the one global sort (replaceable
    * by quantile binning at extreme scale, q82); the shard census is
    * k-bins-sized. */
  private val q403 = QueryDef(
    "q403_shard_packing_bounds",
    (spark, dir) => {
      val cap = 65536L
      val items = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars").as("sz"))
      val tot = items.agg(sum(col("sz")).as("total"), count(lit(1)).as("n_items"),
        sum(when(col("sz") * 2L > lit(cap), 1L).otherwise(0L)).as("lb_half"))
        .select(col("total"), col("n_items"), col("lb_half"),
          expr(s"(total + ${cap - 1}) div $cap").as("lb_fill"))
        .withColumn("k", greatest(col("lb_fill"), col("lb_half"), lit(1L)))
      val ranked = items.crossJoin(broadcast(tot))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("sz").desc, col("doc_id"))).cast("long"))
        .withColumn("shard", expr("(rn - 1) % k"))
      val loads = ranked.groupBy(col("shard"), col("k"), col("n_items"),
          col("total"), col("lb_fill"), col("lb_half"))
        .agg(sum(col("sz")).as("load"))
      loads.groupBy(col("k"), col("n_items"), col("total"),
          col("lb_fill"), col("lb_half"))
        .agg(max(col("load")).as("makespan"),
          sum(when(col("load") > lit(cap), 1L).otherwise(0L)).as("n_overflow"))
        .select(col("n_items"), col("total"), col("lb_fill"), col("lb_half"),
          col("k").as("k_shards"), col("makespan"), col("n_overflow"),
          expr(s"makespan * 1000000 div $cap").as("makespan_ratio_ppm"))
    },
    Some("""
      WITH items AS (SELECT doc_id, n_chars AS sz FROM documents),
      tot AS (
        SELECT sum(sz) AS total, CAST(count(*) AS BIGINT) AS n_items,
          CAST(count(*) FILTER (sz * 2 > 65536) AS BIGINT) AS lb_half,
          (sum(sz) + 65535) // 65536 AS lb_fill
        FROM items),
      k AS (
        SELECT total, n_items, lb_half, lb_fill,
          greatest(lb_fill, lb_half, 1) AS k
        FROM tot),
      ranked AS (
        SELECT sz, k, n_items, total, lb_fill, lb_half,
          (CAST(row_number() OVER (ORDER BY sz DESC, doc_id) AS BIGINT) - 1) % k
            AS shard
        FROM items CROSS JOIN k),
      loads AS (
        SELECT shard, k, n_items, total, lb_fill, lb_half, sum(sz) AS load
        FROM ranked GROUP BY 1, 2, 3, 4, 5, 6)
      SELECT n_items, CAST(total AS BIGINT) AS total,
        CAST(lb_fill AS BIGINT) AS lb_fill, lb_half,
        CAST(k AS BIGINT) AS k_shards,
        CAST(max(load) AS BIGINT) AS makespan,
        CAST(count(*) FILTER (load > 65536) AS BIGINT) AS n_overflow,
        CAST(max(load) * 1000000 // 65536 AS BIGINT) AS makespan_ratio_ppm
      FROM loads
      GROUP BY n_items, total, lb_fill, lb_half, k
    """))

  override def defs: Seq[QueryDef] =
    Seq(q390, q391, q392, q393, q394, q395, q396, q397, q398,
      q399, q400, q401, q402, q403)
}
