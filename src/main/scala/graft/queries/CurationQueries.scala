package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Decontaminate
import graft.functions.Deterministic.{cents, epochS}
import graft.operators.{Mixture, Packing, Sampling}
import graft.queries.SqlMacros._
import graft.text.{Redaction, TextAnalysis, TextFunctions}

/** Round-3 curation batch: the privacy / contamination / assembly
  * operators that finish a training corpus after dedup and quality
  * filtering — PII redaction, benchmark decontamination, sequence
  * packing, temperature-scaled mixing — plus the activity analytics
  * (cohorts, decayed scores) a serving-side pipeline runs on events.
  */
object CurationQueries extends QueryGroup {

  /** PII redaction (graft.text.Redaction): synthesizes a free-text
    * contact field from customer (name-derived email + TPC-H phone),
    * then strips both with cross-engine regexes and counts what was
    * removed. Narrow codegen'd regexp transforms — the corpus scan is
    * never shuffled. */
  private val q67 = QueryDef(
    "q67_pii_redaction",
    (spark, dir) => {
      // deterministic TPC-H-shaped phone synthesized from the key (the
      // synthetic customer table carries no phone column)
      val phone = format_string("%02d-%03d-%03d-%04d",
        lit(10) + col("c_custkey") % 25, lit(100) + col("c_custkey") % 900,
        lit(100) + (col("c_custkey") * 7) % 900, lit(1000) + (col("c_custkey") * 13) % 9000)
      val contact = concat(
        col("c_name"), lit(" reachable at "),
        lower(col("c_name")), lit("@example.com or "), phone)
      Tables.customer(spark, dir)
        .select(col("c_custkey"), contact.as("contact"))
        .select(col("c_custkey"),
          Redaction.emailCount(col("contact")).cast("long").as("n_emails"),
          Redaction.phoneCount(col("contact")).cast("long").as("n_phones"),
          Redaction.redact(col("contact")).as("redacted"))
        .orderBy("c_custkey")
    },
    Some(s"""
      WITH c AS (
        SELECT c_custkey,
          c_name || ' reachable at ' || lower(c_name) || '@example.com or ' ||
          printf('%02d-%03d-%03d-%04d', 10 + c_custkey % 25, 100 + c_custkey % 900,
            100 + (c_custkey * 7) % 900, 1000 + (c_custkey * 13) % 9000) AS contact
        FROM customer)
      SELECT c_custkey,
        CAST(len(regexp_extract_all(contact, '${Redaction.EmailPattern}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(contact, '${Redaction.PhonePattern}')) AS BIGINT) AS n_phones,
        regexp_replace(regexp_replace(contact, '${Redaction.EmailPattern}', '[EMAIL]', 'g'),
          '${Redaction.PhonePattern}', '[PHONE]', 'g') AS redacted
      FROM c ORDER BY c_custkey
    """))

  /** Benchmark decontamination (graft.dedup.Decontaminate): documents
    * with doc_id ≡ 0 (mod 10) play the held-out eval suite; every other
    * document sharing a 5-token gram with it is flagged with its overlap
    * count. The benchmark gram set reduces to a broadcast — the corpus
    * side is filtered in place, never shuffled. */
  private val q68 = QueryDef(
    "q68_decontamination",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      Decontaminate.overlap(train, bench, "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $duckTokens AS tk FROM documents),
      grams AS (
        SELECT doc_id, unnest(list_distinct(
          [array_to_string(tk[i:i+4], ' ') for i in range(1, len(tk)-3)])) AS gram
        FROM toks WHERE len(tk) >= 5),
      bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
      FROM grams g JOIN bench USING (gram)
      WHERE g.doc_id % 10 <> 0
      GROUP BY g.doc_id ORDER BY g.doc_id
    """))

  /** Sequence packing (graft.operators.Packing): concatenate each
    * (lang, shard) stream in doc_id order and cut every 512 tokens;
    * each doc reports the context window it starts in and its offset.
    * The shard (doc_id mod 4) is the parallelism dial — no global sort
    * ever happens, each cell packs independently. */
  private val q69 = QueryDef(
    "q69_sequence_packing",
    (spark, dir) => {
      val withTokens = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), (col("doc_id") % 4).as("shard"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packByRunningSum(withTokens, Seq("lang", "shard"), "doc_id",
          "n_tokens", budget = 512)
        .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
          col("bin"), col("bin_offset"))
        .orderBy("lang", "shard", "doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, doc_id % 4 AS shard,
          CAST(len($duckTokens) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY lang, shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
        FROM t)
      SELECT lang, shard, doc_id, n_tokens,
        CAST(start_off // 512 AS BIGINT) AS bin,
        CAST(start_off % 512 AS BIGINT) AS bin_offset
      FROM r ORDER BY lang, shard, doc_id
    """))

  /** Temperature-scaled mixture census (graft.operators.Mixture): per
    * source — natural count, quantized sqrt weight (T=2), integer sample
    * target for a 200-doc draw, and how many docs the deterministic
    * hash threshold actually keeps. All integer arithmetic end to end. */
  private val q70 = QueryDef(
    "q70_mixture_sampling",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val targets = Mixture.sourceTargets(docs, "source", totalTarget = 200L)
      val sampled = Mixture.sampleWithTargets(docs, "source", col("doc_id"), targets)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
      targets
        .join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("q_weight"), col("target_n"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("source")
    },
    Some("""
      WITH census AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(floor(sqrt(count(*)) * 1e6 + 0.5) AS BIGINT) AS q_weight
        FROM documents GROUP BY source),
      tot AS (SELECT sum(q_weight) AS q_total FROM census),
      tgt AS (
        SELECT source, n_docs, q_weight,
          CAST(200 * q_weight // q_total AS BIGINT) AS target_n,
          CAST(CASE WHEN 200 * q_weight // q_total = 0 THEN 0
               ELSE (200 * q_weight // q_total * 4294967296 - 1) // n_docs + 1
               END AS BIGINT) AS hash_threshold
        FROM census CROSS JOIN tot),
      samp AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
        FROM documents d JOIN tgt USING (source)
        WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296
              < tgt.hash_threshold
        GROUP BY d.source)
      SELECT t.source, t.n_docs, t.q_weight, t.target_n,
        CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
      FROM tgt t LEFT JOIN samp s USING (source)
      ORDER BY source
    """))

  /** Cohort retention: users grouped by first-seen day, distinct active
    * users per (cohort day, day offset) — the engagement matrix. Two
    * keyed hash aggregations and one user-keyed join; nothing global,
    * nothing sorted beyond the final (tiny) result. */
  private val q71 = QueryDef(
    "q71_cohort_retention",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"))
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .withColumn("day_offset", col("day") - col("cohort_day"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""
      WITH e AS (
        SELECT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
      FROM e JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Time-decayed activity score: per-user sum of value·2^-Δhours
    * relative to the corpus-max timestamp, events older than 20 h
    * contributing nothing. The decay factor is a power of two and the
    * exponent bounded, so every term is an EXACT long (cents·2^(20-Δ))
    * and the sum is order-independent — a deterministic EWMA, portable
    * across engines, where a naive double a^Δt fold would hash-diverge
    * on partition order. One broadcast scalar + one hash aggregation. */
  private val q72 = QueryDef(
    "q72_time_decay",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"),
          cents(col("value")).as("vc"))
      val ref = ev.agg(max(col("ts_s")).as("t_ref"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"), col("vc"), expr("(t_ref - ts_s) div 3600").as("dt_h"))
        .filter(col("dt_h") <= 20)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_recent"),
          sum(expr("vc * CAST(power(2.0D, 20 - dt_h) AS BIGINT)")).as("decayed_q"))
        .select(col("user_id"), col("n_recent"), col("decayed_q"),
          (col("decayed_q").cast("double") / lit(1048576.0d)).as("score_cents"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events),
      r AS (SELECT max(ts_s) AS t_ref FROM e),
      d AS (
        SELECT user_id, vc, (t_ref - ts_s) // 3600 AS dt_h
        FROM e CROSS JOIN r
        WHERE (t_ref - ts_s) // 3600 <= 20)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        CAST(sum(vc * CAST(power(2.0, 20 - dt_h) AS BIGINT)) AS BIGINT) AS decayed_q,
        CAST(sum(vc * CAST(power(2.0, 20 - dt_h) AS BIGINT)) AS BIGINT) / 1048576.0
          AS score_cents
      FROM d GROUP BY user_id ORDER BY user_id
    """))

  /** Gopher-style repetition filters (graft.text.TextAnalysis
    * .repetitionStats): duplicate-token fraction and top-bigram fraction
    * per document — the boilerplate/degenerate-repetition signals. */
  private val q73 = QueryDef(
    "q73_repetition_stats",
    (spark, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, $duckTokens AS tk FROM documents),
      h AS (
        SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
          list_transform(tk, tok -> ${duckPolyHashOf("tok")}) AS th
        FROM t WHERE len(tk) >= 2),
      b AS (
        SELECT doc_id, n_tokens, n_distinct,
          unnest([th[i]*2147483648 + th[i+1] for i in range(1, len(th))]) AS bigram
        FROM h),
      c AS (
        SELECT doc_id, n_tokens, n_distinct, bigram, count(*) AS cnt
        FROM b GROUP BY 1, 2, 3, 4)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
        CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS BIGINT) AS top_bigram_frac
      FROM c GROUP BY doc_id, n_tokens, n_distinct ORDER BY doc_id
    """))

  /** Per-user inter-event gap statistics: lag-window deltas then one
    * hash aggregation. The window partitions by user — millions of tiny
    * sorted partitions, never a global sort; exact integer gaps, the
    * mean being the single final int→double division. */
  private val q76 = QueryDef(
    "q76_user_gap_stats",
    (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), count(col("gap")).as("n_gaps"),
          max(col("gap")).as("max_gap_s"), sum(col("gap")).as("sum_gap_s"))
        .withColumn("avg_gap_s", col("sum_gap_s").cast("double") / col("n_gaps"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      g AS (
        SELECT user_id,
          ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS gap
        FROM e)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(gap) AS BIGINT) AS n_gaps,
        CAST(max(gap) AS BIGINT) AS max_gap_s,
        CAST(sum(gap) AS BIGINT) AS sum_gap_s,
        CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / count(gap) AS avg_gap_s
      FROM g GROUP BY user_id ORDER BY user_id
    """))

  /** Explicit GROUPING SETS with grouping_id — the general form rollup
    * and cube (q19/q37) specialize: ((flag,status),(flag),()) in ONE
    * Expand+aggregate pass instead of three unioned scans. */
  private val q77 = QueryDef(
    "q77_grouping_sets",
    (spark, dir) => {
      Tables.lineitem(spark, dir).createOrReplaceTempView("graft_li_gs")
      spark.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          CAST(count(*) AS BIGINT) AS n_rows,
          sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS revenue_cents
        FROM graft_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, l_returnflag, l_linestatus
    """))

  /** Session path mining: sessionize by 30-min inactivity gaps (lag +
    * cumulative-flag windows, the per-event-session-id counterpart of
    * q38's session_window aggregation), then rank the most common
    * event-type paths. Windows partition by user (never global); the
    * path build sorts only WITHIN a session (array_sort over its few
    * events); top-20 is TakeOrdered. */
  private val q87 = QueryDef(
    "q87_session_paths",
    (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochS(col("ts")).as("ts_s"))
      val sessions = ev
        .withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(w))
      val paths = sessions
        .groupBy(col("user_id"), col("session_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts_s"), col("event_id"), col("event_type")))),
            s => s.getField("event_type")), ">").as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      f AS (
        SELECT user_id, event_id, event_type, ts_s,
          CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      g AS (
        SELECT *, sum(new_s) OVER (
          PARTITION BY user_id ORDER BY ts_s, event_id
          ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f),
      p AS (
        SELECT user_id, session_id,
          string_agg(event_type, '>' ORDER BY ts_s, event_id) AS path
        FROM g GROUP BY 1, 2)
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM p GROUP BY path
      ORDER BY n_sessions DESC, path LIMIT 20
    """))

  /** Packing-efficiency census over q69's bins: how full do the
    * 512-token context windows actually get? Each (lang, shard, bin)
    * sums the tokens of docs STARTING in it; fill buckets at 10%
    * resolution (overfull bins — a doc straddling the boundary — land
    * in the top bucket), and each cell's LAST bin is counted apart
    * because its underfill is the inherent stream tail, not packing
    * waste. The padding-waste number that decides whether plain
    * running-sum packing suffices or first-fit-decreasing is worth a
    * sort at 100 TB.
    *
    * Scale shape: q69's keyed window, one (cell, bin) agg, a ≤12-row
    * bucket census. */
  private val q245 = QueryDef(
    "q245_packing_waste",
    (spark, dir) => {
      val withTokens = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), (col("doc_id") % 4).as("shard"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val packed = Packing.packByRunningSum(withTokens, Seq("lang", "shard"),
        "doc_id", "n_tokens", budget = 512)
      packed
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(sum(col("n_tokens")).as("toks"))
        .withColumn("last_bin",
          (col("bin") === max(col("bin")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("lang"), col("shard"))))
            .cast("long"))
        .select(least(lit(10L), expr("toks * 10 DIV 512")).as("fill_bucket"),
          col("last_bin"), col("toks"))
        .groupBy(col("fill_bucket"))
        .agg(count(lit(1)).as("n_bins"), sum(col("last_bin")).as("n_tail_bins"),
          sum(col("toks")).as("tokens"))
        .orderBy(col("fill_bucket"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, doc_id % 4 AS shard,
          CAST(len($duckTokens) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY lang, shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
        FROM t),
      pb AS (
        SELECT lang, shard, CAST(start_off // 512 AS BIGINT) AS bin,
          CAST(sum(n_tokens) AS BIGINT) AS toks
        FROM r GROUP BY lang, shard, bin),
      lb AS (
        SELECT lang, shard, bin, toks,
          CASE WHEN bin = max(bin) OVER (PARTITION BY lang, shard) THEN 1 ELSE 0 END
            AS last_bin
        FROM pb)
      SELECT least(10, toks * 10 // 512) AS fill_bucket,
        CAST(count(*) AS BIGINT) AS n_bins,
        CAST(sum(last_bin) AS BIGINT) AS n_tail_bins,
        CAST(sum(toks) AS BIGINT) AS tokens
      FROM lb GROUP BY 1 ORDER BY fill_bucket
    """))

  def defs: Seq[QueryDef] = Seq(q67, q68, q69, q70, q71, q72, q73, q76, q77, q87, q245)
}
