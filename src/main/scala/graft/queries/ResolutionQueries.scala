package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.epochS
import graft.functions.expressions.tokens_native
import graft.queries.SqlMacros._

/** Entity-resolution and n-gram-model operators (round 3): fuzzy record
  * matching, conditional-probability tables, portable calendar
  * decomposition.
  */
object ResolutionQueries extends QueryGroup {

  /** Fuzzy entity matching by blocked Levenshtein: a corrupted supplier
    * registry (one character deterministically dropped per name) matched
    * back to the clean table. The block key (last 3 name chars) keeps
    * the comparison set per record O(corpus / 10^3) — edit distance
    * only ever runs INSIDE a block, never all-pairs; both engines share
    * the same unit-cost Levenshtein definition. */
  private val q78 = QueryDef(
    "q78_fuzzy_match",
    (spark, dir) => {
      val sup = Tables.supplier(spark, dir)
      val dirty = sup
        .withColumn("p", (lit(6) + col("s_suppkey") % 8).cast("int"))
        .select(col("s_suppkey").as("d_key"),
          expr("concat(substr(s_name, 1, p - 1), substr(s_name, p + 1))").as("d_name"))
      val clean = sup.select(col("s_suppkey"), col("s_name"))
      clean
        .join(dirty, substring(col("s_name"), -3, 3) === substring(col("d_name"), -3, 3))
        .withColumn("distance", levenshtein(col("s_name"), col("d_name")).cast("long"))
        .filter(col("distance") <= 1)
        .select(col("d_key"), col("d_name"), col("s_suppkey").as("match_key"),
          col("distance"))
        .orderBy("d_key", "match_key")
    },
    Some("""
      WITH dirty AS (
        SELECT s_suppkey AS d_key,
          concat(substr(s_name, 1, CAST(6 + s_suppkey % 8 AS INT) - 1),
                 substr(s_name, CAST(6 + s_suppkey % 8 AS INT) + 1)) AS d_name
        FROM supplier)
      SELECT d.d_key, d.d_name, c.s_suppkey AS match_key,
        CAST(levenshtein(c.s_name, d.d_name) AS BIGINT) AS distance
      FROM supplier c JOIN dirty d
        ON substr(c.s_name, -3) = substr(d.d_name, -3)
      WHERE levenshtein(c.s_name, d.d_name) <= 1
      ORDER BY d_key, match_key
    """))

  /** Corpus bigram language-model table: P(next | head) with top-3 next
    * words per head. Adjacent pairs come from a positional self-join
    * (posexplode → equi-join on (doc, pos)), counts from two hash
    * aggregations; both count tables are vocabulary-sized, so the
    * conditional-probability join is broadcast-light at any corpus
    * size. The single int→double division is the only non-integer op. */
  private val q79 = QueryDef(
    "q79_bigram_lm",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(tokens_native(col("text"))).as(Seq("pos", "token")))
      val heads = tok.select(col("doc_id"), col("pos"), col("token").as("w1"))
      val nexts = tok.select(col("doc_id"), (col("pos") - 1).as("pos"), col("token").as("w2"))
      val cnt = heads.join(nexts, Seq("doc_id", "pos"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val head = cnt.groupBy(col("w1")).agg(sum(col("cnt")).as("head_total"))
      cnt.join(head, Seq("w1"))
        .withColumn("p", col("cnt").cast("double") / col("head_total"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("w1"), col("w2"), col("cnt"), col("head_total"), col("p"), col("rnk"))
        .orderBy("w1", "rnk")
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $duckTokens AS tk FROM documents),
      b AS (
        SELECT unnest([struct_pack(w1 := tk[i], w2 := tk[i+1])
                       for i in range(1, len(tk))]) AS s
        FROM tk WHERE len(tk) >= 2),
      c AS (
        SELECT s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2),
      h AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS head_total FROM c GROUP BY 1)
      SELECT c.w1, c.w2, cnt, head_total,
        CAST(cnt AS DOUBLE) / head_total AS p,
        CAST(row_number() OVER (PARTITION BY c.w1 ORDER BY cnt DESC, c.w2) AS BIGINT) AS rnk
      FROM c JOIN h USING (w1)
      QUALIFY rnk <= 3
      ORDER BY w1, rnk
    """))

  /** Portable calendar decomposition: every part either agrees across
    * engines natively (year/month/day/hour/minute/doy under the pinned
    * UTC session) or is derived by explicit epoch arithmetic where
    * engine conventions diverge — day-of-week from epoch days
    * ((d+4) mod 7, 1970-01-01 being a Thursday) instead of the
    * 0-vs-1-based dayofweek builtins, week index as (doy-1) DIV 7. */
  private val q80 = QueryDef(
    "q80_calendar_parts",
    (spark, dir) => {
      Tables.events(spark, dir)
        .filter(col("event_id") % 199 === 0)
        .select(col("event_id"), epochS(col("ts")).as("ts_s"),
          year(col("ts")).cast("long").as("y"),
          month(col("ts")).cast("long").as("mo"),
          dayofmonth(col("ts")).cast("long").as("d"),
          hour(col("ts")).cast("long").as("h"),
          minute(col("ts")).cast("long").as("mi"),
          dayofyear(col("ts")).cast("long").as("doy"))
        .withColumn("dow", expr("(ts_s div 86400 + 4) % 7"))
        .withColumn("week_idx", expr("(doy - 1) div 7 + 1"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id,
        CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
        CAST(year(ts) AS BIGINT) AS y,
        CAST(month(ts) AS BIGINT) AS mo,
        CAST(day(ts) AS BIGINT) AS d,
        CAST(hour(ts) AS BIGINT) AS h,
        CAST(minute(ts) AS BIGINT) AS mi,
        CAST(dayofyear(ts) AS BIGINT) AS doy,
        CAST((epoch_ms(ts) // 1000 // 86400 + 4) % 7 AS BIGINT) AS dow,
        CAST((dayofyear(ts) - 1) // 7 + 1 AS BIGINT) AS week_idx
      FROM events WHERE event_id % 199 = 0
      ORDER BY event_id
    """))

  /** Time-series similarity search (the distributed-streams shape of
    * EDBT'19's similarity search): top-10 users whose DAILY activity
    * series best correlates with user 0's. Series are integer daily
    * cent-sums on a fixed 30-day index with implicit zeros — so an
    * inner day-join computes Σx·y exactly (zero days contribute 0),
    * and Pearson r comes from the q66 integer-moment identity: exact
    * longs everywhere, one IEEE expression at the end. Scale shape:
    * the query vector is day-keyed and tiny (broadcast); everything
    * else is per-user hash aggregation — no pairwise user join ever
    * happens. `daily` feeds three consumers (moments, query vector,
    * Σx·y) so it is persisted lazily and the corpus is scanned once;
    * the day-span scalar is a broadcast one-row aggregate, not a
    * driver collect — the constructor launches NO jobs. */
  private val q89 = QueryDef(
    "q89_timeseries_similarity",
    (spark, dir) => {
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), epochS(col("ts")).as("ts_s"),
          graft.functions.Deterministic.cents(col("value")).as("vc"))
        .select(col("user_id"), expr("ts_s div 86400").as("day"), col("vc"))
      val daily = ev.groupBy(col("user_id"), col("day")).agg(sum(col("vc")).as("v"))
        .persist()
      // day span over daily ≡ span over ev (grouping drops no days)
      val span = daily.agg((max(col("day")) - min(col("day")) + 1).as("n_days"))
      val mom = daily.groupBy(col("user_id"))
        .agg(sum(col("v")).as("sx"), sum(col("v") * col("v")).as("sxx"))
      val qDaily = daily.filter(col("user_id") === 0L).select(col("day"), col("v").as("qv"))
      val qMom = mom.filter(col("user_id") === 0L)
        .select(col("sx").as("qsx"), col("sxx").as("qsxx"))
      val sxy = daily.join(broadcast(qDaily), Seq("day"))
        .filter(col("user_id") =!= 0L)
        .groupBy(col("user_id")).agg(sum(col("v") * col("qv")).as("sxy"))
      mom.filter(col("user_id") =!= 0L)
        .join(sxy, Seq("user_id"), "left")
        .crossJoin(broadcast(qMom))
        .crossJoin(broadcast(span))
        .withColumn("sxy0", coalesce(col("sxy"), lit(0L)))
        .filter(col("n_days") * col("sxx") - col("sx") * col("sx") > 0)
        .select(col("user_id"),
          ((d(col("n_days")) * d(col("sxy0")) - d(col("qsx")) * d(col("sx"))) /
            sqrt((d(col("n_days")) * d(col("qsxx")) - d(col("qsx")) * d(col("qsx"))) *
              (d(col("n_days")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))).as("corr"))
        .orderBy(col("corr").desc, col("user_id"))
        .limit(10)
    },
    Some("""
      WITH e AS (
        SELECT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events),
      span AS (SELECT CAST(max(day) - min(day) + 1 AS BIGINT) AS n FROM e),
      daily AS (
        SELECT user_id, day, CAST(sum(vc) AS BIGINT) AS v
        FROM e GROUP BY 1, 2),
      mom AS (
        SELECT user_id, CAST(sum(v) AS BIGINT) AS sx,
          CAST(sum(v*v) AS BIGINT) AS sxx
        FROM daily GROUP BY 1),
      q AS (SELECT day, v AS qv FROM daily WHERE user_id = 0),
      qm AS (SELECT sx AS qsx, sxx AS qsxx FROM mom WHERE user_id = 0),
      sxy AS (
        SELECT d.user_id, CAST(sum(d.v * q.qv) AS BIGINT) AS sxy
        FROM daily d JOIN q USING (day)
        WHERE d.user_id <> 0 GROUP BY 1)
      SELECT m.user_id,
        (CAST(span.n AS DOUBLE)*CAST(coalesce(sxy.sxy, 0) AS DOUBLE)
           - CAST(qm.qsx AS DOUBLE)*CAST(m.sx AS DOUBLE)) /
        sqrt((CAST(span.n AS DOUBLE)*CAST(qm.qsxx AS DOUBLE)
               - CAST(qm.qsx AS DOUBLE)*CAST(qm.qsx AS DOUBLE)) *
             (CAST(span.n AS DOUBLE)*CAST(m.sxx AS DOUBLE)
               - CAST(m.sx AS DOUBLE)*CAST(m.sx AS DOUBLE))) AS corr
      FROM mom m
      LEFT JOIN sxy ON m.user_id = sxy.user_id
      CROSS JOIN qm CROSS JOIN span
      WHERE m.user_id <> 0
        AND span.n * m.sxx - m.sx * m.sx > 0
      ORDER BY corr DESC, m.user_id LIMIT 10
    """))

  def defs: Seq[QueryDef] = Seq(q78, q79, q80, q89)
}
