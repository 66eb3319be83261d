package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.quantize_vec

/** Round-4 economics operators: embedding anisotropy without a pairwise
  * join, the static cache hit-ratio sweep, and materialized-view
  * staleness pricing — the costs of geometry, memory, and time,
  * deterministic for the oracle gate.
  */
object FreshnessQueries extends QueryGroup {

  // ---------------------------------------------------------------- q461

  /** Embedding anisotropy census (the "narrow cone" pathology of
    * learned embeddings): per label, the MEAN PAIRWISE dot product over
    * all n·(n−1) pairs — computed with ZERO pairwise work via the
    * sum-vector identity Σᵢ≠ⱼ qᵢ·qⱼ = ‖Σq‖² − Σ‖q‖² — normalized by the
    * mean self-dot, in ppm. High anisotropy means cosine thresholds
    * (q24/q74's dedup gates) discriminate poorly for that label; the
    * fix (mean-centering) changes THIS number, so it is the
    * before/after metric. Vectors enter through the shared 512× integer
    * quantizer (q102's contract) so both engines agree bit-for-bit.
    *
    * Scale shape: one embeddings scan explodes to (label, dim) partial
    * sums — map-side folds, dimension-bounded state, NO n² join; the
    * identity is what makes anisotropy measurable at corpus scale. */
  private val q461 = QueryDef(
    "q461_embedding_anisotropy",
    (spark, dir) => {
      val qv = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          quantize_vec(col("embedding")).as("q"))
      val self = qv.select(col("label"),
        expr("aggregate(q, 0L, (acc, x) -> acc + x * x)").as("sq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("ssq"))
      val dims = qv
        .select(col("label"), posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("label"), col("d")).agg(sum(col("v")).as("sd"))
        .groupBy(col("label")).agg(sum(expr("sd * sd")).as("normsq_sum"))
      self.join(dims, Seq("label"))
        .filter(col("n") >= 2L)
        .select(col("label"), col("n").as("n_vectors"),
          expr("ssq div n").as("mean_self_dot"),
          expr("(normsq_sum - ssq) div (n * (n - 1))").as("mean_pair_dot"),
          expr("""((normsq_sum - ssq) div (n * (n - 1))) * 1000000
                  div greatest(ssq div n, 1)""").as("anisotropy_ppm"))
        .orderBy(col("label"))
    },
    Some("""
      WITH qv AS (
        SELECT CAST(label AS BIGINT) AS label,
          [CAST(floor(x * 512 + 0.5) AS BIGINT) for x in embedding] AS q
        FROM embeddings),
      self AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(list_sum([x * x for x in q])) AS BIGINT) AS ssq
        FROM qv GROUP BY label),
      dims AS (
        SELECT label, CAST(sum(sd * sd) AS BIGINT) AS normsq_sum FROM (
          SELECT label, i, sum(q[i]) AS sd
          FROM qv, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) g
          GROUP BY 1, 2)
        GROUP BY label)
      SELECT s.label, s.n AS n_vectors,
        s.ssq // s.n AS mean_self_dot,
        (d.normsq_sum - s.ssq) // (s.n * (s.n - 1)) AS mean_pair_dot,
        ((d.normsq_sum - s.ssq) // (s.n * (s.n - 1))) * 1000000
          // greatest(s.ssq // s.n, 1) AS anisotropy_ppm
      FROM self s JOIN dims d ON s.label = d.label
      WHERE s.n >= 2
      ORDER BY s.label
    """))

  // ---------------------------------------------------------------- q462

  /** Static cache hit-ratio sweep: part accesses (one per lineitem row)
    * against an LFU-optimal static cache of the top-k hottest parts,
    * for k ∈ {16, 128, 1024} — the marginal-hit curve that sizes any
    * frequency-skewed cache (dictionary pages, broadcast entries,
    * feature rows) and shows where the Zipf tail (q301's slope) makes
    * the next kilobyte of cache worthless.
    *
    * Scale shape: one fact fold to per-part frequencies, one
    * part-count-sized rank window, the sweep is three conditional sums
    * over that table. */
  private val q462 = QueryDef(
    "q462_static_cache_sweep",
    (spark, dir) => {
      val freq = Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("f").desc, col("l_partkey"))).cast("long"))
      val tot = freq.agg(sum(col("f")).as("n_accesses"),
        count(lit(1)).as("distinct_parts"))
      freq.crossJoin(broadcast(tot))
        .select(col("rk"), col("f"), col("n_accesses"), col("distinct_parts"),
          explode(expr("array(16L, 128L, 1024L)")).as("k"))
        .groupBy(col("k"))
        .agg(min(col("n_accesses")).as("n_accesses"),
          min(col("distinct_parts")).as("distinct_parts"),
          sum(when(col("rk") <= col("k"), col("f")).otherwise(0L)).as("hits"))
        .select(col("k"), col("n_accesses"), col("distinct_parts"), col("hits"),
          expr("hits * 1000000 div n_accesses").as("hit_ppm"))
        .orderBy(col("k"))
    },
    Some("""
      WITH freq AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS f,
          CAST(row_number() OVER (ORDER BY count(*) DESC, l_partkey) AS BIGINT)
            AS rk
        FROM lineitem GROUP BY l_partkey),
      tot AS (
        SELECT CAST(sum(f) AS BIGINT) AS n_accesses,
          CAST(count(*) AS BIGINT) AS distinct_parts
        FROM freq)
      SELECT CAST(k.k AS BIGINT) AS k, t.n_accesses, t.distinct_parts,
        CAST(sum(CASE WHEN freq.rk <= k.k THEN freq.f ELSE 0 END) AS BIGINT)
          AS hits,
        CAST(sum(CASE WHEN freq.rk <= k.k THEN freq.f ELSE 0 END) * 1000000
          // t.n_accesses AS BIGINT) AS hit_ppm
      FROM freq CROSS JOIN tot t
      CROSS JOIN (SELECT unnest([16, 128, 1024]) AS k) k
      GROUP BY k.k, t.n_accesses, t.distinct_parts
      ORDER BY k
    """))

  // ---------------------------------------------------------------- q463

  /** Materialized-view staleness pricing: a cumulative-revenue view
    * refreshed every 1/7/28 days is compared against the live value on
    * EVERY day of the span — mean and max relative staleness in ppm per
    * cadence. This is the freshness-vs-cost curve that decides refresh
    * schedules (q294 measures how stale catalogs ARE; q436 refreshes
    * incrementally; this prices the cadence choice).
    *
    * Scale shape: the fact folds once to daily revenue; the dense
    * calendar, cumulative window, and refresh-day equi-join (day →
    * day div c · c) all run on calendar-sized tables. */
  private val q463 = QueryDef(
    "q463_view_staleness_pricing",
    (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val d0 = daily.agg(min(col("day")).as("d0"), max(col("day")).as("dmax"))
      val idx = daily.crossJoin(broadcast(d0))
        .select(datediff(col("day"), col("d0")).cast("long").as("d"), col("rev_c"))
      val dense = d0.select(
        explode(expr("sequence(0L, CAST(datediff(dmax, d0) AS BIGINT))")).as("d"))
        .join(idx, Seq("d"), "left")
        .select(col("d"), coalesce(col("rev_c"), lit(0L)).as("v"))
        .withColumn("cum", sum(col("v")).over(Window.orderBy(col("d"))))
      val cad = dense.select(col("d"), col("cum"),
        explode(expr("array(1L, 7L, 28L)")).as("c"))
        .withColumn("refresh_d", expr("d div c * c"))
      val viewed = cad.join(
        dense.select(col("d").as("refresh_d"), col("cum").as("view_cum")),
        Seq("refresh_d"))
        .withColumn("stale_ppm", expr(
          "(cum - view_cum) * 1000000 div greatest(cum, 1)"))
      viewed.groupBy(col("c").as("cadence_days"))
        .agg(count(lit(1)).as("n_days"),
          expr("sum(stale_ppm) div count(1)").as("mean_stale_ppm"),
          max(col("stale_ppm")).as("max_stale_ppm"))
        .orderBy(col("cadence_days"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      d0 AS (SELECT min(day) AS d0, max(day) AS dmax FROM daily),
      dense AS (
        SELECT g.d, coalesce(dd.rev_c, 0) AS v
        FROM d0, LATERAL (SELECT unnest(range(0,
          date_diff('day', d0, dmax) + 1)) AS d) g
        LEFT JOIN (SELECT date_diff('day', d0, day) AS d, rev_c
                   FROM daily CROSS JOIN d0) dd ON g.d = dd.d),
      cum AS (
        SELECT d, sum(v) OVER (ORDER BY d) AS cum FROM dense),
      cad AS (
        SELECT c.c, cum.d, cum.cum, cum.d // c.c * c.c AS refresh_d
        FROM cum CROSS JOIN (SELECT unnest([1, 7, 28]) AS c) c),
      viewed AS (
        SELECT cad.c, cad.d,
          (cad.cum - r.cum) * 1000000 // greatest(cad.cum, 1) AS stale_ppm
        FROM cad JOIN cum r ON cad.refresh_d = r.d)
      SELECT CAST(c AS BIGINT) AS cadence_days,
        CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(stale_ppm) // count(*) AS BIGINT) AS mean_stale_ppm,
        CAST(max(stale_ppm) AS BIGINT) AS max_stale_ppm
      FROM viewed GROUP BY c
      ORDER BY cadence_days
    """))

  override def defs: Seq[QueryDef] = Seq(q461, q462, q463)
}
