package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.quantize_vec

/** Round-4 serving/bounds operators: DKW distribution-free percentile
  * bands, LDA-criterion label separability from sum vectors, and
  * Fenwick-tree range-sum serving — inference bounds and serving-layer
  * structures as dataflow, deterministic for the oracle gate.
  */
object ServingQueries extends QueryGroup {

  // ---------------------------------------------------------------- q470

  /** DKW percentile confidence bands: the Dvoretzky–Kiefer–Wolfowitz
    * inequality gives a SIMULTANEOUS 95% band for the whole ECDF,
    * ε = √(ln(2/α)/2n) — so every percentile's value is bracketed by
    * rank selection at r ± n·ε, distribution-free. ε comes out of exact
    * integer arithmetic (ln(2/0.05) = 3.689 embedded ×1000; √ via
    * floor-sqrt with the off-by-one fix, q438's device). Reported for
    * p50/p90/p99 of order totals with band widths — q381 brackets ONE
    * order statistic via the binomial; DKW brackets them all at once.
    *
    * Scale shape: one fold to the distinct-cents histogram; rank
    * selection over its cumulative covers all three percentiles and
    * both band edges; n rides a one-row broadcast. */
  private val q470 = QueryDef(
    "q470_dkw_percentile_bands",
    (spark, dir) => {
      val vhist = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val tot = vhist.agg(sum(col("cnt")).as("n"))
        // eps_ppm = sqrt(3689e9 / (2n)): exact integer sqrt w/ correction
        .withColumn("s0", expr(
          "CAST(floor(sqrt(CAST(3689000000000 div (2 * n) AS DOUBLE))) AS BIGINT)"))
        .withColumn("eps_ppm", expr(
          """CASE WHEN (s0 + 1) * (s0 + 1) <= 3689000000000 div (2 * n) THEN s0 + 1
                  WHEN s0 * s0 > 3689000000000 div (2 * n) THEN s0 - 1
                  ELSE s0 END"""))
        .select(col("n"), col("eps_ppm"))
      val cum = vhist
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))))
      val ranks = tot.select(col("n"), col("eps_ppm"),
        explode(expr("array(50L, 90L, 99L)")).as("p"))
        .withColumn("r", expr("(n - 1) * p div 100 + 1"))
        .withColumn("r_lo", expr("greatest(r - n * eps_ppm div 1000000, 1L)"))
        .withColumn("r_hi", expr("least(r + n * eps_ppm div 1000000, n)"))
      def sel(rCol: String, out: String) = cum
        .join(broadcast(ranks.select(col("p").as(s"p_$out"), col(rCol).as("rr"))),
          col("cum") >= col("rr"))
        .groupBy(col(s"p_$out")).agg(min(col("v")).as(out))
      sel("r", "exact_cents")
        .join(sel("r_lo", "lo_cents"),
          col("p_exact_cents") === col("p_lo_cents"))
        .join(sel("r_hi", "hi_cents"),
          col("p_exact_cents") === col("p_hi_cents"))
        .join(broadcast(ranks.select(col("p"), col("eps_ppm"))),
          col("p_exact_cents") === col("p"))
        .select(col("p"), col("eps_ppm"), col("lo_cents"), col("exact_cents"),
          col("hi_cents"),
          expr("(hi_cents - lo_cents) * 1000000 div exact_cents")
            .as("band_width_ppm"))
        .orderBy(col("p"))
    },
    Some("""
      WITH vhist AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
      tot AS (
        SELECT n, CASE WHEN (s0 + 1) * (s0 + 1) <= tgt THEN s0 + 1
                       WHEN s0 * s0 > tgt THEN s0 - 1 ELSE s0 END AS eps_ppm
        FROM (
          SELECT n, tgt,
            CAST(floor(sqrt(CAST(tgt AS DOUBLE))) AS BIGINT) AS s0
          FROM (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                  3689000000000 // (2 * CAST(sum(cnt) AS BIGINT)) AS tgt
                FROM vhist))),
      cum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM vhist),
      ranks AS (
        SELECT CAST(p AS BIGINT) AS p, n, eps_ppm,
          (n - 1) * p // 100 + 1 AS r,
          greatest((n - 1) * p // 100 + 1 - n * eps_ppm // 1000000, 1) AS r_lo,
          least((n - 1) * p // 100 + 1 + n * eps_ppm // 1000000, n) AS r_hi
        FROM tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) ps),
      ex AS (
        SELECT p, min(v) AS exact_cents FROM cum JOIN ranks ON cum.cum >= ranks.r
        GROUP BY p),
      lo AS (
        SELECT p, min(v) AS lo_cents FROM cum JOIN ranks ON cum.cum >= ranks.r_lo
        GROUP BY p),
      hi AS (
        SELECT p, min(v) AS hi_cents FROM cum JOIN ranks ON cum.cum >= ranks.r_hi
        GROUP BY p)
      SELECT ex.p, rk.eps_ppm, lo.lo_cents, ex.exact_cents, hi.hi_cents,
        (hi.hi_cents - lo.lo_cents) * 1000000 // ex.exact_cents
          AS band_width_ppm
      FROM ex JOIN lo ON ex.p = lo.p JOIN hi ON ex.p = hi.p
      JOIN (SELECT DISTINCT p, eps_ppm FROM ranks) rk ON ex.p = rk.p
      ORDER BY ex.p
    """))

  // ---------------------------------------------------------------- q471

  /** LDA-criterion label separability from sum vectors: between-class
    * scatter Σ n_l·‖μ_l − μ‖² against within-class scatter Σ‖x − μ_l‖²,
    * both computed WITHOUT per-pair or per-residual work via the
    * moment identities (within = Σ‖x‖² − Σ n_l‖μ_l‖², μ from sums) in
    * exact integers scaled by the class sizes' common denominator. The
    * ratio (×ppm) is the Fisher criterion: how much of the embedding
    * variance the labels explain — the go/no-go score for training a
    * linear probe (q158 reports raw centroid gaps; q461 the isotropy;
    * this is the classifier-feasibility number).
    *
    * Scale shape: ONE embeddings scan folds per-label dimension sums
    * and square sums map-side; everything after is (labels × dims)-
    * sized. Scatter products run in decimal(38,0). */
  private val q471 = QueryDef(
    "q471_lda_separability",
    (spark, dir) => {
      val qv = Tables.embeddings(spark, dir)
        .select(col("label").cast("long").as("label"),
          quantize_vec(col("embedding")).as("q"))
      val perLabel = qv
        .select(col("label"), expr("aggregate(q, 0L, (acc, x) -> acc + x * x)")
          .as("sq"), col("q"))
        .select(col("label"), col("sq"), posexplode(col("q")).as(Seq("d", "x")))
        .groupBy(col("label"), col("d"))
        .agg(sum(col("x")).as("sd"), count(lit(1)).as("nl"),
          // count each vector's square norm exactly once (at its d=0 slot)
          sum(when(col("d") === 0, col("sq")).otherwise(0L)).as("sq_once"))
      // per label: n, Σ||x||² (sq summed once via d=0 slot), Σ_d sd²
      val lab = perLabel.groupBy(col("label"))
        .agg(max(col("nl")).as("n_l"), sum(col("sq_once")).as("ssq_l"),
          sum(expr("CAST(sd AS DECIMAL(38,0)) * sd")).as("s2_l"))
      val tot = qv
        .select(posexplode(col("q")).as(Seq("d", "x")))
        .groupBy(col("d")).agg(sum(col("x")).as("gd"))
        .agg(sum(expr("CAST(gd AS DECIMAL(38,0)) * gd")).as("g2"))
      val nTot = qv.agg(count(lit(1)).as("n"))
      // within*N_l denominators cleared: within_scaled = Σ_l (n_l·ssq_l − s2_l)/n_l
      // carried exactly as Σ (n_l·ssq_l − s2_l) · (N/n_l scaling avoided by
      // reporting per-label terms divided exactly via decimal div)
      lab.crossJoin(broadcast(tot)).crossJoin(broadcast(nTot))
        .select(col("label"), col("n_l"),
          expr("CAST((CAST(n_l AS DECIMAL(38,0)) * ssq_l - s2_l) div n_l AS BIGINT)")
            .as("within_l"),
          expr("CAST(s2_l div n_l AS BIGINT)").as("label_energy"),
          col("g2"), col("n"))
        .groupBy(col("g2"), col("n"))
        .agg(sum(col("within_l")).as("within_scatter"),
          sum(col("label_energy")).as("label_energy_sum"),
          count(lit(1)).as("n_labels"))
        .select(col("n_labels"),
          col("within_scatter"),
          expr("label_energy_sum - CAST(g2 div n AS BIGINT)").as("between_scatter"),
          expr("""(label_energy_sum - CAST(g2 div n AS BIGINT)) * 1000000
                  div greatest(within_scatter, 1)""").as("fisher_ratio_ppm"))
    },
    Some("""
      WITH qv AS (
        SELECT CAST(label AS BIGINT) AS label,
          [CAST(floor(x * 512 + 0.5) AS BIGINT) for x in embedding] AS q
        FROM embeddings),
      per_label AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_l,
          CAST(sum(list_sum([x * x for x in q])) AS BIGINT) AS ssq_l
        FROM qv GROUP BY label),
      sums AS (
        SELECT label, i, sum(q[i]) AS sd
        FROM qv, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) g
        GROUP BY 1, 2),
      s2 AS (
        SELECT label, CAST(sum(CAST(sd AS HUGEINT) * sd) AS HUGEINT) AS s2_l
        FROM sums GROUP BY label),
      g2 AS (
        SELECT CAST(sum(CAST(gd AS HUGEINT) * gd) AS HUGEINT) AS g2 FROM (
          SELECT i, sum(sd) AS gd FROM sums GROUP BY i)),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
      lab AS (
        SELECT p.label, p.n_l,
          CAST((CAST(p.n_l AS HUGEINT) * p.ssq_l - s.s2_l) // p.n_l AS BIGINT)
            AS within_l,
          CAST(s.s2_l // p.n_l AS BIGINT) AS label_energy
        FROM per_label p JOIN s2 s ON p.label = s.label)
      SELECT CAST(count(*) AS BIGINT) AS n_labels,
        CAST(sum(within_l) AS BIGINT) AS within_scatter,
        CAST(sum(label_energy) - g2.g2 // nt.n AS BIGINT) AS between_scatter,
        CAST((sum(label_energy) - g2.g2 // nt.n) * 1000000
          // greatest(sum(within_l), 1) AS BIGINT) AS fisher_ratio_ppm
      FROM lab CROSS JOIN g2 CROSS JOIN nt
      GROUP BY g2.g2, nt.n
    """))

  // ---------------------------------------------------------------- q472

  /** Fenwick (binary indexed) tree range-sum serving: the 256-day
    * revenue series folds into the classic partial-sum tree t[i] =
    * sum((i − lowbit(i), i]), and five literal date ranges are answered
    * by walking the popcount chains — O(log n) lookups each, verified
    * against the direct range sums with per-range lookup counts vs days
    * spanned. The serving-layer structure under every "sum between
    * dates" API, built and certified as dataflow (q437 decomposes
    * sliding windows; this decomposes arbitrary ranges).
    *
    * Scale shape: the tree derives from the cumulative series in one
    * calendar-sized pass (t[i] = cum[i] − cum[i − lowbit(i)]); chains
    * are Scala-precomputed literals (≤ 8 entries each), so each query
    * is a tiny semi-join — no per-query scan. */
  private val q472 = QueryDef(
    "q472_fenwick_range_serving",
    (spark, dir) => {
      val ranges = Seq((1L, 100L), (17L, 31L), (64L, 255L), (200L, 201L), (1L, 256L))
      def chain(r: Long): Seq[Long] = {
        var i = r; val b = Seq.newBuilder[Long]
        while (i > 0) { b += i; i -= (i & -i) }
        b.result()
      }
      val daily = Tables.orders(spark, dir)
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val d0 = daily.agg(min(col("day")).as("d0"))
      val idx = daily.crossJoin(broadcast(d0))
        .select((datediff(col("day"), col("d0")) + 1).cast("long").as("i"),
          col("rev_c"))
        .filter(col("i") <= 256L)
      val grid = spark.range(1, 257).select(col("id").as("i"))
        .join(idx, Seq("i"), "left")
        .select(col("i"), coalesce(col("rev_c"), lit(0L)).as("v"))
        .withColumn("cum", sum(col("v")).over(Window.orderBy(col("i"))))
      // t[i] = cum[i] - cum[i - lowbit(i)]; join the cum at the parent
      val t = grid.alias("g")
        .join(grid.select(col("i").as("pi"), col("cum").as("pcum")).alias("p"),
          expr("p.pi = g.i - (g.i & -g.i)"), "left")
        .select(col("g.i").as("i"), (col("g.cum") - coalesce(col("pcum"), lit(0L)))
          .as("t"))
      val lookups = ranges.zipWithIndex.flatMap { case ((lo, hi), qid) =>
        chain(hi).map(i => (qid.toLong, lo, hi, i, 1L)) ++
          chain(lo - 1).map(i => (qid.toLong, lo, hi, i, -1L))
      }
      import spark.implicits._
      val lk = lookups.toDF("qid", "lo", "hi", "i", "sign")
      val fen = lk.join(t, Seq("i"))
        .groupBy(col("qid"), col("lo"), col("hi"))
        .agg(sum(col("sign") * col("t")).as("fenwick_sum"),
          count(lit(1)).as("n_lookups"))
      val direct = grid.crossJoin(broadcast(
        lk.select(col("qid").as("q2"), col("lo").as("l2"), col("hi").as("h2"))
          .distinct()))
        .filter(col("i") >= col("l2") && col("i") <= col("h2"))
        .groupBy(col("q2")).agg(sum(col("v")).as("direct_sum"))
      fen.join(direct, col("qid") === col("q2"))
        .select(col("qid"), col("lo"), col("hi"), col("direct_sum"),
          col("fenwick_sum"), col("n_lookups"),
          (col("hi") - col("lo") + 1L).as("days_spanned"),
          (col("fenwick_sum") === col("direct_sum")).cast("long").as("is_equal"))
        .orderBy(col("qid"))
    },
    Some {
      val ranges = Seq((1L, 100L), (17L, 31L), (64L, 255L), (200L, 201L), (1L, 256L))
      def chain(r: Long): Seq[Long] = {
        var i = r; val b = Seq.newBuilder[Long]
        while (i > 0) { b += i; i -= (i & -i) }
        b.result()
      }
      val lookupRows = ranges.zipWithIndex.flatMap { case ((lo, hi), qid) =>
        chain(hi).map(i => s"($qid, $lo, $hi, $i, 1)") ++
          chain(lo - 1).map(i => s"($qid, $lo, $hi, $i, -1)")
      }.mkString(", ")
      s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
        FROM orders GROUP BY 1),
      d0 AS (SELECT min(day) AS d0 FROM daily),
      grid AS (
        SELECT g.i, coalesce(dd.rev_c, 0) AS v
        FROM (SELECT unnest(range(1, 257)) AS i) g
        LEFT JOIN (SELECT date_diff('day', d0, day) + 1 AS i, rev_c
                   FROM daily CROSS JOIN d0) dd ON g.i = dd.i),
      cumt AS (SELECT i, v, sum(v) OVER (ORDER BY i) AS cum FROM grid),
      t AS (
        SELECT g.i, g.cum - coalesce(p.cum, 0) AS t
        FROM cumt g LEFT JOIN cumt p ON p.i = g.i - (g.i & -g.i)),
      lk AS (SELECT * FROM (VALUES $lookupRows) AS x(qid, lo, hi, i, sign)),
      fen AS (
        SELECT lk.qid, lk.lo, lk.hi,
          CAST(sum(lk.sign * t.t) AS BIGINT) AS fenwick_sum,
          CAST(count(*) AS BIGINT) AS n_lookups
        FROM lk JOIN t ON lk.i = t.i
        GROUP BY 1, 2, 3),
      direct AS (
        SELECT r.qid, CAST(sum(c.v) AS BIGINT) AS direct_sum
        FROM (SELECT DISTINCT qid, lo, hi FROM lk) r
        JOIN cumt c ON c.i BETWEEN r.lo AND r.hi
        GROUP BY r.qid)
      SELECT CAST(f.qid AS BIGINT) AS qid, CAST(f.lo AS BIGINT) AS lo,
        CAST(f.hi AS BIGINT) AS hi, d.direct_sum, f.fenwick_sum, f.n_lookups,
        CAST(f.hi - f.lo + 1 AS BIGINT) AS days_spanned,
        CAST(CASE WHEN f.fenwick_sum = d.direct_sum THEN 1 ELSE 0 END AS BIGINT)
          AS is_equal
      FROM fen f JOIN direct d ON f.qid = d.qid
      ORDER BY qid
    """
    })

  override def defs: Seq[QueryDef] = Seq(q470, q471, q472)
}
