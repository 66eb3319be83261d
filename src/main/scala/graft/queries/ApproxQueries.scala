package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.operators.Sampling

/** Round-4 approximation-economics operators: integer entropy-coding
  * bounds per column, online-aggregation top-k convergence depth, and
  * the A/B interference (network-exposure) census — what approximation
  * buys and what it risks, deterministic for the oracle gate.
  */
object ApproxQueries extends QueryGroup {

  /** Integer floor-log2 via exact comparisons (no libm). */
  private def log2Of(x: String): String =
    "CASE " + (40 to 1 by -1).map(k =>
      s"WHEN $x >= ${1L << k} THEN $k").mkString(" ") + " ELSE 0 END"

  // ---------------------------------------------------------------- q455

  /** Entropy-coding bounds without a logarithm: for three categorical
    * columns, the optimal code length Σ c·log₂(n/c) is BRACKETED by the
    * exact integer bounds Σ c·floor(log₂(n/c)) and Σ c·(floor+1) —
    * honest bits instead of fake float precision — next to the
    * dictionary-code cost Σ n·ceil(log₂ ndv) (q325's plan) and the
    * bracket-vs-dictionary savings. When even the entropy UPPER bound
    * beats the dictionary, recoding pays for sure; the measured gap is
    * the planner's decision margin.
    *
    * Scale shape: one fold to (column, value) counts (vocabulary-
    * sized), bounds fold from that; n and ndv ride one-row broadcasts
    * per column via a keyed join. */
  private val q455 = QueryDef(
    "q455_entropy_coding_bounds",
    (spark, dir) => {
      val melted = Tables.orders(spark, dir)
        .select(explode(array(
          struct(lit("o_orderstatus").as("c"), col("o_orderstatus").as("val")),
          struct(lit("o_orderpriority").as("c"), col("o_orderpriority").as("val")),
          struct(lit("o_orderdate_month").as("c"),
            date_format(col("o_orderdate"), "yyyy-MM").as("val")))).as("m"))
        .select(col("m.c").as("column"), col("m.val"))
      val counts = melted.groupBy(col("column"), col("val"))
        .agg(count(lit(1)).as("cnt"))
      val tots = counts.groupBy(col("column"))
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("ndv"))
      counts.join(tots, Seq("column"))
        // floor(log2(n/c)) = floor-log2 of the integer quotient n div c
        .withColumn("fl", expr(log2Of("(n div cnt)")))
        .groupBy(col("column"))
        .agg(min(col("n")).as("n_values"), min(col("ndv")).as("ndv"),
          sum(expr("cnt * fl")).as("entropy_bits_lower"),
          sum(expr("cnt * (fl + 1)")).as("entropy_bits_upper"))
        .withColumn("dict_bits",
          expr(s"n_values * ((${log2Of("(ndv - 1)")}) + 1)"))
        .select(col("column"), col("n_values"), col("ndv"),
          col("entropy_bits_lower"), col("entropy_bits_upper"), col("dict_bits"),
          expr("(dict_bits - entropy_bits_upper) * 1000000 div greatest(dict_bits, 1)")
            .as("sure_savings_ppm"))
        .orderBy(col("column"))
    },
    Some(s"""
      WITH melted AS (
        SELECT m.c AS "column", m.val FROM orders,
        LATERAL (VALUES
          ('o_orderstatus', o_orderstatus),
          ('o_orderpriority', o_orderpriority),
          ('o_orderdate_month', strftime(o_orderdate, '%Y-%m')))
          AS m(c, val)),
      counts AS (
        SELECT "column", val, CAST(count(*) AS BIGINT) AS cnt
        FROM melted GROUP BY 1, 2),
      tots AS (
        SELECT "column", CAST(sum(cnt) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS ndv
        FROM counts GROUP BY 1),
      fl AS (
        SELECT c."column", c.cnt, t.n, t.ndv,
          ${log2Of("(t.n // c.cnt)")} AS fl
        FROM counts c JOIN tots t USING ("column")),
      bounds AS (
        SELECT "column", min(n) AS n_values, min(ndv) AS ndv,
          CAST(sum(cnt * fl) AS BIGINT) AS entropy_bits_lower,
          CAST(sum(cnt * (fl + 1)) AS BIGINT) AS entropy_bits_upper
        FROM fl GROUP BY 1)
      SELECT "column", n_values, ndv, entropy_bits_lower, entropy_bits_upper,
        CAST(n_values * ((${log2Of("(ndv - 1)")}) + 1) AS BIGINT) AS dict_bits,
        (n_values * ((${log2Of("(ndv - 1)")}) + 1) - entropy_bits_upper)
          * 1000000 // greatest(n_values * ((${log2Of("(ndv - 1)")}) + 1), 1)
          AS sure_savings_ppm
      FROM bounds
      ORDER BY "column"
    """))

  // ---------------------------------------------------------------- q456

  /** Online-aggregation convergence depth: the top-10 revenue brands
    * recomputed from hash-prefixes of the fact table (1/2/5/10/25/50%
    * "arrival" samples keyed by orderkey hash — the same rows at any
    * parallelism), scored against the full-data top-10 by set overlap,
    * top-1 agreement, and revenue coverage — how deep an interactive
    * scan must go before the ranking stabilizes, the stopping rule of
    * online aggregation / BlinkDB-style AQP (q257 audits sampling error
    * of MEANS; this audits a RANKING).
    *
    * Scale shape: ONE fact scan computes every prefix tier via
    * conditional sums (tier membership is a pushed-down hash
    * comparison, tiers nest); rankings run on brand-count-sized tables
    * per tier. */
  private val q456 = QueryDef(
    "q456_online_agg_convergence",
    (spark, dir) => {
      val pcts = Seq(10L, 20L, 50L, 100L, 250L, 500L, 1000L) // per-mille
      val li = Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), cents(col("l_extendedprice")).as("c"),
          (Sampling.keyHash(col("l_orderkey")) % 1000L).as("tier"))
      val tierSums = pcts.map(p =>
        sum(when(col("tier") < p, col("c")).otherwise(0L)).as(s"c_$p"))
      val perBrand = li.groupBy(col("p_brand"))
        .agg(tierSums.head, tierSums.tail: _*)
        .persist() // one fact fold feeds every tier's ranking
      def top10(p: Long) = perBrand
        .select(col("p_brand"), col(s"c_$p").as("rev"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rev").desc, col("p_brand"))))
        .filter(col("rk") <= 10)
        .select(lit(p).as("mille"), col("p_brand"), col("rk"), col("rev"))
      val tops = pcts.map(top10).reduce(_ unionAll _)
      val full = tops.filter(col("mille") === 1000L)
        .select(col("p_brand").as("fb"), col("rk").as("frk"))
      val cov = tops.join(broadcast(full), col("p_brand") === col("fb"), "left")
        .groupBy(col("mille"))
        .agg(sum(col("fb").isNotNull.cast("long")).as("overlap_at_10"),
          max(when(col("rk") === 1 && col("frk") === 1, 1L).otherwise(0L))
            .as("top1_match"))
      val totRev = li.agg(sum(col("c")).as("tot"))
      val tierRev = li.select(explode(array(pcts.map(lit): _*)).as("mille"),
        col("tier"), col("c"))
        .filter(col("tier") < col("mille"))
        .groupBy(col("mille")).agg(sum(col("c")).as("tier_rev"))
      cov.join(tierRev, Seq("mille"))
        .crossJoin(broadcast(totRev))
        .select(col("mille"), col("overlap_at_10"), col("top1_match"),
          expr("tier_rev * 1000000 div tot").as("revenue_coverage_ppm"))
        .orderBy(col("mille"))
    },
    Some {
      val pcts = Seq(10L, 20L, 50L, 100L, 250L, 500L, 1000L)
      val caseSums = pcts.map(p =>
        s"CAST(sum(CASE WHEN tier < $p THEN c ELSE 0 END) AS BIGINT) AS c_$p")
        .mkString(",\n          ")
      val tops = pcts.map(p => s"""
        SELECT $p AS mille, p_brand,
          row_number() OVER (ORDER BY c_$p DESC, p_brand) AS rk
        FROM per_brand QUALIFY rk <= 10""").mkString("\n        UNION ALL")
      s"""
      WITH li AS (
        SELECT p.p_brand,
          CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
          ((l.l_orderkey % 2147483648) * 2654435761) % 4294967296 % 1000
            AS tier
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      per_brand AS (
        SELECT p_brand,
          $caseSums
        FROM li GROUP BY p_brand),
      tops AS ($tops),
      full_top AS (
        SELECT p_brand AS fb, rk AS frk FROM tops WHERE mille = 1000),
      cov AS (
        SELECT t.mille,
          CAST(sum(CASE WHEN f.fb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS overlap_at_10,
          CAST(max(CASE WHEN t.rk = 1 AND f.frk = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS top1_match
        FROM tops t LEFT JOIN full_top f ON t.p_brand = f.fb
        GROUP BY t.mille),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM li),
      tier_rev AS (
        SELECT m.mille, CAST(sum(li.c) AS BIGINT) AS tier_rev
        FROM li JOIN (SELECT unnest([${pcts.mkString(", ")}]) AS mille) m
          ON li.tier < m.mille
        GROUP BY m.mille)
      SELECT CAST(c.mille AS BIGINT) AS mille, c.overlap_at_10, c.top1_match,
        tr.tier_rev * 1000000 // t.tot AS revenue_coverage_ppm
      FROM cov c JOIN tier_rev tr ON c.mille = tr.mille
      CROSS JOIN tot t
      ORDER BY mille
    """
    })

  // ---------------------------------------------------------------- q457

  /** A/B interference (network-exposure) census: with users hash-split
    * into treatment/control, a control user whose co-engaged neighbor
    * (≥ 5 shared (day, interest-key) cells — day alone makes this
    * graph complete) is TREATED is contaminated — their outcome partly
    * reflects the treatment, violating SUTVA. Reported per arm: users,
    * users with any cross-arm neighbor, exposure ppm, and mean
    * cross-arm degree — the measurement that decides between user- and
    * cluster-randomization (q377 prices the cluster design; this shows
    * why it's needed).
    *
    * Scale shape: co-engagement pairs are cell-blocked (pairs share a
    * (day, key) cell — never all-pairs across the population), deduped
    * to an edge list; arms are a narrow hash column; the census folds
    * per arm. */
  private val q457 = QueryDef(
    "q457_interference_exposure",
    (spark, dir) => {
      val act = Tables.events(spark, dir)
        .select(col("user_id"),
          expr("CAST(ts AS TIMESTAMP)").cast("long").as("s"),
          expr("CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)").as("k"))
        .select(col("user_id"), expr("s div 86400 * 128 + k").as("cell"))
        .distinct()
      val pairs = act.alias("a")
        .join(act.alias("b"),
          col("a.cell") === col("b.cell") && col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
        .agg(count(lit(1)).as("shared_cells"))
        .filter(col("shared_cells") >= 5L)
      val edges = pairs.select(col("u"), col("v"))
        .unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
        .withColumn("arm_u", Sampling.keyHash(col("u")) % 2L)
        .withColumn("arm_v", Sampling.keyHash(col("v")) % 2L)
      val crossDeg = edges.groupBy(col("u"), col("arm_u"))
        .agg(sum((col("arm_u") =!= col("arm_v")).cast("long")).as("cross_deg"))
      val users = Tables.events(spark, dir).select(col("user_id")).distinct()
        .withColumn("arm", Sampling.keyHash(col("user_id")) % 2L)
      users.join(crossDeg, col("user_id") === col("u"), "left")
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"),
          sum((coalesce(col("cross_deg"), lit(0L)) > 0L).cast("long"))
            .as("n_exposed"),
          sum(coalesce(col("cross_deg"), lit(0L))).as("total_cross_degree"))
        .select(col("arm"), col("n_users"), col("n_exposed"),
          expr("n_exposed * 1000000 div n_users").as("exposure_ppm"),
          expr("total_cross_degree * 1000 div n_users").as("mean_cross_deg_milli"))
        .orderBy(col("arm"))
    },
    Some("""
      WITH act AS (
        SELECT DISTINCT user_id,
          epoch_ms(ts) // 1000 // 86400 * 128
            + CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS cell
        FROM events),
      pairs AS (
        SELECT a.user_id AS u, b.user_id AS v, count(*) AS shared_cells
        FROM act a JOIN act b
          ON a.cell = b.cell AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING count(*) >= 5),
      edges AS (
        SELECT u, v FROM pairs
        UNION ALL
        SELECT v AS u, u AS v FROM pairs),
      armed AS (
        SELECT u, ((u % 2147483648) * 2654435761) % 4294967296 % 2 AS arm_u,
          ((v % 2147483648) * 2654435761) % 4294967296 % 2 AS arm_v
        FROM edges),
      cross_deg AS (
        SELECT u, arm_u,
          CAST(sum(CASE WHEN arm_u <> arm_v THEN 1 ELSE 0 END) AS BIGINT)
            AS cross_deg
        FROM armed GROUP BY 1, 2),
      users AS (
        SELECT DISTINCT user_id,
          ((user_id % 2147483648) * 2654435761) % 4294967296 % 2 AS arm
        FROM events)
      SELECT us.arm, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(CASE WHEN coalesce(cd.cross_deg, 0) > 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_exposed,
        CAST(sum(CASE WHEN coalesce(cd.cross_deg, 0) > 0 THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS exposure_ppm,
        CAST(sum(coalesce(cd.cross_deg, 0)) * 1000 // count(*) AS BIGINT)
          AS mean_cross_deg_milli
      FROM users us LEFT JOIN cross_deg cd ON us.user_id = cd.u
      GROUP BY us.arm
      ORDER BY us.arm
    """))

  // ---------------------------------------------------------------- q754

  /** Join-size estimation by Count-Min inner product (Cormode &
    * Muthukrishnan §4.3): |A ⋈ B| on a key equals the inner product of
    * the two frequency vectors, and the CMS estimate min_i Σ_b
    * cmsA[i][b]·cmsB[i][b] NEVER underestimates — the property the
    * optimizer needs to bound a join before running it. A = view
    * events, B = purchase events, keyed by user (genuinely
    * many-to-many). Reported per hash row plus the min and the exact
    * truth, with the overestimate in ppm.
    *
    * Scale shape: each sketch is one scan folding straight to d×w =
    * 4×256 cells (map-side combined — the scan never materializes
    * per-user counts); the estimate is a (row, bucket)-keyed join of
    * two 1024-cell tables; the exact inner product folds per-user
    * counts (user-dimension-bounded) once, for the audit only. */
  private val q754 = QueryDef(
    "q754_cms_join_size_estimate",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val mults = Seq(2246822519L, 2654435761L, 2971215073L, 40503L)
        .zipWithIndex.map { case (m, i) => (i.toLong, m) }
        .toDF("i", "mult")
      def sketch(tpe: String, cname: String) = Tables.events(spark, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id"))
        .crossJoin(broadcast(mults))
        .select(col("i"),
          expr("(((user_id % 2147483648) * mult) % 4294967296) div 16777216")
            .as("b"))
        .groupBy(col("i"), col("b")).agg(count(lit(1)).as(cname))
      val est = sketch("view", "ca").join(sketch("purchase", "cb"), Seq("i", "b"))
        .groupBy(col("i")).agg(sum(col("ca") * col("cb")).as("row_estimate"))
      val exact = Tables.events(spark, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("fa"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("fb"))
        .agg(sum(col("fa") * col("fb")).as("exact_join_size"))
      val best = est.agg(min(col("row_estimate")).as("cms_estimate"))
      est.crossJoin(broadcast(best)).crossJoin(broadcast(exact))
        .select(col("i"), col("row_estimate"), col("cms_estimate"),
          col("exact_join_size"),
          expr("(cms_estimate - exact_join_size) * 1000000 div exact_join_size")
            .as("overestimate_ppm"))
        .orderBy(col("i"))
    },
    Some("""
      WITH mults(i, mult) AS (VALUES
        (CAST(0 AS BIGINT), CAST(2246822519 AS BIGINT)),
        (CAST(1 AS BIGINT), CAST(2654435761 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(2971215073 AS BIGINT)),
        (CAST(3 AS BIGINT), CAST(40503 AS BIGINT))),
      ska AS MATERIALIZED (
        SELECT i, (((user_id % 2147483648) * mult) % 4294967296) // 16777216
          AS b, CAST(count(*) AS BIGINT) AS ca
        FROM events CROSS JOIN mults
        WHERE event_type = 'view' GROUP BY 1, 2),
      skb AS MATERIALIZED (
        SELECT i, (((user_id % 2147483648) * mult) % 4294967296) // 16777216
          AS b, CAST(count(*) AS BIGINT) AS cb
        FROM events CROSS JOIN mults
        WHERE event_type = 'purchase' GROUP BY 1, 2),
      est AS MATERIALIZED (
        SELECT i, CAST(sum(ca * cb) AS BIGINT) AS row_estimate
        FROM ska JOIN skb USING (i, b) GROUP BY i),
      best AS (SELECT CAST(min(row_estimate) AS BIGINT) AS cms_estimate
               FROM est),
      ex AS (
        SELECT CAST(sum(fa * fb) AS BIGINT) AS exact_join_size
        FROM (
          SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS fa,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS fb
          FROM events WHERE event_type IN ('view', 'purchase')
          GROUP BY user_id))
      SELECT i, row_estimate, cms_estimate, exact_join_size,
        CAST((cms_estimate - exact_join_size) * 1000000 // exact_join_size
          AS BIGINT) AS overestimate_ppm
      FROM est CROSS JOIN best CROSS JOIN ex
      ORDER BY i
    """))

  override def defs: Seq[QueryDef] = Seq(q455, q456, q457, q754)
}
