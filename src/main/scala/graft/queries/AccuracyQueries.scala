package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents

/** Round-4 accuracy-audit operators: equi-width-histogram quantile error
  * sweep, empirical Bloom-filter false-positive audit, and aggregate
  * incremental-view maintenance by the counting algorithm — the "how
  * wrong is the cheap version" instruments, deterministic for the
  * oracle gate.
  */
object AccuracyQueries extends QueryGroup {

  // ---------------------------------------------------------------- q434

  /** Equi-width-histogram quantile accuracy sweep: exact p50/p90/p99 of
    * order totals (rank selection on the value histogram, q36's shape)
    * against the histogram-interpolated estimate at 32/256/2048 bins —
    * the error table that tells a planner how many buckets its column
    * statistics need before selectivity estimates at the tail can be
    * trusted (q410 buys better buckets with DP; this prices the naive
    * ones).
    *
    * Scale shape: ONE orders scan folds to the distinct-cents histogram
    * (the only thing shuffled); bin assembly re-aggregates that
    * histogram (not the table) per bin count; every later stage is
    * histogram-sized, with one-row stats broadcast. */
  private val q434 = QueryDef(
    "q434_histogram_quantile_error",
    (spark, dir) => {
      val vhist = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val stats = vhist.agg(sum(col("cnt")).as("n"), min(col("v")).as("vmin"),
        max(col("v")).as("vmax"))
      val ps = Seq(50L, 90L, 99L)
      val ranks = stats.select(col("*"), explode(array(ps.map(lit): _*)).as("p"))
        .withColumn("r", expr("(n - 1) * p div 100 + 1"))
      val exact = vhist
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))))
        .crossJoin(broadcast(ranks.select(col("p"), col("r"))))
        .filter(col("cum") >= col("r"))
        .groupBy(col("p")).agg(min(col("v")).as("exact_cents"))
      val binned = vhist
        .crossJoin(broadcast(stats))
        .select(explode(expr("array(32L, 256L, 2048L)")).as("bins"),
          col("v"), col("cnt"), col("vmin"), col("vmax"))
        .withColumn("w", expr("(vmax - vmin) div bins + 1"))
        .groupBy(col("bins"), col("w"), expr("(v - vmin) div w").as("b"))
        .agg(sum(col("cnt")).as("bcnt"))
        .withColumn("cum", sum(col("bcnt")).over(
          Window.partitionBy(col("bins")).orderBy(col("b"))))
      val est = binned
        .join(broadcast(ranks.select(col("p"), col("r"), col("vmin"))),
          col("cum") >= col("r"))
        .groupBy(col("bins"), col("p"))
        .agg(min(col("b")).as("tb"),
          min_by(col("cum") - col("bcnt"), col("b")).as("cum_before"),
          min_by(col("bcnt"), col("b")).as("cnt_b"),
          min(col("w")).as("w"), min(col("vmin")).as("vmin"),
          min(col("r")).as("r"))
        .withColumn("est_cents",
          expr("vmin + tb * w + (r - cum_before - 1) * w div cnt_b"))
      est.join(broadcast(exact), Seq("p"))
        .select(col("bins"), col("p"), col("exact_cents"), col("est_cents"),
          expr("abs(est_cents - exact_cents)").as("err_cents"),
          expr("abs(est_cents - exact_cents) * 1000000 div exact_cents")
            .as("err_ppm"))
        .orderBy(col("bins"), col("p"))
    },
    Some("""
      WITH vhist AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
      stats AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n, min(v) AS vmin, max(v) AS vmax
        FROM vhist),
      ranks AS (
        SELECT p, n, vmin, vmax, (n - 1) * p // 100 + 1 AS r
        FROM stats CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) ps),
      vcum AS (
        SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM vhist),
      exact AS (
        SELECT CAST(p AS BIGINT) AS p, min(v) AS exact_cents
        FROM vcum CROSS JOIN ranks
        WHERE vcum.cum >= ranks.r
        GROUP BY p),
      binned AS (
        SELECT bins, w, (v - vmin) // w AS b, sum(cnt) AS bcnt
        FROM (
          SELECT CAST(bins AS BIGINT) AS bins, v, cnt, vmin,
            (vmax - vmin) // bins + 1 AS w
          FROM vhist CROSS JOIN stats
          CROSS JOIN (SELECT unnest([32, 256, 2048]) AS bins) bs)
        GROUP BY 1, 2, 3),
      bcum AS (
        SELECT bins, w, b, bcnt,
          sum(bcnt) OVER (PARTITION BY bins ORDER BY b) AS cum
        FROM binned),
      est AS (
        SELECT bc.bins, CAST(rk.p AS BIGINT) AS p, min(bc.b) AS tb,
          min_by(bc.cum - bc.bcnt, bc.b) AS cum_before,
          min_by(bc.bcnt, bc.b) AS cnt_b,
          min(bc.w) AS w, min(rk.vmin) AS vmin, min(rk.r) AS r
        FROM bcum bc JOIN ranks rk ON bc.cum >= rk.r
        GROUP BY 1, 2),
      vals AS (
        SELECT bins, p,
          CAST(vmin + tb * w + (r - cum_before - 1) * w // cnt_b AS BIGINT)
            AS est_cents
        FROM est)
      SELECT v.bins, v.p, e.exact_cents, v.est_cents,
        abs(v.est_cents - e.exact_cents) AS err_cents,
        abs(v.est_cents - e.exact_cents) * 1000000 // e.exact_cents AS err_ppm
      FROM vals v JOIN exact e USING (p)
      ORDER BY v.bins, v.p
    """))

  // ---------------------------------------------------------------- q435

  /** Empirical Bloom-filter false-positive audit: customers with
    * custkey % 3 ≠ 0 become members, three Knuth-hash bit positions per
    * key set a bitset of m ∈ {2¹², 2¹⁴, 2¹⁶} bits, and the DISJOINT probe set
    * (custkey % 3 = 0) measures the realized FPR and load factor — the
    * ground-truth check on q229's sizing formula and q57's join filter:
    * theory says (1−e^(−kn/m))^k, the audit says what THIS data does.
    *
    * Scale shape: the bitset is a distinct-aggregate bounded by m rows
    * (never by members); probes join the bitset on bit position (3
    * probes-sized lookups), so everything after the scans is
    * m-bounded. */
  private val q435 = QueryDef(
    "q435_bloom_fpr_audit",
    (spark, dir) => {
      val ms = expr("array(4096L, 16384L, 65536L)")
      val mults = Seq(2654435761L, 2246822519L, 3266489917L)
      def bits(keyCol: String) = mults.map(mu =>
        expr(s"((($keyCol % 2147483648) * ${mu}L) % 4294967296) % m"))
      val cust = Tables.customer(spark, dir).select(col("c_custkey").as("k"))
      val members = cust.filter(col("k") % 3L =!= 0L)
        .select(col("k"), explode(ms).as("m"))
      val bitset = members
        .select(col("m"), explode(array(bits("k"): _*)).as("bit"))
        .distinct()
      val nm = members.groupBy(col("m")).agg(count(lit(1)).as("n_members"))
      val load = bitset.groupBy(col("m")).agg(count(lit(1)).as("bits_set"))
      val probes = cust.filter(col("k") % 3L === 0L)
        .select(col("k"), explode(ms).as("m"))
      val probeBits = probes
        .select(col("k"), col("m"), posexplode(array(bits("k"): _*))
          .as(Seq("j", "bit")))
      val hits = probeBits
        .join(bitset.withColumn("present", lit(1L)), Seq("m", "bit"), "left")
        .groupBy(col("m"), col("k"))
        .agg(sum(coalesce(col("present"), lit(0L))).as("nbits"))
      val fp = hits.groupBy(col("m"))
        .agg(count(lit(1)).as("n_probes"),
          sum((col("nbits") === 3L).cast("long")).as("false_positives"))
      nm.join(load, Seq("m")).join(fp, Seq("m"))
        .select(col("m"), col("n_members"), col("bits_set"),
          expr("bits_set * 1000000 div m").as("load_ppm"),
          col("n_probes"), col("false_positives"),
          expr("false_positives * 1000000 div n_probes").as("fpr_ppm"))
        .orderBy(col("m"))
    },
    Some {
      val mults = Seq(2654435761L, 2246822519L, 3266489917L)
      def bit(mu: Long) = s"(((k % 2147483648) * $mu) % 4294967296) % m"
      s"""
      WITH ms AS (SELECT CAST(unnest([4096, 16384, 65536]) AS BIGINT) AS m),
      cust AS (SELECT c_custkey AS k FROM customer),
      members AS (
        SELECT k, m FROM cust CROSS JOIN ms WHERE k % 3 <> 0),
      bitset AS (
        SELECT DISTINCT m, bit FROM (
          ${mults.map(mu => s"SELECT m, ${bit(mu)} AS bit FROM members")
            .mkString("\n          UNION ALL\n          ")})),
      nm AS (SELECT m, CAST(count(*) AS BIGINT) AS n_members
        FROM members GROUP BY m),
      load AS (SELECT m, CAST(count(*) AS BIGINT) AS bits_set
        FROM bitset GROUP BY m),
      probes AS (
        SELECT k, m FROM cust CROSS JOIN ms WHERE k % 3 = 0),
      probe_bits AS (
        ${mults.map(mu => s"SELECT k, m, ${bit(mu)} AS bit FROM probes")
          .mkString("\n        UNION ALL\n        ")}),
      hits AS (
        SELECT pb.m, pb.k,
          sum(CASE WHEN bs.bit IS NULL THEN 0 ELSE 1 END) AS nbits
        FROM probe_bits pb
        LEFT JOIN bitset bs ON pb.m = bs.m AND pb.bit = bs.bit
        GROUP BY pb.m, pb.k),
      fp AS (
        SELECT m, CAST(count(*) AS BIGINT) AS n_probes,
          CAST(sum(CASE WHEN nbits = 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS false_positives
        FROM hits GROUP BY m)
      SELECT nm.m, nm.n_members, load.bits_set,
        load.bits_set * 1000000 // nm.m AS load_ppm,
        fp.n_probes, fp.false_positives,
        fp.false_positives * 1000000 // fp.n_probes AS fpr_ppm
      FROM nm JOIN load ON nm.m = load.m JOIN fp ON nm.m = fp.m
      ORDER BY nm.m
    """
    })

  // ---------------------------------------------------------------- q436

  /** Aggregate incremental-view maintenance by the counting algorithm:
    * the materialized view is revenue + row count per returnflag over
    * shipments before 2000-01-01; a mixed delta (inserts: 2000-H1
    * rows; deletes: pre-2000 returned 'R' rows with quantity > 40)
    * folds to per-group (Δcount, Δsum) and MERGES into the view — count
    * reaching zero drops the group, exactly how a view survives deletes
    * without recomputation. The refreshed view is emitted next to the
    * from-scratch recompute with a per-group match flag: the IVM
    * correctness certificate (q375 maintains a JOIN view; q84 an
    * append-only aggregate — this adds deletes).
    *
    * Scale shape: the delta folds map-side before one vocabulary-keyed
    * merge join; the recompute is one more fold of the base — at 100 TB
    * the view refresh reads ONLY the delta partitions (both delta
    * predicates reach the scan). */
  private val q436 = QueryDef(
    "q436_ivm_agg_counting",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("rf"), col("l_shipdate").as("sd"),
          cents(col("l_extendedprice")).as("c"), cents(col("l_quantity")).as("qc"))
      val cutoff = "2000-01-01"
      def agg(df: org.apache.spark.sql.DataFrame, sign: Int) =
        df.groupBy(col("rf"))
          .agg((count(lit(1)) * sign).as("dn"), (sum(col("c")) * sign).as("dc"))
      val view0 = agg(li.filter(col("sd") < cutoff), 1)
      val ins = agg(li.filter(col("sd") >= cutoff && col("sd") < "2000-07-01"), 1)
      val del = agg(li.filter(col("sd") < cutoff && col("rf") === "R" &&
        col("qc") > 4000L), -1)
      val refreshed = view0.unionAll(ins).unionAll(del)
        .groupBy(col("rf"))
        .agg(sum(col("dn")).as("n_inc"), sum(col("dc")).as("rev_inc"))
        .filter(col("n_inc") > 0L)
      val truth = agg(
        li.filter((col("sd") < "2000-07-01") &&
          !(col("sd") < cutoff && col("rf") === "R" && col("qc") > 4000L)), 1)
        .select(col("rf"), col("dn").as("n_full"), col("dc").as("rev_full"))
      refreshed.join(truth, Seq("rf"), "full")
        .select(col("rf"),
          coalesce(col("n_inc"), lit(0L)).as("n_inc"),
          coalesce(col("rev_inc"), lit(0L)).as("rev_inc"),
          coalesce(col("n_full"), lit(0L)).as("n_full"),
          coalesce(col("rev_full"), lit(0L)).as("rev_full"),
          (coalesce(col("n_inc"), lit(0L)) === coalesce(col("n_full"), lit(0L)) &&
            coalesce(col("rev_inc"), lit(0L)) === coalesce(col("rev_full"), lit(0L)))
            .cast("long").as("is_consistent"))
        .orderBy(col("rf"))
    },
    Some("""
      WITH li AS (
        SELECT l_returnflag AS rf, l_shipdate AS sd,
          CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
          CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc
        FROM lineitem),
      view0 AS (
        SELECT rf, CAST(count(*) AS BIGINT) AS dn, CAST(sum(c) AS BIGINT) AS dc
        FROM li WHERE sd < TIMESTAMP '2000-01-01' GROUP BY rf),
      ins AS (
        SELECT rf, CAST(count(*) AS BIGINT) AS dn, CAST(sum(c) AS BIGINT) AS dc
        FROM li WHERE sd >= TIMESTAMP '2000-01-01' AND sd < TIMESTAMP '2000-07-01'
        GROUP BY rf),
      del AS (
        SELECT rf, CAST(-count(*) AS BIGINT) AS dn, CAST(-sum(c) AS BIGINT) AS dc
        FROM li WHERE sd < TIMESTAMP '2000-01-01' AND rf = 'R' AND qc > 4000
        GROUP BY rf),
      refreshed AS (
        SELECT rf, CAST(sum(dn) AS BIGINT) AS n_inc,
          CAST(sum(dc) AS BIGINT) AS rev_inc
        FROM (SELECT * FROM view0 UNION ALL SELECT * FROM ins
              UNION ALL SELECT * FROM del)
        GROUP BY rf HAVING sum(dn) > 0),
      truth AS (
        SELECT rf, CAST(count(*) AS BIGINT) AS n_full,
          CAST(sum(c) AS BIGINT) AS rev_full
        FROM li
        WHERE sd < TIMESTAMP '2000-07-01'
          AND NOT (sd < TIMESTAMP '2000-01-01' AND rf = 'R' AND qc > 4000)
        GROUP BY rf)
      SELECT coalesce(r.rf, t.rf) AS rf,
        coalesce(r.n_inc, 0) AS n_inc, coalesce(r.rev_inc, 0) AS rev_inc,
        coalesce(t.n_full, 0) AS n_full, coalesce(t.rev_full, 0) AS rev_full,
        CAST(CASE WHEN coalesce(r.n_inc, 0) = coalesce(t.n_full, 0)
          AND coalesce(r.rev_inc, 0) = coalesce(t.rev_full, 0)
          THEN 1 ELSE 0 END AS BIGINT) AS is_consistent
      FROM refreshed r FULL JOIN truth t ON r.rf = t.rf
      ORDER BY rf
    """))

  override def defs: Seq[QueryDef] = Seq(q434, q435, q436)
}
