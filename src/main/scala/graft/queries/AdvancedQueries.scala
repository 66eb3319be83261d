package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Skew
import graft.queries.SqlMacros._
import graft.similarity.{Ivf, Knn}

/** Scale-path operators: the SQL entry point, IVF approximate nearest
  * neighbor, and explicit skew-salted joins. */
object AdvancedQueries extends QueryGroup {

  private val revenueSql =
    "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount*100 + 0.5) AS BIGINT))"

  /** The spark.sql(...) surface: TPC-H Q5 shape (6-way join + agg)
    * written as SQL over registered views — same text modulo view names
    * runs on the oracle. */
  private val q31 = QueryDef(
    "q31_sql_api_tpch_q5",
    (spark, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => Tables.table(spark, dir, n).createOrReplaceTempView(s"graft_$n"))
      spark.sql(s"""
        SELECT n_name, CAST(sum($revenueSql) AS DOUBLE)/10000 AS revenue
        FROM graft_customer, graft_orders, graft_lineitem, graft_supplier, graft_nation, graft_region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name
      """)
    },
    Some(s"""
      SELECT n_name, CAST(sum($revenueSql) AS DOUBLE)/10000 AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name
    """))

  /** IVF approximate top-k: one-Lloyd-step integer k-means index (8
    * cells), probe the 2 cells nearest the query — the scale path next
    * to q25's exact scan. Oracle reproduces the full build+probe in SQL.
    */
  private val q32 = QueryDef(
    "q32_ivf_ann_topk",
    (spark, dir) => {
      val (assignments, centroids) = Ivf.build(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8)
      Ivf.probeTopK(assignments, centroids, queryId = 0L, k = 10, nprobe = 2)
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id, $duckQuantVec AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS dim),
      seeded AS (SELECT id, qv, id % 8 AS cluster FROM base),
      cent0 AS (
        SELECT cluster, list(m ORDER BY dim) AS centroid FROM (
          SELECT cluster, d.dim, CAST(floor(sum(qv[d.dim])/count(*)) AS BIGINT) AS m
          FROM seeded CROSS JOIN dims d GROUP BY cluster, d.dim)
        GROUP BY cluster),
      scored AS (
        SELECT b.id, b.qv, c.cluster,
          CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i]*c.centroid[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(b.qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(c.centroid, x -> x*x)) AS DOUBLE)) AS cos
        FROM base b CROSS JOIN cent0 c),
      assigned AS (
        SELECT id, qv, cluster FROM scored
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY cos DESC, cluster) = 1),
      cent1 AS (
        SELECT cluster, list(m ORDER BY dim) AS centroid FROM (
          SELECT cluster, d.dim, CAST(floor(sum(qv[d.dim])/count(*)) AS BIGINT) AS m
          FROM assigned CROSS JOIN dims d GROUP BY cluster, d.dim)
        GROUP BY cluster),
      qrow AS (SELECT qv AS q_qv FROM base WHERE id = 0),
      cells AS (
        SELECT c.cluster FROM cent1 c CROSS JOIN qrow
        ORDER BY
          CAST(list_sum(list_transform(range(1, 65), i -> q_qv[i]*c.centroid[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(c.centroid, x -> x*x)) AS DOUBLE)) DESC,
          c.cluster
        LIMIT 2)
      SELECT a.id AS vec_id,
        CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i]*q_qv[i])) AS DOUBLE)
          / sqrt(CAST(list_sum(list_transform(a.qv, x -> x*x)) AS DOUBLE)
               * CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)) AS cosine
      FROM assigned a JOIN cells USING (cluster) CROSS JOIN qrow
      WHERE a.id <> 0
      ORDER BY cosine DESC, vec_id LIMIT 10
    """))

  /** Salted fact⋈dim join on a genuinely hot key: ~90% of events collapse
    * onto one synthetic power-law key (the skew shape salting exists for —
    * a plain shuffle join would put 90% of the fact table in one task at
    * any cluster size). The small distinct-key dim is the replicated ×8
    * side, per `Skew.saltedJoin`'s contract; results are identical to the
    * plain join — salting only changes partitioning, which is the point.
    * `SkewSpec` demonstrates the balance win on the same shape. */
  private val q33 = QueryDef(
    "q33_salted_join",
    (spark, dir) => {
      val hotKey = when(pmod(col("user_id"), lit(10L)) < 9, lit(0L)).otherwise(col("user_id"))
      val facts = Tables.events(spark, dir)
        .select(hotKey.as("hot_key"), col("value"))
      val dim = facts.select(col("hot_key")).distinct()
        .withColumn("tier", pmod(col("hot_key"), lit(7L)))
      Skew.saltedJoin(facts, dim, "hot_key", salts = 8)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Deterministic.moneySum(col("value")).as("total_value"))
        .orderBy("tier")
    },
    Some("""
      WITH e AS (
        SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS hot_key, value
        FROM events),
      d AS (SELECT DISTINCT hot_key, hot_key % 7 AS tier FROM e)
      SELECT tier, count(*) AS n_events,
        CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS total_value
      FROM e JOIN d USING (hot_key)
      GROUP BY tier ORDER BY tier
    """))

  /** Per-group top-k via the native bounded-heap aggregate
    * (graft.functions.TopKPairs): map-side partials carry ≤k rows per
    * group into the shuffle — no per-group sort, unlike window rank. */
  private val q35 = QueryDef(
    "q35_topk_per_group_aggregate",
    (spark, dir) => {
      Tables.customer(spark, dir)
        .groupBy(col("c_nationkey"))
        .agg(graft.functions.TopKAggregate.topk_pairs(col("c_acctbal"), col("c_custkey"), 3).as("top"))
        .select(col("c_nationkey"), posexplode(col("top")).as(Seq("idx", "t")))
        .select(
          col("c_nationkey"),
          (col("idx") + 1).cast("long").as("rank"),
          col("t").getField("id").as("c_custkey"),
          col("t").getField("score").as("c_acctbal"))
        .orderBy("c_nationkey", "rank")
    },
    Some("""
      SELECT c_nationkey, CAST(row_number() OVER w AS BIGINT) AS rank, c_custkey, c_acctbal
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      QUALIFY row_number() OVER w <= 3
      ORDER BY c_nationkey, rank
    """))

  /** TPC-H Q8 shape (market share): the deepest join tree in the suite —
    * lineitem ⋈ part ⋈ supplier ⋈ orders ⋈ customer ⋈ nation×2 ⋈ region,
    * written declaratively so Catalyst orders the joins; every
    * dimension side broadcasts, the only big shuffle is
    * lineitem ⋈ orders. Volume is the exact integer
    * cents×(100−discount%) of q31, so the final share is one division
    * of exact longs. */
  private val q86 = QueryDef(
    "q86_tpch_q8_market_share",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val vol = (graft.functions.Deterministic.cents(col("l_extendedprice")) *
        (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("vc")
      li
        .join(broadcast(Tables.part(spark, dir).filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(spark, dir)
            .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)
            .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
          col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.nation(spark, dir)
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          vol, col("supp_nation"))
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", col("vc")).otherwise(0L)).as("nation_vol"),
          sum(col("vc")).as("total_vol"))
        .select(col("o_year"), col("nation_vol"), col("total_vol"),
          (col("nation_vol").cast("double") / col("total_vol")).as("mkt_share"))
        .orderBy("o_year")
    },
    Some(s"""
      WITH flat AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          $revenueSql AS vc,
          n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        JOIN nation n2 ON s_nationkey = n2.n_nationkey)
      SELECT o_year,
        CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vc ELSE 0 END) AS BIGINT) AS nation_vol,
        CAST(sum(vc) AS BIGINT) AS total_vol,
        CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vc ELSE 0 END) AS BIGINT) AS DOUBLE)
          / CAST(sum(vc) AS BIGINT) AS mkt_share
      FROM flat GROUP BY o_year ORDER BY o_year
    """))

  /** IVF recall sweep: recall@10 of the IVF index (q32) against the
    * brute-force truth (q25) for nprobe ∈ {1, 2, 4, 8} — the
    * accuracy-vs-cost curve an ANN deployment tunes against. nprobe=8
    * probes every cell, so its row doubles as a self-check: recall must
    * be 10/10 (the q32 "nprobe=all ≡ exact" identity, now measured
    * rather than assumed).
    *
    * Scale shape: one IVF build (narrow argmax assignment, read by all
    * four probes), each probe touching only its cells'
    * vectors with the query broadcast; the brute-force truth is one
    * TakeOrdered over the corpus. The recall join compares two 10-row
    * sets per probe — nothing. Counts are integers; recall in exact
    * ppm. */
  private val q170 = QueryDef(
    "q170_ivf_recall_sweep",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val (assignments, centroids) = Ivf.build(emb, "vec_id", "embedding", k = 8)
      val brute = Knn.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
        .select(col("vec_id"))
      val per = Seq(1, 2, 4, 8).map { p =>
        Ivf.probeTopK(assignments, centroids, queryId = 0L, k = 10, nprobe = p)
          .select(lit(p.toLong).as("nprobe"), col("id").as("vec_id"))
      }.reduce(_ unionAll _)
      val hits = per.join(brute, Seq("vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
      spark.range(0, 4)
        .select(expr("element_at(array(1L, 2L, 4L, 8L), CAST(id AS INT) + 1)")
          .as("nprobe"))
        .join(hits, Seq("nprobe"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select(col("nprobe"), col("n_hits"),
          (col("n_hits") * 100000L).as("recall_ppm"))
        .orderBy(col("nprobe"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id,
          $duckQuantVec AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS dim),
      seeded AS (SELECT id, qv, id % 8 AS cluster FROM base),
      cent0 AS (
        SELECT cluster, list(m ORDER BY dim) AS centroid FROM (
          SELECT cluster, d.dim, CAST(floor(sum(qv[d.dim])/count(*)) AS BIGINT) AS m
          FROM seeded CROSS JOIN dims d GROUP BY cluster, d.dim)
        GROUP BY cluster),
      scored AS (
        SELECT b.id, b.qv, c.cluster,
          CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i]*c.centroid[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(b.qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(c.centroid, x -> x*x)) AS DOUBLE)) AS cos
        FROM base b CROSS JOIN cent0 c),
      assigned AS (
        SELECT id, qv, cluster FROM scored
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY cos DESC, cluster) = 1),
      cent1 AS (
        SELECT cluster, list(m ORDER BY dim) AS centroid FROM (
          SELECT cluster, d.dim, CAST(floor(sum(qv[d.dim])/count(*)) AS BIGINT) AS m
          FROM assigned CROSS JOIN dims d GROUP BY cluster, d.dim)
        GROUP BY cluster),
      qrow AS (SELECT qv AS q_qv FROM base WHERE id = 0),
      cellrank AS (
        SELECT c.cluster, row_number() OVER (ORDER BY
          CAST(list_sum(list_transform(range(1, 65), i -> q_qv[i]*c.centroid[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(c.centroid, x -> x*x)) AS DOUBLE)) DESC,
          c.cluster) AS rc
        FROM cent1 c CROSS JOIN qrow),
      probes AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
      cand AS (
        SELECT p.nprobe, a.id,
          CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i]*q_qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(a.qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)) AS cosine
        FROM assigned a
        JOIN cellrank cr USING (cluster)
        CROSS JOIN probes p CROSS JOIN qrow
        WHERE cr.rc <= p.nprobe AND a.id <> 0),
      topk AS (
        SELECT nprobe, id FROM cand
        QUALIFY row_number() OVER (PARTITION BY nprobe
          ORDER BY cosine DESC, id) <= 10),
      brute AS (
        SELECT b.id FROM base b CROSS JOIN qrow
        WHERE b.id <> 0
        ORDER BY
          CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i]*q_qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(b.qv, x -> x*x)) AS DOUBLE)
                 * CAST(list_sum(list_transform(q_qv, x -> x*x)) AS DOUBLE)) DESC,
          b.id
        LIMIT 10),
      hits AS (
        SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
        FROM topk JOIN brute USING (id) GROUP BY 1)
      SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
        coalesce(h.n_hits, 0) AS n_hits,
        coalesce(h.n_hits, 0) * 100000 AS recall_ppm
      FROM probes p LEFT JOIN hits h USING (nprobe)
      ORDER BY nprobe
    """))

  /** Matryoshka-style dimension-truncation recall: top-10 by quantized
    * cosine using only the FIRST d dims (d ∈ {8, 16, 32, 64}) against
    * the full-width truth — the measurement behind shipping truncated
    * embeddings (d/8 of the storage, bandwidth, and dot-product cost)
    * when the recall curve says the tail dims don't pay their way. The
    * d=64 row is a self-check: recall must be 10/10.
    *
    * Scale shape: the (id, vector) base is one narrow scan read by
    * all five rankings; each ranking is a narrow sliced-dot projection
    * with the one-row query broadcast, collapsing to
    * TakeOrderedAndProject (per-partition top-10 heaps — no global
    * sort, no pairwise join). The recall join compares 10-row sets. */
  private val q173 = QueryDef(
    "q173_dim_truncation_recall",
    (spark, dir) => {
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val dims = Seq(8, 16, 32, 64)
      def topk(d: Int) = {
        val q = base.filter(col("vec_id") === 0L)
          .select(slice(col("embedding"), 1, d).as("q_emb"))
        base.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            graft.functions.expressions.quantized_cosine(
              slice(col("embedding"), 1, d), col("q_emb")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
          .select(col("vec_id"))
      }
      val truth = topk(64)
      val per = dims.map(d => topk(d).select(lit(d.toLong).as("dims"), col("vec_id")))
        .reduce(_ unionAll _)
      val hits = per.join(truth, Seq("vec_id"), "left_semi")
        .groupBy(col("dims")).agg(count(lit(1)).as("n_hits"))
      spark.range(0, dims.length)
        .select(expr("element_at(array(8L, 16L, 32L, 64L), CAST(id AS INT) + 1)")
          .as("dims"))
        .join(hits, Seq("dims"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select(col("dims"), col("n_hits"),
          (col("n_hits") * 100000L).as("recall_ppm"))
        .orderBy(col("dims"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id AS id,
          $duckQuantVec AS qv
        FROM embeddings),
      dims AS (SELECT unnest([8, 16, 32, 64]) AS d),
      qrow AS (SELECT qv AS q_qv FROM base WHERE id = 0),
      scored AS (
        SELECT d.d, b.id,
          CAST(list_sum(list_transform(range(1, d.d + 1), i -> b.qv[i]*q_qv[i])) AS DOUBLE)
            / sqrt(CAST(list_sum(list_transform(range(1, d.d + 1), i -> b.qv[i]*b.qv[i])) AS DOUBLE)
                 * CAST(list_sum(list_transform(range(1, d.d + 1), i -> q_qv[i]*q_qv[i])) AS DOUBLE)) AS cos
        FROM base b CROSS JOIN dims d CROSS JOIN qrow
        WHERE b.id <> 0),
      topk AS (
        SELECT d, id FROM scored
        QUALIFY row_number() OVER (PARTITION BY d ORDER BY cos DESC, id) <= 10),
      truth AS (SELECT id FROM topk WHERE d = 64),
      hits AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n_hits
        FROM topk JOIN truth USING (id) GROUP BY d)
      SELECT CAST(d.d AS BIGINT) AS dims,
        coalesce(h.n_hits, 0) AS n_hits,
        coalesce(h.n_hits, 0) * 100000 AS recall_ppm
      FROM dims d LEFT JOIN hits h USING (d)
      ORDER BY dims
    """))

  def defs: Seq[QueryDef] = Seq(q31, q32, q33, q35, q86, q170, q173)
}
