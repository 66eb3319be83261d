package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TopKAggregate.topk_pairs
import graft.functions.expressions.{long_dot, maxsim_blocks}
import graft.queries.SqlMacros._

/** Round-8 batch 2: multi-ranker retrieval plumbing — the cascade
  * recall-depth sweep (how deep must the cheap scorer's candidate list
  * go before the expensive scorer's answers are all in it), reciprocal-
  * rank fusion (the score-free list combiner), and a rank-disagreement
  * census (Spearman footrule between the two scorers). All three ride
  * the round-8 codegen kernels (long_dot / maxsim_blocks) and the
  * TopKPairs bounded-heap discipline: per-probe candidate lists of ≤ 40
  * rows cross the shuffle, never a corpus-sized window. Outputs exact
  * integers with total ORDER BYs for the oracle gate.
  */
object FusionPlanQueries extends QueryGroup {

  /** Quantized corpus + probe panel shared by the three queries:
    * probes = vec_id < `nProbes`, corpus = the rest, scored by both
    * the flat dot and 4-block MaxSim (one panel-broadcast pass). */
  private def scored(spark: org.apache.spark.sql.SparkSession, dir: String,
                     nProbes: Int): org.apache.spark.sql.DataFrame = {
    val qv = "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(qv).as("v"))
    val probes = base.filter(col("vec_id") < nProbes.toLong)
      .select(col("vec_id").as("pid"), col("v").as("pv"))
    base.filter(col("vec_id") >= nProbes.toLong)
      .crossJoin(broadcast(probes))
      .select(col("pid"), col("vec_id"),
        long_dot(col("pv"), col("v")).as("dot"),
        maxsim_blocks(col("pv"), col("v"), 4).as("ms"))
  }

  private val scoredSql = s"""
      base AS (
        SELECT vec_id,
          $duckQuantVec AS v
        FROM embeddings),
      probes AS (SELECT vec_id AS pid, v AS pv FROM base WHERE vec_id < NPROBES),
      scored AS (
        SELECT p.pid, b.vec_id,
          CAST(list_sum(list_transform(range(1, 65), t ->
            p.pv[CAST(t AS INTEGER)] * b.v[CAST(t AS INTEGER)])) AS BIGINT)
            AS dot,
          CAST(list_sum(list_transform(range(0, 4), j ->
            list_max(list_slice(
              list_transform(range(0, 16), q ->
                CAST(list_sum(list_transform(range(1, 17), t ->
                  p.pv[CAST((q // 4) * 16 + t AS INTEGER)]
                  * b.v[CAST((q % 4) * 16 + t AS INTEGER)])) AS BIGINT)),
              CAST(j * 4 + 1 AS INTEGER), CAST(j * 4 + 4 AS INTEGER)))))
            AS BIGINT) AS ms
        FROM base b CROSS JOIN probes p WHERE b.vec_id >= NPROBES),
      ranked AS (
        SELECT *,
          row_number() OVER (PARTITION BY pid ORDER BY dot DESC, vec_id)
            AS rk_dot,
          row_number() OVER (PARTITION BY pid ORDER BY ms DESC, vec_id)
            AS rk_ms
        FROM scored)"""

  // ---------------------------------------------------------------- q648

  /** Cascade recall-depth sweep: a two-stage retrieval cascade runs the
    * cheap scorer (flat dot) over everything and the expensive scorer
    * (MaxSim late interaction) only over the cheap top-d. The design
    * question is d: recall@10 here is the fraction of MaxSim's TRUE
    * top-10 that survives the stage-1 cut at d ∈ {10, 20, 40} — the
    * exact curve a serving team reads before fixing the rerank depth
    * (d too small silently loses answers; d too big pays MaxSim cost
    * for nothing).
    *
    * Scale shape: scoring is one panel-broadcast codegen pass (8
    * probes × corpus); BOTH candidate lists come from one bounded-heap
    * groupBy (≤ 50 rows per probe cross the shuffle); the sweep is a
    * 3-row broadcast grid over 8 probe rows; readout is 3 rows. */
  private val q648 = QueryDef(
    "q648_cascade_recall_sweep",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(10, 20, 40).map(_.toLong).toDF("depth")
      val top = scored(spark, dir, 8).groupBy(col("pid")).agg(
        topk_pairs(col("ms").cast("double"), col("vec_id"), 10).as("top_ms"),
        topk_pairs(col("dot").cast("double"), col("vec_id"), 40).as("top_dot"))
      top.crossJoin(broadcast(grid))
        .select(col("depth"),
          expr("""CAST(size(array_intersect(
              transform(top_ms, x -> x.id),
              transform(slice(top_dot, 1, CAST(depth AS INT)), x -> x.id)))
            AS BIGINT)""").as("hits"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_probes"), sum(col("hits")).as("total_hits"))
        .select(col("depth"), col("n_probes"), col("total_hits"),
          expr("total_hits * 1000000 div (10 * n_probes)").as("recall_ppm"))
        .orderBy(col("depth"))
    },
    Some(s"""
      WITH grid(depth) AS (VALUES (CAST(10 AS BIGINT)), (CAST(20 AS BIGINT)),
        (CAST(40 AS BIGINT))),
      ${scoredSql.replace("NPROBES", "8")}
      SELECT g.depth,
        CAST(count(DISTINCT r.pid) AS BIGINT) AS n_probes,
        CAST(sum(CASE WHEN r.rk_ms <= 10 AND r.rk_dot <= g.depth
          THEN 1 ELSE 0 END) AS BIGINT) AS total_hits,
        CAST(sum(CASE WHEN r.rk_ms <= 10 AND r.rk_dot <= g.depth
            THEN 1 ELSE 0 END) * 1000000
          // (10 * count(DISTINCT r.pid)) AS BIGINT) AS recall_ppm
      FROM ranked r CROSS JOIN grid g
      GROUP BY g.depth ORDER BY g.depth
    """))

  // ---------------------------------------------------------------- q649

  /** Reciprocal-rank fusion: combine the dot and MaxSim top-10s
    * without comparing their (incommensurable) scores — each system
    * contributes 10⁶ div (60 + rank) for every document it ranked
    * (Cormack et al.'s k = 60), and the fused list is ordered by the
    * sum. Documents found by BOTH systems float to the top; the fused
    * top-3 per probe plus membership flags show what fusion adds over
    * either list alone.
    *
    * Scale shape: both top-10s from one bounded-heap groupBy; the
    * explode/join/fuse works on ≤ 20 rows per probe (5 probes); the
    * fused re-rank is a window over those ≤ 20-row probe partitions —
    * aggregate-output-sized, never corpus rows. */
  private val q649 = QueryDef(
    "q649_reciprocal_rank_fusion",
    (spark, dir) => {
      val top = scored(spark, dir, 5).groupBy(col("pid")).agg(
        topk_pairs(col("dot").cast("double"), col("vec_id"), 10).as("td"),
        topk_pairs(col("ms").cast("double"), col("vec_id"), 10).as("tm"))
      val d = top.select(col("pid"), posexplode(col("td")).as(Seq("p", "e")))
        .select(col("pid"), col("e.id").as("vid"), (col("p") + 1L).as("rd"))
      val m = top.select(col("pid"), posexplode(col("tm")).as(Seq("p", "e")))
        .select(col("pid"), col("e.id").as("vid"), (col("p") + 1L).as("rm"))
      val fused = d.join(m, Seq("pid", "vid"), "full")
        .select(col("pid"), col("vid"),
          (coalesce(expr("1000000 div (60 + rd)"), lit(0L))
            + coalesce(expr("1000000 div (60 + rm)"), lit(0L))).as("rrf_ppm"),
          col("rd").isNotNull.cast("long").as("in_dot"),
          col("rm").isNotNull.cast("long").as("in_ms"))
      fused
        .withColumn("fused_rank", row_number().over(
          Window.partitionBy(col("pid"))
            .orderBy(col("rrf_ppm").desc, col("vid"))))
        .filter(col("fused_rank") <= 3L)
        .select(col("pid"), col("fused_rank").cast("long").as("fused_rank"),
          col("vid"), col("rrf_ppm"), col("in_dot"), col("in_ms"))
        .orderBy(col("pid"), col("fused_rank"))
    },
    Some(s"""
      WITH ${scoredSql.replace("NPROBES", "5")},
      d AS (SELECT pid, vec_id AS vid, rk_dot AS rd FROM ranked WHERE rk_dot <= 10),
      m AS (SELECT pid, vec_id AS vid, rk_ms AS rm FROM ranked WHERE rk_ms <= 10),
      fused AS (
        SELECT coalesce(d.pid, m.pid) AS pid, coalesce(d.vid, m.vid) AS vid,
          CAST(coalesce(1000000 // (60 + d.rd), 0)
            + coalesce(1000000 // (60 + m.rm), 0) AS BIGINT) AS rrf_ppm,
          CAST(CASE WHEN d.rd IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_dot,
          CAST(CASE WHEN m.rm IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_ms
        FROM d FULL OUTER JOIN m ON d.pid = m.pid AND d.vid = m.vid),
      rr AS (
        SELECT *, row_number() OVER (PARTITION BY pid
          ORDER BY rrf_ppm DESC, vid) AS fused_rank
        FROM fused)
      SELECT pid, CAST(fused_rank AS BIGINT) AS fused_rank, vid, rrf_ppm,
        in_dot, in_ms
      FROM rr WHERE fused_rank <= 3 ORDER BY pid, fused_rank
    """))

  // ---------------------------------------------------------------- q650

  /** Rank-disagreement census: per probe, compare the dot and MaxSim
    * top-20s — overlap (Jaccard of the two sets, in ppm) and the
    * Spearman footrule Σ|rank_dot − rank_ms| over the SHARED
    * candidates. Footrule ≈ 0 with high overlap means the cheap scorer
    * is a drop-in; high overlap with large footrule means stage-2
    * reranking actually reorders (the cascade is earning its cost);
    * low overlap means the two scorers retrieve different things and
    * fusion (q649) beats cascading (q648).
    *
    * Scale shape: both top-20s from one bounded-heap groupBy; the
    * footrule join touches ≤ 20 rows per probe; readout is 8 probe
    * rows. */
  private val q650 = QueryDef(
    "q650_rank_disagreement_footrule",
    (spark, dir) => {
      val top = scored(spark, dir, 8).groupBy(col("pid")).agg(
        topk_pairs(col("dot").cast("double"), col("vec_id"), 20).as("td"),
        topk_pairs(col("ms").cast("double"), col("vec_id"), 20).as("tm"))
      val d = top.select(col("pid"), posexplode(col("td")).as(Seq("p", "e")))
        .select(col("pid"), col("e.id").as("vid"), (col("p") + 1L).as("rd"))
      val m = top.select(col("pid"), posexplode(col("tm")).as(Seq("p", "e")))
        .select(col("pid"), col("e.id").as("vid"), (col("p") + 1L).as("rm"))
      d.join(m, Seq("pid", "vid"))
        .groupBy(col("pid"))
        .agg(count(lit(1)).as("n_common"),
          sum(abs(col("rd") - col("rm"))).as("footrule"))
        .select(col("pid"), col("n_common"), col("footrule"),
          expr("n_common * 1000000 div (40 - n_common)").as("jaccard_ppm"))
        .orderBy(col("pid"))
    },
    Some(s"""
      WITH ${scoredSql.replace("NPROBES", "8")},
      d AS (SELECT pid, vec_id AS vid, rk_dot AS rd FROM ranked WHERE rk_dot <= 20),
      m AS (SELECT pid, vec_id AS vid, rk_ms AS rm FROM ranked WHERE rk_ms <= 20)
      SELECT d.pid, CAST(count(*) AS BIGINT) AS n_common,
        CAST(sum(abs(d.rd - m.rm)) AS BIGINT) AS footrule,
        CAST(count(*) * 1000000 // (40 - count(*)) AS BIGINT) AS jaccard_ppm
      FROM d JOIN m ON d.pid = m.pid AND d.vid = m.vid
      GROUP BY d.pid ORDER BY d.pid
    """))

  override def defs: Seq[QueryDef] = Seq(q648, q649, q650)
}
