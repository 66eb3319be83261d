package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents

/** Round-4 storage-layout operators: Hilbert-vs-Z-order range-query
  * locality bake-off, SSTable prefix-compression block planning, and a
  * Merkle partition digest for snapshot reconciliation — the physical-
  * design side of the engine, deterministic for the oracle gate.
  */
object LayoutCurveQueries extends QueryGroup {

  /** Order-4 Hilbert curve (16×16): d2xy mapping computed once here and
    * inlined as literals in BOTH engines (the curve is a constant, not
    * data). Standard bit-twiddling walk (Hamilton's algorithm). */
  private val HilbertCells: Seq[(Int, Int, Int)] = {
    def d2xy(d: Int): (Int, Int) = {
      var (rx, ry, t) = (0, 0, d)
      var (x, y) = (0, 0)
      var s = 1
      while (s < 16) {
        rx = 1 & (t / 2)
        ry = 1 & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx
        y += s * ry
        t /= 4
        s *= 2
      }
      (x, y)
    }
    (0 until 256).map { d => val (x, y) = d2xy(d); (x, y, d) }
  }

  /** Z-order (Morton) index for the same 16×16 grid: interleave the 4
    * bits of x (even positions) and y (odd positions). */
  private def morton(x: Int, y: Int): Int =
    (0 until 4).map(b => (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum

  private val CurveRows: Seq[(Int, Int, Int, Int)] =
    HilbertCells.map { case (x, y, h) => (x, y, h, morton(x, y)) }

  private val CurveValuesSql: String =
    CurveRows.map { case (x, y, h, z) => s"($x, $y, $h, $z)" }.mkString(", ")

  // ---------------------------------------------------------------- q431

  /** Hilbert vs Z-order range-query locality on REAL data: orders map
    * onto a 16×16 (custkey, orderkey) grid, each 4×4 tile OFFSET BY 2
    * stands for a rectangular range query, and for each curve the
    * tile's non-empty cells are counted as contiguous RUNS of curve
    * positions — each run is one sequential scan range, so fewer runs =
    * fewer seeks for the same query (q123 plans a z-order layout; this
    * measures whether Hilbert's no-jump property buys anything on this
    * data). The offset matters: quadrant-ALIGNED tiles are contiguous
    * under ANY quadrant-recursive curve (measured: both score a perfect
    * 16), so only straddling rectangles discriminate — which is also
    * the honest workload model, since real predicates don't align to
    * the curve's dyadic grid. The curve tables are 256-row literals in
    * both engines.
    *
    * Scale shape: one orders scan folds to ≤ 256 cell counts; curves
    * join by broadcast; runs are a per-(curve, tile) window over ≤ 16
    * rows. */
  private val q431 = QueryDef(
    "q431_hilbert_z_locality",
    (spark, dir) => {
      import spark.implicits._
      val curves = CurveRows.toDF("x", "y", "h_idx", "z_idx")
        .select(col("x").cast("long"), col("y").cast("long"),
          col("h_idx").cast("long"), col("z_idx").cast("long"))
      val cells = Tables.orders(spark, dir)
        .select(pmod(col("o_custkey"), lit(16L)).as("x"),
          pmod(col("o_orderkey"), lit(16L)).as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_rows"))
      val placed = cells.join(broadcast(curves), Seq("x", "y"))
        .select(col("x"), col("y"), col("n_rows"),
          expr("((x + 2) div 4) * 8 + (y + 2) div 4").as("tile"),
          explode(array(
            struct(lit("hilbert").as("curve"), col("h_idx").as("idx")),
            struct(lit("zorder").as("curve"), col("z_idx").as("idx")))).as("c"))
        .select(col("c.curve"), col("tile"), col("c.idx"), col("n_rows"))
      val wTile = Window.partitionBy(col("curve"), col("tile")).orderBy(col("idx"))
      val runs = placed
        .withColumn("prev", lag(col("idx"), 1).over(wTile))
        .withColumn("new_run",
          when(col("prev").isNull || col("idx") - col("prev") > 1L, 1L).otherwise(0L))
        .groupBy(col("curve"), col("tile"))
        .agg(sum(col("new_run")).as("tile_runs"),
          (max(col("idx")) - min(col("idx")) + 1L).as("tile_span"),
          count(lit(1)).as("tile_cells"))
      val tot = runs.groupBy(col("curve"))
        .agg(sum(col("tile_runs")).as("total_runs"),
          sum(col("tile_span")).as("total_span"),
          sum(col("tile_cells")).as("n_nonempty_cells"))
      val best = tot.agg(min(col("total_runs")).as("best_runs"))
      tot.crossJoin(broadcast(best))
        .select(col("curve"), col("total_runs"), col("total_span"),
          col("n_nonempty_cells"),
          when(col("total_runs") === col("best_runs"), 1L).otherwise(0L)
            .as("is_winner"))
        .orderBy(col("curve"))
    },
    Some(s"""
      WITH curves AS (
        SELECT * FROM (VALUES $CurveValuesSql) AS t(x, y, h_idx, z_idx)),
      cells AS (
        SELECT o_custkey % 16 AS x, o_orderkey % 16 AS y,
          CAST(count(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY 1, 2),
      placed AS (
        SELECT u.curve, ((c.x + 2) // 4) * 8 + (c.y + 2) // 4 AS tile,
          CASE WHEN u.curve = 'hilbert' THEN cv.h_idx ELSE cv.z_idx END AS idx,
          c.n_rows
        FROM cells c
        JOIN curves cv ON c.x = cv.x AND c.y = cv.y
        CROSS JOIN (SELECT unnest(['hilbert', 'zorder']) AS curve) u),
      flagged AS (
        SELECT curve, tile, idx,
          CASE WHEN lag(idx) OVER (PARTITION BY curve, tile ORDER BY idx)
            IS NULL OR idx - lag(idx) OVER (PARTITION BY curve, tile
            ORDER BY idx) > 1 THEN 1 ELSE 0 END AS new_run
        FROM placed),
      runs AS (
        SELECT curve, tile, CAST(sum(new_run) AS BIGINT) AS tile_runs,
          CAST(max(idx) - min(idx) + 1 AS BIGINT) AS tile_span,
          CAST(count(*) AS BIGINT) AS tile_cells
        FROM flagged GROUP BY curve, tile),
      tot AS (
        SELECT curve, CAST(sum(tile_runs) AS BIGINT) AS total_runs,
          CAST(sum(tile_span) AS BIGINT) AS total_span,
          CAST(sum(tile_cells) AS BIGINT) AS n_nonempty_cells
        FROM runs GROUP BY curve),
      best AS (SELECT min(total_runs) AS best_runs FROM tot)
      SELECT curve, total_runs, total_span, n_nonempty_cells,
        CAST(CASE WHEN total_runs = best_runs THEN 1 ELSE 0 END AS BIGINT)
          AS is_winner
      FROM tot CROSS JOIN best
      ORDER BY curve
    """))

  // ---------------------------------------------------------------- q432

  /** SSTable prefix-compression block planner: part names sorted as
    * storage keys, the longest common prefix of each adjacent pair
    * computed by an integer fold (codegen'd HOF — no UDF), and block
    * sizes 16/64/256 swept: within a block every key after the restart
    * row stores only its suffix, so saved bytes = Σ LCP over non-restart
    * rows — the RocksDB/LevelDB block-format decision (q325 prices
    * dictionary encoding, q297 delta-varints; this prices the sorted-
    * string layout).
    *
    * Scale shape: one part scan, a global sort (the layout IS the sort
    * — rangepartitioned at scale), one lag window, then a 3-way
    * explode over block sizes folding to 3 rows. */
  private val q432 = QueryDef(
    "q432_sstable_prefix_plan",
    (spark, dir) => {
      val keys = Tables.part(spark, dir)
        .select(col("p_name").as("k"))
        .withColumn("rn", row_number().over(Window.orderBy(col("k"))).cast("long"))
      val lcp = keys
        .withColumn("prev", lag(col("k"), 1).over(Window.orderBy(col("rn"))))
        .withColumn("lcp", when(col("prev").isNull, 0L).otherwise(expr(
          """CAST(aggregate(sequence(1, least(length(k), length(prev))), 0,
             (acc, i) -> IF(acc = i - 1 AND substring(k, i, 1) = substring(prev, i, 1),
                            i, acc)) AS BIGINT)""")))
      lcp.select(col("rn"), col("lcp"), length(col("k")).cast("long").as("klen"),
          explode(expr("array(16L, 64L, 256L)")).as("block_size"))
        .groupBy(col("block_size"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("klen")).as("raw_bytes"),
          sum(when((col("rn") - 1L) % col("block_size") === 0L, 0L)
            .otherwise(col("lcp"))).as("saved_bytes"))
        .select(col("block_size"), col("n_keys"), col("raw_bytes"),
          col("saved_bytes"),
          expr("saved_bytes * 1000000 div raw_bytes").as("savings_ppm"),
          expr("(n_keys + block_size - 1) div block_size").as("n_blocks"))
        .orderBy(col("block_size"))
    },
    Some("""
      WITH keys AS (
        SELECT p_name AS k,
          CAST(row_number() OVER (ORDER BY p_name) AS BIGINT) AS rn
        FROM part),
      lcps AS (
        SELECT rn, len(k)::BIGINT AS klen,
          CASE WHEN lag(k) OVER (ORDER BY rn) IS NULL THEN 0
            ELSE list_reduce(list_prepend(0::BIGINT,
              range(1, least(len(k), len(lag(k) OVER (ORDER BY rn))) + 1)),
              (acc, i) -> CASE WHEN acc = i - 1
                AND k[CAST(i AS INTEGER)] =
                  (lag(k) OVER (ORDER BY rn))[CAST(i AS INTEGER)]
                THEN i ELSE acc END)
          END AS lcp
        FROM keys),
      sweep AS (
        SELECT rn, lcp, klen, CAST(bs AS BIGINT) AS block_size
        FROM lcps CROSS JOIN (SELECT unnest([16, 64, 256]) AS bs) b)
      SELECT block_size, CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(klen) AS BIGINT) AS raw_bytes,
        CAST(sum(CASE WHEN (rn - 1) % block_size = 0 THEN 0 ELSE lcp END)
          AS BIGINT) AS saved_bytes,
        CAST(sum(CASE WHEN (rn - 1) % block_size = 0 THEN 0 ELSE lcp END)
          * 1000000 // sum(klen) AS BIGINT) AS savings_ppm,
        (count(*) + block_size - 1) // block_size AS n_blocks
      FROM sweep GROUP BY block_size
      ORDER BY block_size
    """))

  // ---------------------------------------------------------------- q433

  /** Merkle partition digest for snapshot reconciliation: snapshot A =
    * today's orders, snapshot B = A minus a lost key range [1000, 1200)
    * plus a 1-cent corruption in [2000, 2100) — each 1024-key leaf
    * folds an order-independent 32-bit digest (sum of per-row mixed
    * hashes), three tree levels fold 4 children each, and the output
    * counts differing nodes per level: O(diff·log n) localization
    * instead of q65's full-table diff — how replicas anti-entropy at
    * 100 TB without shipping tables.
    *
    * Scale shape: both snapshot scans fold map-side to leaf digests
    * (≤ keyspace/1024 rows); the tree is three tiny re-aggregations;
    * the diff is a leaf-keyed outer join. */
  private val q433 = QueryDef(
    "q433_merkle_snapshot_diff",
    (spark, dir) => {
      val base = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), cents(col("o_totalprice")).as("c"))
      val snapA = base
      val snapB = base
        .filter(!(col("k") >= 1000L && col("k") < 1200L))
        .withColumn("c",
          when(col("k") >= 2000L && col("k") < 2100L, col("c") + 1L)
            .otherwise(col("c")))
      def leaves(df: org.apache.spark.sql.DataFrame) = df
        .select(expr("k div 1024").as("leaf"),
          expr("(((k % 2147483648) * 2654435761L) % 4294967296 + c) % 4294967296")
            .as("d"))
        .groupBy(col("leaf"))
        .agg(expr("sum(d) % 4294967296").as("digest"), count(lit(1)).as("n"))
      def level(df: org.apache.spark.sql.DataFrame, l: Int) = df
        .groupBy(expr(s"leaf div ${1L << (2 * l)}").as("node"))
        .agg(expr("sum(digest) % 4294967296").as("digest"), sum(col("n")).as("n"))
        .select(lit(3L - l).as("level"), col("node"), col("digest"), col("n"))
      def tree(df: org.apache.spark.sql.DataFrame) = {
        val lv = leaves(df)
        (0 to 3).map(l => level(lv, l)).reduce(_ unionAll _)
      }
      val a = tree(snapA)
      val b = tree(snapB)
        .withColumnRenamed("digest", "digest_b").withColumnRenamed("n", "n_b")
      a.join(b, Seq("level", "node"), "full")
        .select(col("level"),
          (coalesce(col("digest"), lit(-1L)) =!= coalesce(col("digest_b"), lit(-1L)) ||
            coalesce(col("n"), lit(-1L)) =!= coalesce(col("n_b"), lit(-1L)))
            .cast("long").as("diff"))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("diff")).as("n_diff"))
        .withColumn("diff_ppm", expr("n_diff * 1000000 div n_nodes"))
        .orderBy(col("level"))
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS k,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders),
      snap_a AS (SELECT * FROM base),
      snap_b AS (
        SELECT k, CASE WHEN k >= 2000 AND k < 2100 THEN c + 1 ELSE c END AS c
        FROM base WHERE NOT (k >= 1000 AND k < 1200)),
      la AS (
        SELECT k // 1024 AS leaf,
          sum((((k % 2147483648) * 2654435761) % 4294967296 + c) % 4294967296)
            % 4294967296 AS digest,
          CAST(count(*) AS BIGINT) AS n
        FROM snap_a GROUP BY 1),
      lb AS (
        SELECT k // 1024 AS leaf,
          sum((((k % 2147483648) * 2654435761) % 4294967296 + c) % 4294967296)
            % 4294967296 AS digest,
          CAST(count(*) AS BIGINT) AS n
        FROM snap_b GROUP BY 1),
      ta AS (
        SELECT CAST(3 - l AS BIGINT) AS level, leaf // power(4, l)::BIGINT AS node,
          sum(digest) % 4294967296 AS digest, CAST(sum(n) AS BIGINT) AS n
        FROM la CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS l) ls
        GROUP BY 1, 2),
      tb AS (
        SELECT CAST(3 - l AS BIGINT) AS level, leaf // power(4, l)::BIGINT AS node,
          sum(digest) % 4294967296 AS digest, CAST(sum(n) AS BIGINT) AS n
        FROM lb CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS l) ls
        GROUP BY 1, 2),
      d AS (
        SELECT coalesce(ta.level, tb.level) AS level,
          CASE WHEN coalesce(ta.digest, -1) <> coalesce(tb.digest, -1)
            OR coalesce(ta.n, -1) <> coalesce(tb.n, -1) THEN 1 ELSE 0 END AS diff
        FROM ta FULL JOIN tb ON ta.level = tb.level AND ta.node = tb.node)
      SELECT level, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(diff) AS BIGINT) AS n_diff,
        CAST(sum(diff) * 1000000 // count(*) AS BIGINT) AS diff_ppm
      FROM d GROUP BY level
      ORDER BY level
    """))

  override def defs: Seq[QueryDef] = Seq(q431, q432, q433)
}
