package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.expressions.{poly_hash, tokens_native}
import graft.queries.SqlMacros._

/** Round-4 fingerprint/eval/graph operators: minimizer (winnowing-style)
  * fingerprint sampling with a cross-document share census, the McNemar
  * paired test comparing two curation filters on the same documents, and
  * multi-source landmark BFS distances over the co-supply graph — all
  * deterministic for the oracle gate.
  */
object WinnowQueries extends QueryGroup {

  // ---------------------------------------------------------------- q425

  /** Winnowing fingerprint selection (the MOSS scheme): every 4-token
    * shingle gets a mixed 32-bit hash packed with its position into one
    * key, every window of 9 consecutive shingles contributes its
    * minimum key, and the per-document distinct of those window minima
    * is the fingerprint set — GUARANTEEING a fingerprint in every
    * 9-shingle run (any match ≥ 12 tokens long is caught) at ~2/10
    * storage. Per source: shingle/fingerprint counts, selection
    * density, and how many selected fingerprints also appear selected
    * in ANOTHER document — the storage-bounded dedup index (q29 keeps
    * one fingerprint per doc; q182 weighs full shingle mass; this is
    * the tunable middle). Docs shorter than one window keep their
    * global minimum. A radius-4 LOCAL-minimum scheme is cheaper but
    * forfeits the guarantee (a rising hash run selects nothing) —
    * measured 118 k ppm density with unbounded gaps, hence per-window
    * argmin here.
    *
    * Scale shape: one documents scan explodes to one row per shingle,
    * selection is a PER-DOCUMENT window + distinct (no cross-doc
    * shuffle), and only selected fingerprints (~20%) reach the share
    * join, keyed by 32-bit hash. Position packs into the key below 2^20
    * tokens/doc — chunk longer docs (q103) before fingerprinting. */
  private val q425 = QueryDef(
    "q425_minimizer_fingerprints",
    (spark, dir) => {
      val keyed = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), tokens_native(col("text")).as("toks"))
        .filter(size(col("toks")) >= 4)
        .select(col("doc_id"), col("source"), posexplode(expr(
          "transform(sequence(0, size(toks) - 4), j -> array_join(slice(toks, j + 1, 4), ' '))"))
          .as(Seq("i", "shingle")))
        .select(col("doc_id"), col("source"), col("i"),
          poly_hash(col("shingle")).as("p"))
        .withColumn("h", expr("((p % 2147483648) * 2654435761L) % 4294967296"))
        .withColumn("key", expr("h * 1048576 + i"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val wins = keyed
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .withColumn("wmin", min(col("key")).over(wDoc.rowsBetween(0, 8)))
        .filter(col("i") <= greatest(col("n") - 9L, lit(0L)))
      val sel = wins.select(col("source"), col("doc_id"), col("wmin")).distinct()
        .withColumn("fh", expr("wmin div 1048576"))
      val base = keyed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"))
      val cnt = sel.groupBy(col("source")).agg(count(lit(1)).as("n_fps"))
      val fps = sel.select(col("source"), col("doc_id"), col("fh")).distinct()
      val shared = fps.groupBy(col("fh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2L)
      val perSrc = fps.join(shared, Seq("fh"))
        .groupBy(col("source")).agg(countDistinct(col("fh")).as("n_shared_fps"))
      base.join(cnt, Seq("source"))
        .join(perSrc, Seq("source"), "left")
        .select(col("source"), col("n_shingles"), col("n_fps"),
          expr("n_fps * 1000000 div n_shingles").as("density_ppm"),
          coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, source,
          $duckTokens AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, source, i,
          tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] || ' ' || tk[i + 4]
            AS shingle
        FROM tk, LATERAL (SELECT unnest(range(0, len(tk) - 3)) AS i) g
        WHERE len(tk) >= 4),
      ph AS (
        SELECT doc_id, source, i,
          ${duckPolyHashOf("shingle")} AS p
        FROM sh),
      keyed AS (
        SELECT doc_id, source, i,
          (((p % 2147483648) * 2654435761) % 4294967296) * 1048576 + i AS key
        FROM ph),
      wins AS (
        SELECT doc_id, source,
          min(key) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING) AS wmin,
          i, count(*) OVER (PARTITION BY doc_id) AS n
        FROM keyed),
      sel AS (
        SELECT DISTINCT source, doc_id, wmin, wmin // 1048576 AS fh
        FROM wins WHERE i <= greatest(n - 9, 0)),
      base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
        FROM keyed GROUP BY source),
      cnt AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_fps
        FROM sel GROUP BY source),
      fps AS (SELECT DISTINCT source, doc_id, fh FROM sel),
      shared AS (
        SELECT fh FROM fps GROUP BY fh HAVING count(DISTINCT doc_id) >= 2),
      per_src AS (
        SELECT source, CAST(count(DISTINCT f.fh) AS BIGINT) AS n_shared_fps
        FROM fps f JOIN shared s ON f.fh = s.fh
        GROUP BY source)
      SELECT b.source, b.n_shingles, c.n_fps,
        c.n_fps * 1000000 // b.n_shingles AS density_ppm,
        coalesce(p.n_shared_fps, 0) AS n_shared_fps
      FROM base b JOIN cnt c ON b.source = c.source
      LEFT JOIN per_src p ON b.source = p.source
      ORDER BY b.source
    """))

  // ---------------------------------------------------------------- q426

  /** McNemar's paired test comparing two curation filters on the SAME
    * documents: a length gate (n_chars ≥ 400) vs a token-count gate
    * (≥ 80 tokens), per source. Because the filters run on identical
    * items, only the DISCORDANT cells b (length-only) and c (token-only)
    * carry information — the continuity-corrected statistic
    * (|b−c|−1)²/(b+c) is the principled way to decide "did swapping
    * filters change WHO passes, not just how many" (q270's kappa scores
    * agreement; McNemar scores marginal asymmetry). Scaled ×1000,
    * integer end to end.
    *
    * Scale shape: one documents scan, both gates codegen'd per row, one
    * per-source fold of four counters — no joins, no second pass. */
  private val q426 = QueryDef(
    "q426_mcnemar_filter_test",
    (spark, dir) => {
      val flags = Tables.documents(spark, dir)
        .select(col("source"),
          (col("n_chars") >= 400L).cast("long").as("a"),
          (size(tokens_native(col("text"))) >= 80).cast("long").as("b"))
      flags.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("a * b")).as("both_pass"),
          sum(expr("a * (1 - b)")).as("only_len"),
          sum(expr("(1 - a) * b")).as("only_tok"),
          sum(expr("(1 - a) * (1 - b)")).as("neither"))
        .select(col("source"), col("n_docs"), col("both_pass"),
          col("only_len"), col("only_tok"), col("neither"),
          when(col("only_len") + col("only_tok") === 0L, 0L)
            .otherwise(expr(
              "(abs(only_len - only_tok) - 1) * (abs(only_len - only_tok) - 1) * 1000" +
                " div (only_len + only_tok)"))
            .as("mcnemar_milli"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH flags AS (
        SELECT source,
          CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS a,
          CASE WHEN len($duckTokens) >= 80
            THEN 1 ELSE 0 END AS b
        FROM documents),
      cells AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(a * b) AS BIGINT) AS both_pass,
          CAST(sum(a * (1 - b)) AS BIGINT) AS only_len,
          CAST(sum((1 - a) * b) AS BIGINT) AS only_tok,
          CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS neither
        FROM flags GROUP BY source)
      SELECT source, n_docs, both_pass, only_len, only_tok, neither,
        CAST(CASE WHEN only_len + only_tok = 0 THEN 0
          ELSE (abs(only_len - only_tok) - 1) * (abs(only_len - only_tok) - 1)
            * 1000 // (only_len + only_tok) END AS BIGINT) AS mcnemar_milli
      FROM cells
      ORDER BY source
    """))

  // ---------------------------------------------------------------- q427

  /** Multi-source landmark BFS over the co-supply graph (q75's edges):
    * the 4 smallest connected supplier keys seed distance 0, three
    * relaxation rounds propagate d(v) = min(d(v), min_u d(u)+1) along
    * edges, and the output is the hop-distance histogram (9999 → −1 =
    * unreached) — the landmark-distance primitive under graph-diameter
    * estimates and proximity features (q185 counts 2-hop reach from
    * every node; this measures GLOBAL layering from a fixed seed set).
    * The 9999 sentinel replaces NULL so min-relaxation is total in both
    * engines.
    *
    * Scale shape: one keyed join + one min-aggregate per round
    * (frontier-filtered: settled-or-unreached nodes don't expand), the
    * landmark set is a broadcast 4-row table, and the plan depth is
    * bounded by the fixed 3 rounds — the same iterate-shuffle shape as
    * q75's PageRank. */
  private val q427 = QueryDef(
    "q427_landmark_bfs_layers",
    (spark, dir) => {
      // r13: the symmetric edge list mirrors the memoized checkpointed
      // graph.Backbone canon — no per-query fact pass, flat lineage
      val edges = graft.graph.Backbone.coSupplySym(spark, dir)
      val lm = edges.select(col("src").as("node")).distinct()
        .orderBy(col("node")).limit(4)
      // each round reads the previous round's dist twice (frontier expand
      // + the min-merge join) — localCheckpoint per round (q691/q701
      // discipline: per-round persist would both re-embed round 1's
      // subtree AND stack nested persisted AQE frames whose onUpdatePlan
      // explain render grows combinatorially)
      var dist = Tables.supplier(spark, dir).select(col("s_suppkey").as("node"))
        .join(broadcast(lm.withColumn("zero", lit(0L))), Seq("node"), "left")
        .select(col("node"), coalesce(col("zero"), lit(9999L)).as("d"))
        .localCheckpoint(true)
      for (_ <- 1 to 3) {
        val byNbr = edges
          .join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .filter(col("d") < 9999L)
          .groupBy(col("dst").as("node")).agg(min(col("d") + 1L).as("nd"))
        dist = dist.join(byNbr, Seq("node"), "left")
          .select(col("node"),
            least(col("d"), coalesce(col("nd"), lit(9999L))).as("d"))
          .localCheckpoint(true)
      }
      dist.groupBy(when(col("d") === 9999L, -1L).otherwise(col("d")).as("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'),
      e AS (
        SELECT DISTINCT a.sk AS src, b.sk AS dst
        FROM li a JOIN li b ON a.ok = b.ok AND a.sk <> b.sk),
      lm AS (SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 4),
      d0 AS (
        SELECT s_suppkey AS node,
          CASE WHEN s_suppkey IN (SELECT node FROM lm) THEN 0 ELSE 9999 END AS d
        FROM supplier),
      d1 AS (
        SELECT d0.node,
          least(d0.d, coalesce(min(s.d + 1), 9999)) AS d
        FROM d0 LEFT JOIN e ON e.dst = d0.node
          LEFT JOIN d0 s ON s.node = e.src AND s.d < 9999
        GROUP BY d0.node, d0.d),
      d2 AS (
        SELECT d1.node,
          least(d1.d, coalesce(min(s.d + 1), 9999)) AS d
        FROM d1 LEFT JOIN e ON e.dst = d1.node
          LEFT JOIN d1 s ON s.node = e.src AND s.d < 9999
        GROUP BY d1.node, d1.d),
      d3 AS (
        SELECT d2.node,
          least(d2.d, coalesce(min(s.d + 1), 9999)) AS d
        FROM d2 LEFT JOIN e ON e.dst = d2.node
          LEFT JOIN d2 s ON s.node = e.src AND s.d < 9999
        GROUP BY d2.node, d2.d)
      SELECT CAST(CASE WHEN d = 9999 THEN -1 ELSE d END AS BIGINT) AS dist,
        CAST(count(*) AS BIGINT) AS n_nodes
      FROM d3 GROUP BY 1 ORDER BY dist
    """))

  override def defs: Seq[QueryDef] = Seq(q425, q426, q427)
}
