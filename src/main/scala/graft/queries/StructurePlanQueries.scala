package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-10 batch 4: access-structure probes — the MaxScore/WAND
  * pruning audit every disjunctive top-k engine runs before sizing its
  * posting traversal, a character-level de Bruijn branching census (the
  * compressible-chain statistic from sequence assembly, repurposed as a
  * corpus predictability-structure probe), and the sort-key column-order
  * advisor that picks a lexicographic order by the Σ NDV(prefix) RLE
  * cost model. All exact integers; every corpus-sized input folds to a
  * bounded table in one pass.
  */
object StructurePlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q702

  /** MaxScore pruning-depth audit: take the six highest-volume long
    * tokens (len ≥ 6 — the cheap stopword fence) as a disjunctive
    * query, score docs by summed term frequency, and find the exact
    * top-10 threshold θ. MaxScore's split: order terms by upper bound
    * (max tf) ascending; the maximal prefix whose cumulative UB sum
    * stays ≤ θ is NON-ESSENTIAL — a doc containing only those terms
    * can never beat θ, so their postings are skipped for candidate
    * generation. The audit reports, per term, its posting length, UB,
    * cumulative UB, and essential flag, plus how many postings
    * exhaustive vs MaxScore traversal scores — the number an IR engine
    * uses to decide whether the optimization pays.
    *
    * Scale shape: one explode+groupBy to the (term, doc, tf) posting
    * table (the row-scale shuffle, map-side combined) filtered by the
    * broadcast 6-term panel; doc scores fold per doc; θ is a top-10
    * one-row broadcast; the split is a ≤6-row cumulative window
    * (bounded global window, sanctioned). */
  private val q702 = QueryDef(
    "q702_maxscore_pruning_audit",
    (spark, dir) => {
      val tokens = Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      val terms = tokens.filter(length(col("token")) >= 6)
        .groupBy(col("token")).agg(count(lit(1)).as("volume"))
        .orderBy(col("volume").desc, col("token")).limit(6)
        .select(col("token"))
      val postings = tokens.join(broadcast(terms), Seq("token"))
        .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val theta = postings.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .agg(min(col("score")).as("theta"))
      val stats = postings.groupBy(col("token"))
        .agg(count(lit(1)).as("posting_len"), max(col("tf")).as("ub"))
      val w = Window.orderBy(col("ub"), col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val split = stats.crossJoin(broadcast(theta))
        .withColumn("cum_ub", sum(col("ub")).over(w))
        .withColumn("essential",
          when(col("cum_ub") > col("theta"), 1L).otherwise(0L))
      val totals = split.agg(
        sum(col("posting_len")).as("scanned_exhaustive"),
        sum(col("posting_len") * col("essential")).as("scanned_maxscore"))
      split.select(col("token"), col("posting_len"), col("ub"),
          col("cum_ub"), col("essential"), col("theta"))
        .crossJoin(broadcast(totals))
        .orderBy(col("ub"), col("token"))
    },
    Some(s"""
      WITH tokens AS (
        SELECT doc_id,
          unnest($duckTokens)
            AS token
        FROM documents),
      terms AS MATERIALIZED (
        SELECT token FROM tokens WHERE len(token) >= 6
        GROUP BY token ORDER BY count(*) DESC, token LIMIT 6),
      postings AS MATERIALIZED (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM tokens JOIN terms USING (token)
        GROUP BY token, doc_id),
      theta AS MATERIALIZED (
        SELECT CAST(min(score) AS BIGINT) AS theta FROM (
          SELECT doc_id, sum(tf) AS score FROM postings GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT 10)),
      stats AS (
        SELECT token, CAST(count(*) AS BIGINT) AS posting_len,
          CAST(max(tf) AS BIGINT) AS ub
        FROM postings GROUP BY token),
      split AS MATERIALIZED (
        SELECT token, posting_len, ub,
          CAST(sum(ub) OVER (ORDER BY ub, token
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_ub,
          theta
        FROM stats CROSS JOIN theta),
      flagged AS MATERIALIZED (
        SELECT token, posting_len, ub, cum_ub,
          CAST(CASE WHEN cum_ub > theta THEN 1 ELSE 0 END AS BIGINT)
            AS essential,
          theta
        FROM split),
      totals AS (
        SELECT CAST(sum(posting_len) AS BIGINT) AS scanned_exhaustive,
          CAST(sum(posting_len * essential) AS BIGINT) AS scanned_maxscore
        FROM flagged)
      SELECT token, posting_len, ub, cum_ub, essential, theta,
        scanned_exhaustive, scanned_maxscore
      FROM flagged CROSS JOIN totals
      ORDER BY ub, token
    """))

  // ---------------------------------------------------------------- q703

  /** Character-level de Bruijn branching census over the first 512
    * chars of every document: states are char 3-grams, edges the
    * observed shift-by-one 3-gram successions. The census reports the
    * out-degree histogram plus the unitig share (states with in-degree
    * = out-degree = 1 — the compressible non-branching chains of
    * sequence assembly). A predictable, templated corpus collapses
    * into long unitigs; a diverse one branches — the structural
    * complement of q667's Heaps and q698's Yule K, at character
    * granularity.
    *
    * Scale shape: the position explode is the row-scale stage (≤512
    * rows per doc by the prefix bound), folding immediately to
    * distinct (gram, next-gram) edges; degrees and the histogram are
    * vocabulary-sized (≤ |charset|³ states). */
  private val q703 = QueryDef(
    "q703_debruijn_branching",
    (spark, dir) => {
      val prefixed = Tables.fanOut(Tables.documents(spark, dir))
        .select(substring(col("text"), 1, 512).as("t"))
        // guard: sequence(1, 0) DESCENDS in Spark — never let the
        // bound go non-positive
        .filter(length(col("t")) >= 4)
      // an edge (g, h) with h = shift-by-one of g is BIJECTIVE with its
      // covering 4-gram: dedupe ONE short string per position, derive
      // g/h only on the bounded distinct set (≈2× less string work)
      // r13: array_distinct dedupes the ≤509 4-grams INSIDE the document
      // map-side before the corpus-wide distinct, shrinking the exchange
      // input (guide §2.3; global distinct of per-doc-distinct multiset
      // ≡ global distinct of the raw multiset)
      val edges = prefixed
        .select(explode(expr(
          "array_distinct(transform(sequence(1, length(t) - 3), i -> substring(t, i, 4)))"))
          .as("g4"))
        .distinct()
        .select(expr("substring(g4, 1, 3)").as("g"),
          expr("substring(g4, 2, 3)").as("h"))
      val outDeg = edges.groupBy(col("g").as("state"))
        .agg(count(lit(1)).as("outd"))
      val inDeg = edges.groupBy(col("h").as("state"))
        .agg(count(lit(1)).as("ind"))
      val states = outDeg.join(inDeg, Seq("state"), "full")
        .select(col("state"), coalesce(col("outd"), lit(0L)).as("outd"),
          coalesce(col("ind"), lit(0L)).as("ind"))
      val unitig = states.agg(
        count(lit(1)).as("n_states"),
        sum(when(col("outd") === 1 && col("ind") === 1, 1L).otherwise(0L))
          .as("unitigs"))
        .select(col("n_states"),
          expr("unitigs * 1000000 div n_states").as("unitig_ppm"))
      states.groupBy(col("outd").as("out_degree"))
        .agg(count(lit(1)).as("n_states_at"))
        .crossJoin(broadcast(unitig))
        .orderBy(col("out_degree"))
    },
    Some("""
      WITH prefixed AS (
        SELECT substring(text, 1, 512) AS t FROM documents
        WHERE len(substring(text, 1, 512)) >= 4),
      g4 AS MATERIALIZED (
        SELECT DISTINCT substring(t, i, 4) AS g4
        FROM prefixed,
          LATERAL unnest(range(1, len(t) - 3 + 1)) AS u(i)),
      edges AS MATERIALIZED (
        SELECT substring(g4, 1, 3) AS g, substring(g4, 2, 3) AS h
        FROM g4),
      outdeg AS (
        SELECT g AS state, CAST(count(*) AS BIGINT) AS outd
        FROM edges GROUP BY g),
      indeg AS (
        SELECT h AS state, CAST(count(*) AS BIGINT) AS ind
        FROM edges GROUP BY h),
      states AS MATERIALIZED (
        SELECT coalesce(o.state, i.state) AS state,
          coalesce(o.outd, 0) AS outd, coalesce(i.ind, 0) AS ind
        FROM outdeg o FULL JOIN indeg i ON o.state = i.state),
      unitig AS (
        SELECT CAST(count(*) AS BIGINT) AS n_states,
          CAST(sum(CASE WHEN outd = 1 AND ind = 1 THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS unitig_ppm
        FROM states)
      SELECT outd AS out_degree, CAST(count(*) AS BIGINT) AS n_states_at,
        n_states, unitig_ppm
      FROM states CROSS JOIN unitig
      GROUP BY outd, n_states, unitig_ppm
      ORDER BY out_degree
    """))

  // ---------------------------------------------------------------- q704

  /** Sort-key column-order advisor: for the three candidate lineitem
    * sort columns (returnflag, linestatus, quantity decade band), cost
    * every lexicographic order by the standard RLE model
    * Σ_i NDV(prefix_i) — each column's run count under a (c1..ck) sort
    * is bounded by (and in practice tracks) the distinct-prefix count
    * at its depth. All 7 subset NDVs come out of ONE cube pass (cube
    * cells ARE the distinct combinations — q689's mask trick); the six
    * permutations are then costed on the 7-row table and ranked. The
    * q372 complement: q372 measures runs under the EXISTING order, this
    * picks the order for the rewrite.
    *
    * Scale shape: one cube pass over lineitem (cells bounded by
    * 3·2·5 value combinations); permutation costing is a ≤6×7 literal
    * cross on bounded rows. */
  private val q704 = QueryDef(
    "q704_sortkey_order_advisor",
    (spark, dir) => {
      val cells = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("f"), col("l_linestatus").as("s"),
          expr("(CAST(floor(l_quantity + 0.5) AS BIGINT) - 1) div 10")
            .as("b"))
        .cube(col("f"), col("s"), col("b"))
        .agg(grouping(col("f")).as("gf"), grouping(col("s")).as("gs"),
          grouping(col("b")).as("gb"))
        .select(expr(
          "CAST(4 * (1 - gf) + 2 * (1 - gs) + (1 - gb) AS BIGINT)")
          .as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("ndv"))
      // 6 permutations as (order, prefix-1 mask, prefix-2 mask); the
      // full prefix is always mask 7. Bits: f = 4, s = 2, b = 1.
      val perms = cells.sparkSession.sql(
        """SELECT * FROM VALUES
           ('f,s,b', 4L, 6L), ('f,b,s', 4L, 5L),
           ('s,f,b', 2L, 6L), ('s,b,f', 2L, 3L),
           ('b,f,s', 1L, 5L), ('b,s,f', 1L, 3L)
           AS t(perm, m1, m2)""")
      val costed = perms
        .join(broadcast(cells.select(col("mask").as("m1"),
          col("ndv").as("n1"))), Seq("m1"))
        .join(broadcast(cells.select(col("mask").as("m2"),
          col("ndv").as("n2"))), Seq("m2"))
        .crossJoin(broadcast(cells.filter(col("mask") === 7L)
          .select(col("ndv").as("n3"))))
        .select(col("perm"),
          (col("n1") + col("n2") + col("n3")).as("run_cost"),
          col("n1"), col("n2"), col("n3"))
      costed
        .withColumn("rk", rank().over(
          Window.orderBy(col("run_cost"), col("perm"))).cast("long"))
        .orderBy(col("rk"), col("perm"))
    },
    Some("""
      WITH cube_rows AS (
        SELECT CAST(4 * (1 - GROUPING(f)) + 2 * (1 - GROUPING(s))
            + (1 - GROUPING(b)) AS BIGINT) AS mask
        FROM (
          SELECT l_returnflag AS f, l_linestatus AS s,
            (CAST(floor(l_quantity + 0.5) AS BIGINT) - 1) // 10 AS b
          FROM lineitem)
        GROUP BY CUBE (f, s, b)),
      cells2 AS MATERIALIZED (
        SELECT mask, CAST(count(*) AS BIGINT) AS ndv
        FROM cube_rows GROUP BY mask),
      perms(perm, m1, m2) AS (
        VALUES ('f,s,b', 4, 6), ('f,b,s', 4, 5),
               ('s,f,b', 2, 6), ('s,b,f', 2, 3),
               ('b,f,s', 1, 5), ('b,s,f', 1, 3)),
      costed AS (
        SELECT perm, c1.ndv + c2.ndv + c3.ndv AS run_cost,
          c1.ndv AS n1, c2.ndv AS n2, c3.ndv AS n3
        FROM perms
        JOIN cells2 c1 ON c1.mask = m1
        JOIN cells2 c2 ON c2.mask = m2
        JOIN cells2 c3 ON c3.mask = 7)
      SELECT perm, run_cost, n1, n2, n3,
        CAST(rank() OVER (ORDER BY run_cost, perm) AS BIGINT) AS rk
      FROM costed ORDER BY rk, perm
    """))

  def defs: Seq[QueryDef] = Seq(q702, q703, q704)
}
