package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.{quantized_cosine, tokens_native}
import graft.operators.Sampling
import graft.queries.SqlMacros._
import graft.text.TextAnalysis.languageId

/** Round-5 model-quality and graph-structure operators: LM-based corpus
  * filtering (the CCNet recipe), classifier-agreement statistics,
  * k-core decomposition, embedding-based benchmark decontamination,
  * tokenizer planning, PMI collocations, and degree assortativity.
  *
  * All arithmetic is engine-portable: integer scores (ppm/per-mille
  * quantization), and the only doubles are images of exact integers
  * under the identical IEEE expression on both engines.
  */
object ModelQueries extends QueryGroup {

  /** Adjacent word pairs per document: posexplode → positional
    * self-equi-join on (doc, pos) — the narrow distributed form of a
    * per-doc sliding window (no per-doc sort, no UDF). */
  private def bigrams(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens_native(col("text"))).as(Seq("pos", "token")))
    tok.select(col("doc_id"), col("pos"), col("token").as("w1"))
      .join(tok.select(col("doc_id"), (col("pos") - 1).as("pos"), col("token").as("w2")),
        Seq("doc_id", "pos"))
      .select(col("doc_id"), col("w1"), col("w2"))
  }

  private val duckBigrams = s"""
      tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
      bb AS (
        SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
          SELECT doc_id, unnest([struct_pack(w1 := tk[i], w2 := tk[i+1])
                                 for i in range(1, len(tk))]) AS s
          FROM tk WHERE len(tk) >= 2))"""

  /** Symmetric, deduplicated co-supply edges for one ship-year (suppliers
    * sharing an order) — since r13 a mirror of the memoized checkpointed
    * graph.Backbone canon (one fact pass per (dir, year) per run). */
  private def cosupplyEdges(spark: SparkSession, dir: String, year: Int): DataFrame =
    graft.graph.Backbone.coSupplySym(spark, dir, year)

  private def duckCosupply(year: Int) = s"""
      li AS (
        SELECT l_orderkey, l_suppkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '$year-01-01'
          AND l_shipdate < TIMESTAMP '${year + 1}-01-01'),
      e0 AS (
        SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey)"""

  /** LM-based quality filtering (the CCNet recipe, log-free): score each
    * document by the mean conditional frequency of its word bigrams under
    * the corpus's own bigram model — boilerplate-dense documents score
    * high, incoherent/rare-sequence documents score low, and the bottom
    * tail is what a perplexity filter would cut. The score is
    * mean(c(w1,w2)·10^6 div c(w1·)) — every term an exact long, sums
    * order-independent, no logs (rank-equivalent to mean inverse
    * surprisal; a log-based mean would hash-diverge on partition order).
    *
    * Scale shape: the bigram count table is vocabulary²-bounded and
    * aggregated with map-side partials; the per-doc score is one
    * equi-join of doc bigrams against it plus one doc-keyed aggregate;
    * bottom-k is TakeOrderedAndProject. Nothing quadratic in docs. */
  private val q269 = QueryDef(
    "q269_bigram_surprisal_filter",
    (spark, dir) => {
      val bb = bigrams(spark, dir)
      val cnt = bb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val head = cnt.groupBy(col("w1")).agg(sum(col("cnt")).as("head_total"))
      bb.join(cnt, Seq("w1", "w2")).join(head, Seq("w1"))
        .select(col("doc_id"), expr("cnt * 1000000L div head_total").as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("sum_ppm"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_ppm div n_bigrams").as("score_ppm"))
        .orderBy(col("score_ppm"), col("doc_id"))
        .limit(20)
    },
    Some(s"""
      WITH $duckBigrams,
      c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bb GROUP BY 1, 2),
      h AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS head_total FROM c GROUP BY 1),
      d AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(cnt * 1000000 // head_total) AS BIGINT) AS sum_ppm
        FROM bb JOIN c USING (w1, w2) JOIN h USING (w1)
        GROUP BY doc_id)
      SELECT doc_id, n_bigrams,
        CAST(sum_ppm // n_bigrams AS BIGINT) AS score_ppm
      FROM d ORDER BY score_ppm, doc_id LIMIT 20
    """))

  /** Cohen's kappa between the declared language label and the stopword
    * language classifier — chance-corrected agreement, the right
    * statistic when classes are imbalanced (raw accuracy is inflated by
    * the majority class). kappa = (N·agree − Σ_k row_k·col_k) /
    * (N² − Σ_k row_k·col_k), emitted ppm-quantized from exact integer
    * numerator/denominator (exact while N < ~3·10^6 — kappa audits run
    * on bounded eval samples; larger audits move the product to
    * decimal(38,0)).
    *
    * Scale shape: the corpus collapses to a class-count confusion matrix
    * (vocabulary-sized) in one hash aggregate; everything after is
    * arithmetic over ≤ |classes|² rows. */
  private val q270 = QueryDef(
    "q270_langid_kappa",
    (spark, dir) => {
      val conf = Tables.documents(spark, dir)
        .select(col("lang"), languageId(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      val totals = conf.agg(sum(col("n")).as("n_total"),
        sum(when(col("lang") === col("pred"), col("n")).otherwise(0L)).as("n_agree"))
      val rows = conf.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
      val cols = conf.groupBy(col("pred")).agg(sum(col("n")).as("col_n"))
      val pe = rows.join(cols, col("lang") === col("pred"))
        .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_cross"))
      totals.crossJoin(pe)
        .select(col("n_total"), col("n_agree"), col("pe_cross"),
          expr("(n_total * n_agree - pe_cross) * 1000000L div (n_total * n_total - pe_cross)")
            .as("kappa_ppm"))
    },
    Some {
      import graft.text.TextAnalysis.Stopwords
      val hits = Stopwords.map { case (l, ws) =>
        s"len(list_filter($duckTokens, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS score_$l"
      }.mkString(",\n          ")
      val best = s"greatest(${Stopwords.map(s => "score_" + s._1).mkString(",")})"
      val chain = Stopwords.map(s =>
        s"WHEN score_${s._1} > 0 AND score_${s._1} = $best THEN '${s._1}'").mkString(" ")
      s"""
      WITH s AS (
        SELECT lang,
          $hits
        FROM documents),
      p AS (SELECT lang, CASE $chain ELSE 'und' END AS pred FROM s),
      conf AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
      t AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
          CAST(sum(CASE WHEN lang = pred THEN n ELSE 0 END) AS BIGINT) AS n_agree
        FROM conf),
      r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM conf GROUP BY lang),
      c AS (SELECT pred, CAST(sum(n) AS BIGINT) AS col_n FROM conf GROUP BY pred),
      pe AS (
        SELECT CAST(coalesce(sum(row_n * col_n), 0) AS BIGINT) AS pe_cross
        FROM r JOIN c ON lang = pred)
      SELECT n_total, n_agree, pe_cross,
        CAST((n_total * n_agree - pe_cross) * 1000000
          // (n_total * n_total - pe_cross) AS BIGINT) AS kappa_ppm
      FROM t CROSS JOIN pe
      """
    })

  /** k-core decomposition by iterative peeling: drop nodes of degree < k,
    * recompute degrees, repeat — after 3 rounds the surviving subgraph
    * approximates the k-core (exact once peeling reaches fixpoint; the
    * round count is the caller's convergence dial, as in q56/q75). The
    * core is the standard dense-backbone extractor for co-occurrence
    * graphs — peripheral pairings peel away. k is data-relative
    * (min_deg + span/4 of the INITIAL degree distribution) so the query
    * peels meaningfully at any scale factor instead of hard-coding a
    * density assumption.
    *
    * Scale shape per round: one hash aggregate (degrees) + two semi-join
    * shaped equi-joins to restrict both endpoints — the degree table is
    * node-sized and broadcastable, k a broadcast one-row aggregate (never
    * a driver collect); edges shuffle on their keys, nothing quadratic,
    * nothing driver-side. */
  private val q271 = QueryDef(
    "q271_kcore_decomposition",
    (spark, dir) => {
      // the canon behind cosupplyEdges is already memo-checkpointed
      // (r13); the mirror union is a flat two-leaf plan, so peel rounds
      // re-embed only projections of a LogicalRDD — no extra checkpoint
      val e0 = cosupplyEdges(spark, dir, 1996)
      val kv = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(expr("min(deg) + (max(deg) - min(deg)) div 4").as("k"))
      var e = e0
      for (_ <- 1 to 3) {
        val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .crossJoin(broadcast(kv))
          .filter(col("deg") >= col("k")).select(col("src"))
        e = e.join(keep, Seq("src"))
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"))
          .select(col("src"), col("dst"))
      }
      e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .select(col("src").as("node"), col("degree"))
        .orderBy(col("node"))
    },
    Some(s"""
      WITH ${duckCosupply(1996)},
      d0 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
      kv AS (
        SELECT CAST(min(deg) + (max(deg) - min(deg)) // 4 AS BIGINT) AS k FROM d0),
      n1 AS (SELECT src FROM e0, kv GROUP BY src, k HAVING count(*) >= k),
      e1 AS (
        SELECT src, dst FROM e0
        WHERE src IN (SELECT src FROM n1) AND dst IN (SELECT src FROM n1)),
      n2 AS (SELECT src FROM e1, kv GROUP BY src, k HAVING count(*) >= k),
      e2 AS (
        SELECT src, dst FROM e1
        WHERE src IN (SELECT src FROM n2) AND dst IN (SELECT src FROM n2)),
      n3 AS (SELECT src FROM e2, kv GROUP BY src, k HAVING count(*) >= k),
      e3 AS (
        SELECT src, dst FROM e2
        WHERE src IN (SELECT src FROM n3) AND dst IN (SELECT src FROM n3))
      SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM e3 GROUP BY src ORDER BY node
    """))

  /** Embedding-based benchmark decontamination (the semantic complement
    * of q68's n-gram overlap): corpus vectors whose cosine against ANY
    * held-out benchmark vector clears 0.30 are contamination candidates;
    * each reports its closest benchmark neighbor. Benchmark membership
    * here is the deterministic vec_id % 25 split.
    *
    * Scale shape: the benchmark side is small by definition → broadcast;
    * the corpus is scanned once, scored per partition against the
    * broadcast set (the quantized-cosine kernel is codegen'd), and only
    * candidates reach the per-vector argmax window. No corpus×corpus
    * join anywhere. */
  private val q272 = QueryDef(
    "q272_semantic_decontamination",
    (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val bench = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("bench_id"), col("embedding").as("b_vec"))
      emb.filter(col("vec_id") % 25 =!= 0)
        .crossJoin(broadcast(bench))
        .select(col("vec_id"), col("bench_id"),
          quantized_cosine(col("embedding"), col("b_vec")).as("cosine"))
        .filter(col("cosine") >= 0.30)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("bench_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("bench_id"), col("cosine"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q),
      b AS (SELECT vec_id AS bench_id, qv AS bqv, nsq AS bnsq FROM n WHERE vec_id % 25 = 0),
      c AS (SELECT vec_id, qv, nsq FROM n WHERE vec_id % 25 <> 0),
      s AS (
        SELECT c.vec_id, b.bench_id,
          CAST(CAST(list_sum(list_transform(range(1, len(c.qv)+1),
                 i -> c.qv[i]*b.bqv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(c.nsq AS DOUBLE)*CAST(b.bnsq AS DOUBLE)) AS cosine
        FROM c CROSS JOIN b)
      SELECT vec_id, bench_id, cosine FROM s
      WHERE cosine >= 0.30
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, bench_id) = 1
      ORDER BY vec_id
    """))

  /** Tokenizer planning census per language: word counts, characters per
    * word (centi-quantized), the chars/4 BPE-token estimate (per-doc
    * floor, summed — matching how budget planners round), and fertility
    * (estimated BPE tokens per whitespace word, ppm). The numbers that
    * size a tokenizer's per-language budget before an expensive real
    * tokenization pass.
    *
    * Scale shape: one hash aggregate over the corpus; token counts are
    * computed by the codegen'd tokenizer kernel on the scan, no explode —
    * the aggregate's input is one row per document, its output one row
    * per language. */
  private val q273 = QueryDef(
    "q273_tokenizer_fertility",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("lang"), col("n_chars"),
          size(tokens_native(col("text"))).cast("long").as("n_words"),
          expr("(n_chars + 3) div 4").as("est_bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("est_bpe")).as("est_bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("est_bpe_tokens"),
          expr("total_chars * 100L div n_words").as("chars_per_word_cq"),
          expr("est_bpe_tokens * 1000000L div n_words").as("fertility_ppm"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH d AS (
        SELECT lang, n_chars,
          CAST(len($duckTokens) AS BIGINT) AS n_words,
          (n_chars + 3) // 4 AS est_bpe
        FROM documents),
      a AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_words) AS BIGINT) AS n_words,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          CAST(sum(est_bpe) AS BIGINT) AS est_bpe_tokens
        FROM d GROUP BY lang)
      SELECT lang, n_docs, n_words, est_bpe_tokens,
        CAST(total_chars * 100 // n_words AS BIGINT) AS chars_per_word_cq,
        CAST(est_bpe_tokens * 1000000 // n_words AS BIGINT) AS fertility_ppm
      FROM a ORDER BY lang
    """))

  /** PMI collocations: word pairs that co-occur adjacently far more than
    * their marginal rates predict — the standard collocation extractor
    * (Church & Hanks 1990). Ranking uses the exact integer ratio
    * c_ab·N·1000 div (c_a·c_b), monotone in PMI (log of the same ratio),
    * with a min-count floor of 5 so rare-pair noise can't dominate.
    * Exact while c_ab·N·1000 < 2^63 (N < ~10^9 bigrams; beyond that the
    * product moves to decimal(38,0)).
    *
    * Scale shape: everything after the bigram count is arithmetic over
    * vocabulary-sized tables; the N scalar joins in as a broadcast
    * one-row aggregate, never a driver collect. */
  private val q274 = QueryDef(
    "q274_pmi_collocations",
    (spark, dir) => {
      val cnt = bigrams(spark, dir)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      val heads = cnt.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a"))
      val nexts = cnt.groupBy(col("w2")).agg(sum(col("n_ab")).as("n_b"))
      val total = cnt.agg(sum(col("n_ab")).as("n_total"))
      cnt.filter(col("n_ab") >= 5)
        .join(heads, Seq("w1")).join(nexts, Seq("w2"))
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
          expr("n_ab * n_total * 1000L div (n_a * n_b)").as("pmi_ratio_pm"))
        .orderBy(col("pmi_ratio_pm").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some(s"""
      WITH $duckBigrams,
      c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM bb GROUP BY 1, 2),
      h AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a FROM c GROUP BY 1),
      x AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS n_b FROM c GROUP BY 1),
      t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_total FROM c)
      SELECT w1, w2, n_ab, n_a, n_b,
        CAST(n_ab * n_total * 1000 // (n_a * n_b) AS BIGINT) AS pmi_ratio_pm
      FROM c JOIN h USING (w1) JOIN x USING (w2) CROSS JOIN t
      WHERE n_ab >= 5
      ORDER BY pmi_ratio_pm DESC, w1, w2 LIMIT 20
    """))

  /** Degree assortativity of the co-supply graph: Pearson correlation
    * between the endpoint degrees of each edge — positive means hubs
    * link to hubs (core-periphery), negative means hubs link to leaves
    * (star-like). Computed from exact integer moment sums via the q66
    * identity; the final r is the image of those integers under the
    * identical IEEE expression on both engines.
    *
    * Scale shape: the degree table is node-sized (broadcastable onto the
    * edge list twice), and the six moments reduce in one hash aggregate
    * with map-side partials. Exact while n·Sxy < 2^63 — degrees are
    * bounded by max co-order fan-out, so this holds far past 10^9 edges;
    * beyond, the moments move to decimal(38,0). */
  private val q275 = QueryDef(
    "q275_degree_assortativity",
    (spark, dir) => {
      val e = cosupplyEdges(spark, dir, 1995)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      e.join(deg, Seq("src"))
        .withColumnRenamed("deg", "dx")
        .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "dy"), Seq("dst"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("n_edges"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"),
          (expr("CAST(n_edges * sxy - sx * sy AS DOUBLE)") /
            (sqrt(expr("CAST(n_edges * sxx - sx * sx AS DOUBLE)")) *
              sqrt(expr("CAST(n_edges * syy - sy * sy AS DOUBLE)")))).as("assortativity"))
    },
    Some(s"""
      WITH ${duckCosupply(1995)},
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
          CAST(sum(a.deg) AS BIGINT) AS sx, CAST(sum(b.deg) AS BIGINT) AS sy,
          CAST(sum(a.deg * a.deg) AS BIGINT) AS sxx,
          CAST(sum(b.deg * b.deg) AS BIGINT) AS syy,
          CAST(sum(a.deg * b.deg) AS BIGINT) AS sxy
        FROM e0 JOIN deg a ON e0.src = a.src JOIN deg b ON e0.dst = b.src)
      SELECT n_edges, sx, sy, sxx, syy, sxy,
        CAST(n_edges * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))) AS assortativity
      FROM m
    """))

  /** Weekly growth accounting: every active (user, week) classified as
    * new / retained / resurrected by the user's previous active week,
    * plus churned(w+1) for users active in w with no activity in w+1 —
    * the standard DAU/WAU decomposition (identity: active(w) = new +
    * retained + resurrected; churned closes the balance). The horizon
    * cap (no churn verdict past the last observed week) comes from a
    * broadcast one-row max, never a driver scalar.
    *
    * Scale shape: the corpus collapses to distinct (user, week) first;
    * the lag/lead window partitions by user (bounded rows per user);
    * final counts are two keyed hash aggregates over week-sized keys. */
  private val q276 = QueryDef(
    "q276_growth_accounting",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val aw = Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 604800L).cast("long").as("wk"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val s = aw.withColumn("prevw", lag(col("wk"), 1).over(w))
        .withColumn("nextw", lead(col("wk"), 1).over(w))
      val states = s.select(col("wk").as("week_idx"),
          when(col("prevw").isNull, "new")
            .when(col("prevw") === col("wk") - 1, "retained")
            .otherwise("resurrected").as("state"))
      val maxw = aw.agg(max(col("wk")).as("max_wk"))
      val churn = s.crossJoin(broadcast(maxw))
        .filter((col("nextw").isNull || col("nextw") > col("wk") + 1) &&
          col("wk") + 1 <= col("max_wk"))
        .select((col("wk") + 1).as("week_idx"), lit("churned").as("state"))
      states.unionAll(churn)
        .groupBy(col("week_idx"), col("state")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("week_idx"), col("state"))
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT user_id,
          CAST(epoch_ms(ts) // 1000 // 604800 AS BIGINT) AS wk
        FROM events),
      s AS (
        SELECT user_id, wk,
          lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prevw,
          lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nextw
        FROM e),
      m AS (SELECT max(wk) AS max_wk FROM e),
      st AS (
        SELECT wk AS week_idx,
          CASE WHEN prevw IS NULL THEN 'new'
               WHEN prevw = wk - 1 THEN 'retained'
               ELSE 'resurrected' END AS state
        FROM s),
      ch AS (
        SELECT wk + 1 AS week_idx, 'churned' AS state
        FROM s, m
        WHERE (nextw IS NULL OR nextw > wk + 1) AND wk + 1 <= max_wk)
      SELECT week_idx, state, CAST(count(*) AS BIGINT) AS n_users
      FROM (SELECT * FROM st UNION ALL SELECT * FROM ch)
      GROUP BY week_idx, state ORDER BY week_idx, state
    """))

  /** Join-strategy advisor: per-table size census (exact row count +
    * estimated serialized bytes: 8 per 64-bit/double/timestamp column,
    * 4 per 32-bit, actual string lengths) driving the broadcast-vs-
    * shuffle decision at Spark's 10 MiB autoBroadcastJoinThreshold —
    * the planning query behind every `broadcast()` hint in this library.
    *
    * Scale shape: one narrow aggregate per table (string-length sums
    * fold map-side); the advisor output is table-count-sized. */
  private val q277 = QueryDef(
    "q277_join_strategy_advisor",
    (spark, dir) => {
      def census(df: DataFrame, tbl: String, fixedBytes: Int, strCols: Seq[String]) =
        df.agg(count(lit(1)).as("n_rows"),
            strCols.map(c => sum(length(col(c)).cast("long"))).reduce(_ + _).as("str_bytes"))
          .select(lit(tbl).as("tbl"), col("n_rows"),
            (col("n_rows") * fixedBytes + col("str_bytes")).as("est_bytes"))
      census(Tables.region(spark, dir), "region", 4, Seq("r_name"))
        .unionAll(census(Tables.nation(spark, dir), "nation", 8, Seq("n_name")))
        .unionAll(census(Tables.customer(spark, dir), "customer", 20, Seq("c_name", "c_mktsegment")))
        .unionAll(census(Tables.supplier(spark, dir), "supplier", 20, Seq("s_name")))
        .unionAll(census(Tables.part(spark, dir), "part", 20, Seq("p_name", "p_brand", "p_type")))
        .unionAll(census(Tables.lineitem(spark, dir), "lineitem", 68, Seq("l_returnflag", "l_linestatus")))
        .withColumn("strategy",
          when(col("est_bytes") <= 10485760L, "broadcast").otherwise("shuffle"))
        .orderBy(col("tbl"))
    },
    Some("""
      SELECT tbl, n_rows, CAST(est_bytes AS BIGINT) AS est_bytes,
        CASE WHEN est_bytes <= 10485760 THEN 'broadcast' ELSE 'shuffle' END AS strategy
      FROM (
        SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) * 4 + sum(len(r_name)) AS BIGINT) AS est_bytes FROM region
        UNION ALL
        SELECT 'nation', count(*), count(*) * 8 + sum(len(n_name)) FROM nation
        UNION ALL
        SELECT 'customer', count(*),
          count(*) * 20 + sum(len(c_name) + len(c_mktsegment)) FROM customer
        UNION ALL
        SELECT 'supplier', count(*), count(*) * 20 + sum(len(s_name)) FROM supplier
        UNION ALL
        SELECT 'part', count(*),
          count(*) * 20 + sum(len(p_name) + len(p_brand) + len(p_type)) FROM part
        UNION ALL
        SELECT 'lineitem', count(*),
          count(*) * 68 + sum(len(l_returnflag) + len(l_linestatus)) FROM lineitem)
      ORDER BY tbl
    """))

  /** Linear (equal-split) multi-touch attribution: each purchase's cents
    * divided equally across ALL views in the preceding hour — integer
    * floor share per touch, remainder to the first touch so credit is
    * conserved exactly (the q85 first-touch / q105 U-shape family's
    * third member). The hour-bucket equi-join is
    * [[AuditQueries.viewTouches]], shared with q85 and q105: a purchase
    * joins at most two buckets of the user's views, never full history. */
  private val q278 = QueryDef(
    "q278_linear_attribution",
    (spark, dir) => {
      AuditQueries.viewTouches(spark, dir)
        .groupBy(col("user_id"), col("purchase_id"), col("vc"))
        .agg(count(lit(1)).as("n_touches"),
          min(struct(col("v_ts"), col("view_id"))).as("first"))
        .select(col("user_id"), col("purchase_id"), col("vc").as("value_cents"),
          col("n_touches"),
          expr("vc div n_touches").as("credit_per_touch_c"),
          expr("vc % n_touches").as("first_touch_extra_c"),
          col("first.view_id").as("first_view_id"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s,
          CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts_s AS p_ts, vc
        FROM e WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, ts_s AS v_ts
        FROM e WHERE event_type = 'view'),
      j AS (
        SELECT p.user_id, p.purchase_id, p.vc, v.v_ts, v.view_id
        FROM p JOIN v ON p.user_id = v.user_id
          AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - 3600),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY purchase_id ORDER BY v_ts, view_id) AS rn
        FROM j),
      a AS (
        SELECT user_id, purchase_id, vc,
          CAST(count(*) AS BIGINT) AS n_touches,
          max(CASE WHEN rn = 1 THEN view_id END) AS first_view_id
        FROM r GROUP BY user_id, purchase_id, vc)
      SELECT user_id, purchase_id, vc AS value_cents, n_touches,
        CAST(vc // n_touches AS BIGINT) AS credit_per_touch_c,
        CAST(vc % n_touches AS BIGINT) AS first_touch_extra_c,
        first_view_id
      FROM a ORDER BY user_id, purchase_id
    """))

  /** Dataset card: the per-source summary table a corpus release ships —
    * doc/char volume, language spread (count + plurality language with
    * deterministic tie-break), corpus-wide exact-duplicate participation
    * (ppm), and stopword density (ppm). One row per source, assembled
    * from three source-keyed subtrees joined on the tiny source key.
    *
    * Scale shape: each subtree is one hash aggregate over a single
    * corpus scan pattern (counts, (source, lang) counts, digest groups);
    * nothing wider than (source × lang) ever crosses a shuffle. */
  private val q279 = QueryDef(
    "q279_dataset_card",
    (spark, dir) => {
      import graft.functions.expressions.stopword_hits
      import graft.text.TextAnalysis.Stopwords
      val d = Tables.documents(spark, dir)
      val base = d
        .select(col("source"), col("lang"), col("n_chars"),
          size(tokens_native(col("text"))).cast("long").as("n_tokens"),
          stopword_hits(col("text"), Stopwords.flatMap(_._2)).cast("long").as("stop_hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_tokens")).as("n_tokens"), sum(col("stop_hits")).as("stop_hits"))
      val topLang = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("ln"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("ln").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val dups = d.withColumn("digest", md5(col("text")))
        .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("digest"))))
        .filter(col("n_copies") > 1)
        .groupBy(col("source")).agg(count(lit(1)).as("dup_docs"))
      base.join(topLang, Seq("source"))
        .join(dups, Seq("source"), "left")
        .withColumn("dup_docs", coalesce(col("dup_docs"), lit(0L)))
        .select(col("source"), col("n_docs"), col("total_chars"), col("n_langs"),
          col("top_lang"),
          expr("dup_docs * 1000000L div n_docs").as("dup_ppm"),
          expr("stop_hits * 1000000L div n_tokens").as("stop_ppm"))
        .orderBy(col("source"))
    },
    Some {
      import graft.text.TextAnalysis.Stopwords
      val allStops = Stopwords.flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(sum(len($duckTokens)) AS BIGINT) AS n_tokens,
          CAST(sum(len(list_filter($duckTokens, t -> t IN ($allStops)))) AS BIGINT)
            AS stop_hits
        FROM documents GROUP BY source),
      tl AS (
        SELECT source, lang AS top_lang FROM (
          SELECT source, lang, count(*) AS ln,
            row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rn
          FROM documents GROUP BY source, lang)
        WHERE rn = 1),
      dg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS dup_docs FROM (
          SELECT source, count(*) OVER (PARTITION BY md5(text)) AS n_copies
          FROM documents)
        WHERE n_copies > 1 GROUP BY source)
      SELECT b.source, n_docs, total_chars, n_langs, top_lang,
        CAST(coalesce(dup_docs, 0) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
        CAST(stop_hits * 1000000 // n_tokens AS BIGINT) AS stop_ppm
      FROM base b JOIN tl USING (source) LEFT JOIN dg USING (source)
      ORDER BY source
    """
    })

  /** Kneser–Ney continuation statistics: for each word, in how many
    * DISTINCT contexts it appears (preceder count = the KN continuation
    * numerator), its fan-out, and the continuation probability
    * cont·10^6 div |bigram types| — the statistic that makes KN beat
    * raw-frequency backoff ("Francisco" is frequent but occurs after
    * almost nothing). Complements q222's Good–Turing counts.
    *
    * Scale shape: distinct bigram types are vocabulary²-bounded; both
    * direction counts and the unigram table are keyed hash aggregates
    * over them; the type total is a broadcast one-row aggregate. */
  private val q280 = QueryDef(
    "q280_kneser_ney_continuation",
    (spark, dir) => {
      val types = bigrams(spark, dir).select(col("w1"), col("w2")).distinct()
      val uni = Tables.documents(spark, dir)
        .select(explode(tokens_native(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c_unigram"))
      val preceders = types.groupBy(col("w2").as("token"))
        .agg(count(lit(1)).as("n_preceders"))
      val followers = types.groupBy(col("w1").as("token"))
        .agg(count(lit(1)).as("n_followers"))
      val total = types.agg(count(lit(1)).as("n_types"))
      uni.join(preceders, Seq("token")).join(followers, Seq("token"))
        .crossJoin(broadcast(total))
        .select(col("token"), col("c_unigram"), col("n_preceders"), col("n_followers"),
          expr("n_preceders * 1000000L div n_types").as("p_cont_ppm"))
        .orderBy(col("n_preceders").desc, col("token"))
        .limit(30)
    },
    Some(s"""
      WITH $duckBigrams,
      ty AS (SELECT DISTINCT w1, w2 FROM bb),
      uni AS (
        SELECT unnest($duckTokens) AS token FROM documents),
      u AS (SELECT token, CAST(count(*) AS BIGINT) AS c_unigram FROM uni GROUP BY token),
      pr AS (SELECT w2 AS token, CAST(count(*) AS BIGINT) AS n_preceders FROM ty GROUP BY w2),
      fo AS (SELECT w1 AS token, CAST(count(*) AS BIGINT) AS n_followers FROM ty GROUP BY w1),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM ty)
      SELECT token, c_unigram, n_preceders, n_followers,
        CAST(n_preceders * 1000000 // n_types AS BIGINT) AS p_cont_ppm
      FROM u JOIN pr USING (token) JOIN fo USING (token) CROSS JOIN t
      ORDER BY n_preceders DESC, token LIMIT 30
    """))

  /** Term burstiness (Church–Gale): mean occurrences per CONTAINING
    * document, milli-quantized — cf·1000 div df. Bursty terms (high
    * cf/df) concentrate in few docs and carry topical signal; evenly
    * spread terms behave like function words. The df ≥ 20 floor keeps
    * rare-term noise out. Complements q166 (cross-source keyness) with
    * the within-document concentration axis.
    *
    * Scale shape: cf and df come from one (doc, token) aggregate —
    * df as the group count, cf as its sum — so the corpus is scanned
    * once and only vocabulary-sized tables shuffle afterwards. */
  private val q281 = QueryDef(
    "q281_term_burstiness",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens_native(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
        .groupBy(col("token"))
        .agg(sum(col("n")).as("cf"), count(lit(1)).as("df"))
        .filter(col("df") >= 20)
        .select(col("token"), col("cf"), col("df"),
          expr("cf * 1000L div df").as("burst_mq"))
        .orderBy(col("burst_mq").desc, col("token"))
        .limit(30)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($duckTokens) AS token FROM documents),
      dt AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY doc_id, token),
      s AS (
        SELECT token, CAST(sum(n) AS BIGINT) AS cf, CAST(count(*) AS BIGINT) AS df
        FROM dt GROUP BY token)
      SELECT token, cf, df, CAST(cf * 1000 // df AS BIGINT) AS burst_mq
      FROM s WHERE df >= 20
      ORDER BY burst_mq DESC, token LIMIT 30
    """))

  /** Provenance-aware dedup survivor selection: within each template
    * cluster (documents sharing their first 6 words — the boilerplate
    * key q177 censuses), keep the LONGEST copy, then the copy from the
    * largest source (trusted-provenance proxy), then min doc id — the
    * curation refinement of q20's keep-min-id rule (which copy survives
    * matters downstream: source mixture weights, licensing, audits).
    *
    * Scale shape: clusters shuffle (prefix digest, id, source, length)
    * only — the body never moves; the source census is a broadcast
    * one-row-per-source aggregate; survivor choice is one min(struct)
    * hash agg over cluster keys. */
  private val q282 = QueryDef(
    "q282_canonical_selection",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(concat_ws(" ", slice(tokens_native(col("text")), 1, 6))).as("digest"))
      val census = d.groupBy(col("source")).agg(count(lit(1)).as("source_docs"))
      d.withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("digest"))))
        .filter(col("n_copies") > 1)
        .join(broadcast(census), Seq("source"))
        .groupBy(col("digest"), col("n_copies"))
        .agg(min(struct((-col("n_chars")).as("neg_chars"),
          (-col("source_docs")).as("neg_docs"), col("source"),
          col("doc_id"))).as("best"))
        .select(col("digest"), col("n_copies").cast("long").as("n_copies"),
          col("best.doc_id").as("keep_id"), col("best.source").as("kept_source"))
        .orderBy(col("keep_id"))
    },
    Some(s"""
      WITH census AS (
        SELECT source, CAST(count(*) AS BIGINT) AS source_docs
        FROM documents GROUP BY source),
      d AS (
        SELECT doc_id, source, n_chars,
          md5(array_to_string(list_slice($duckTokens, 1, 6), ' ')) AS digest
        FROM documents),
      w AS (
        SELECT *, count(*) OVER (PARTITION BY digest) AS n_copies FROM d),
      ranked AS (
        SELECT digest, CAST(n_copies AS BIGINT) AS n_copies, doc_id, source,
          row_number() OVER (PARTITION BY digest
            ORDER BY n_chars DESC, source_docs DESC, source, doc_id) AS rn
        FROM w JOIN census USING (source)
        WHERE n_copies > 1)
      SELECT digest, n_copies, doc_id AS keep_id, source AS kept_source
      FROM ranked WHERE rn = 1 ORDER BY keep_id
    """))

  /** Log-free BM25-style retrieval: tf-saturation ranking with k1 = 1.2
    * and length normalization b = 0.75, every term score the exact
    * integer rational 44·S·tf·10^6 div (20·S·tf + 6·S + 18·dl·N)
    * (the BM25 tf component with the fractions cleared; S = corpus
    * tokens, N = docs, dl = doc length). The idf log is deliberately
    * omitted — equal-idf query terms rank identically, and logs would
    * break cross-engine bit-exactness. Top-20 docs for a 3-term query.
    * Exact while 44·S·tf·10^6 < 2^63 (S < ~2·10^10 tokens; beyond, the
    * products move to decimal(38,0)).
    *
    * Scale shape: tf rows exist only for (doc, query-term) matches — the
    * inverted-index probe pattern; S and N ride one broadcast one-row
    * aggregate; top-k is TakeOrderedAndProject. */
  private val q283 = QueryDef(
    "q283_tf_saturation_ranking",
    (spark, dir) => {
      val qTerms = Seq("table", "spark", "data")
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens_native(col("text"))).as("token"))
      val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val corpus = dl.agg(sum(col("dl")).as("s_tokens"), count(lit(1)).as("n_docs"))
      val tf = tok.filter(col("token").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      tf.join(dl, Seq("doc_id"))
        .crossJoin(broadcast(corpus))
        .select(col("doc_id"),
          expr("44 * s_tokens * tf * 1000000L div (20 * s_tokens * tf + 6 * s_tokens + 18 * dl * n_docs)")
            .as("term_score"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms_hit"), sum(col("term_score")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($duckTokens) AS token FROM documents),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
      corpus AS (
        SELECT CAST(sum(dl) AS BIGINT) AS s_tokens,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM dl),
      tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE token IN ('table', 'spark', 'data')
        GROUP BY doc_id, token),
      t AS (
        SELECT tf.doc_id,
          44 * s_tokens * tf * 1000000
            // (20 * s_tokens * tf + 6 * s_tokens + 18 * dl.dl * n_docs) AS term_score
        FROM tf JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        CAST(sum(term_score) AS BIGINT) AS score_ppm
      FROM t GROUP BY doc_id
      ORDER BY score_ppm DESC, doc_id LIMIT 20
    """))

  /** Bot-rate census: per-user peak events-per-minute against a
    * threshold sweep (3/5/10) — how many users exceed each rate and
    * what share of total events they carry (ppm). The abuse-filtering
    * triage table a pipeline consults before user-level data enters
    * training.
    *
    * Scale shape: (user, minute) then user aggregates — both keyed
    * hash aggs with map-side partials; the sweep explodes the 3-row
    * threshold list against the user-sized table, never the events. */
  private val q284 = QueryDef(
    "q284_bot_rate_census",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val perUser = Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 60L).cast("long").as("minute"))
        .groupBy(col("user_id"), col("minute")).agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_events"), max(col("n")).as("peak_per_min"))
      perUser
        .select(col("n_events"), col("peak_per_min"),
          explode(array(lit(3L), lit(5L), lit(10L))).as("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("peak_per_min") >= col("threshold"), 1L).otherwise(0L)).as("n_bots"),
          sum(col("n_events")).as("total_events"),
          sum(when(col("peak_per_min") >= col("threshold"), col("n_events"))
            .otherwise(0L)).as("bot_events"))
        .select(col("threshold"), col("n_users"), col("n_bots"),
          expr("bot_events * 1000000L div total_events").as("bot_event_ppm"))
        .orderBy(col("threshold"))
    },
    Some("""
      WITH um AS (
        SELECT user_id, CAST(epoch_ms(ts) // 1000 // 60 AS BIGINT) AS minute,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, minute),
      u AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
          CAST(max(n) AS BIGINT) AS peak_per_min
        FROM um GROUP BY user_id),
      sweep AS (
        SELECT threshold, n_events, peak_per_min
        FROM u CROSS JOIN (VALUES (3), (5), (10)) AS t(threshold))
      SELECT CAST(threshold AS BIGINT) AS threshold,
        CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(CASE WHEN peak_per_min >= threshold THEN 1 ELSE 0 END) AS BIGINT)
          AS n_bots,
        CAST(sum(CASE WHEN peak_per_min >= threshold THEN n_events ELSE 0 END)
          * 1000000 // sum(n_events) AS BIGINT) AS bot_event_ppm
      FROM sweep GROUP BY threshold ORDER BY threshold
    """))

  /** LM holdout evaluation protocol: split the corpus 80/20 by document
    * key hash (q45's reproducible split), build the training vocabulary
    * from the train side only, and score each TEST document's
    * out-of-vocabulary token rate per language — the leakage-free eval
    * loop for any count-based LM (q93 scores against the FULL corpus
    * vocabulary; this is its honest train/test form).
    *
    * Scale shape: the vocabulary is a distinct over (token) from the
    * train scan; test tokens left-join it on the token key (shuffle
    * join — the vocab may exceed broadcast size at corpus scale), and
    * the verdict is two keyed hash aggregates. */
  private val q285 = QueryDef(
    "q285_lm_holdout_eval",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .withColumn("split", Sampling.splitColumn(col("doc_id"), testFraction = 0.2))
      val tok = d.select(col("doc_id"), col("lang"), col("split"),
        explode(tokens_native(col("text"))).as("token"))
      val vocab = tok.filter(col("split") === "train")
        .select(col("token")).distinct().withColumn("known", lit(1L))
      tok.filter(col("split") === "test")
        .join(vocab, Seq("token"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang, text,
          CASE WHEN ((doc_id % 2147483648) * 1779033703) % 4294967296 % 10000 < 2000
               THEN 'test' ELSE 'train' END AS split
        FROM documents),
      tok AS (
        SELECT doc_id, lang, split, unnest($duckTokens) AS token FROM d),
      vocab AS (
        SELECT DISTINCT token FROM tok WHERE split = 'train'),
      t AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM (SELECT * FROM tok WHERE split = 'test') s
        LEFT JOIN vocab v USING (token)
        GROUP BY lang)
      SELECT lang, n_tokens, n_oov,
        CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
      FROM t ORDER BY lang
    """))

  /** Count–min sketch frequency estimation: 3 hash rows × 64 counters
    * built in one aggregate over the token stream, point-queried for 5
    * probe tokens against their exact counts. The estimate is
    * min over rows of counter[h_row(token)] — always ≥ exact, the CMS
    * one-sided guarantee (asserted as overestimate ≥ 0 in the output).
    * Completes the mergeable-sketch family: KMV (distinct, q238),
    * Space-Saving (top-k, q62), Bloom (membership, q57) — CMS is the
    * frequency axis. Hashing rides the shared polynomial fold, so the
    * oracle reproduces the sketch bit-for-bit.
    *
    * Scale shape: the sketch build is a (row, bucket) hash aggregate —
    * 192 cells regardless of corpus size, the textbook mergeable-
    * summary shape; probes join the 192-cell table. */
  private val q286 = QueryDef(
    "q286_count_min_frequency",
    (spark, dir) => {
      import graft.functions.expressions.poly_hash
      val probes = Seq("table", "spark", "data", "query", "vector")
      val tok = Tables.documents(spark, dir)
        .select(explode(tokens_native(col("text"))).as("token"))
        .select(col("token"), poly_hash(col("token")).as("ph"))
      val cells = tok
        .select(col("ph"), explode(array(lit(0L), lit(1L), lit(2L))).as("row"))
        .select(col("row"),
          expr("((ph * (row * 2654435761L + 40503L)) % 4294967296L) % 64").as("bucket"))
        .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("counter"))
      val exact = tok.filter(col("token").isin(probes: _*))
        .groupBy(col("token"), col("ph")).agg(count(lit(1)).as("exact"))
      exact
        .select(col("token"), col("ph"), col("exact"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("row"))
        .withColumn("bucket",
          expr("((ph * (row * 2654435761L + 40503L)) % 4294967296L) % 64"))
        .join(cells, Seq("row", "bucket"))
        .groupBy(col("token"), col("exact"))
        .agg(min(col("counter")).as("estimate"))
        .select(col("token"), col("exact"), col("estimate"),
          (col("estimate") - col("exact")).as("overestimate"))
        .orderBy(col("token"))
    },
    Some {
      val ph = duckPolyHashOf("token")
      s"""
      WITH tok AS (
        SELECT unnest($duckTokens) AS token FROM documents),
      tp AS (SELECT token, $ph AS ph FROM tok),
      rows3 AS (SELECT unnest([0, 1, 2]) AS row),
      cells AS (
        SELECT row, ((ph * (row * 2654435761 + 40503)) % 4294967296) % 64 AS bucket,
          CAST(count(*) AS BIGINT) AS counter
        FROM tp CROSS JOIN rows3
        GROUP BY 1, 2),
      exact AS (
        SELECT token, ph, CAST(count(*) AS BIGINT) AS exact
        FROM tp WHERE token IN ('table', 'spark', 'data', 'query', 'vector')
        GROUP BY token, ph),
      probes AS (
        SELECT token, exact, row,
          ((ph * (row * 2654435761 + 40503)) % 4294967296) % 64 AS bucket
        FROM exact CROSS JOIN rows3),
      est AS (
        SELECT token, exact, CAST(min(counter) AS BIGINT) AS estimate
        FROM probes JOIN cells USING (row, bucket)
        GROUP BY token, exact)
      SELECT token, exact, estimate, estimate - exact AS overestimate
      FROM est ORDER BY token
    """
    })

  /** Laspeyres price index: monthly basket cost at current unit prices
    * over base-month (1995-01) quantities, ppm-relative to the base
    * basket — the standard fixed-basket inflation readout. Unit prices
    * are floor(revenue cents / quantity) per (month, part): the floor
    * is part of the metric definition, so both engines agree exactly;
    * only parts present in both the base and the current month enter
    * (the matched-basket rule).
    *
    * Scale shape: one (month, part) hash aggregate over the fact scan;
    * the base-month slice joins back vocabulary-sized; index arithmetic
    * is exact integers on month-sized rows. */
  private val q287 = QueryDef(
    "q287_price_index",
    (spark, dir) => {
      val mp = Tables.lineitem(spark, dir)
        .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("month"),
          col("l_partkey").as("part"),
          floor(col("l_quantity") + lit(0.5d)).cast("long").as("q"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("r"))
        .groupBy(col("month"), col("part"))
        .agg(sum(col("q")).as("qty"), sum(col("r")).as("rev"))
        .select(col("month"), col("part"), col("qty"),
          expr("rev div qty").as("unit_c"))
      val base = mp.filter(col("month") === 199501L)
        .select(col("part"), col("qty").as("q0"), col("unit_c").as("u0"))
      mp.join(base, Seq("part"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("unit_c") * col("q0")).as("cost_t"),
          sum(col("u0") * col("q0")).as("cost_0"))
        .select(col("month"), col("n_parts"),
          expr("cost_t * 1000000L div cost_0").as("index_ppm"))
        .orderBy(col("month"))
    },
    Some("""
      WITH mp AS (
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS month,
          l_partkey AS part,
          CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2),
      up AS (SELECT month, part, qty, rev // qty AS unit_c FROM mp),
      base AS (
        SELECT part, qty AS q0, unit_c AS u0 FROM up WHERE month = 199501)
      SELECT up.month, CAST(count(*) AS BIGINT) AS n_parts,
        CAST(sum(up.unit_c * base.q0) * 1000000 // sum(base.u0 * base.q0) AS BIGINT)
          AS index_ppm
      FROM up JOIN base USING (part)
      GROUP BY up.month ORDER BY up.month
    """))

  /** Hub-capping census (GNN neighbor-sampling planning): if each user's
    * event history is truncated to its N earliest events (the
    * deterministic per-key cap that bounds state, window memory, and
    * neighbor fan-out), what share of events survives at N ∈ {8, 32,
    * 128}? The table that picks the cap before an expensive sampled
    * materialization.
    *
    * Scale shape: per-user counts in one hash aggregate; the sweep
    * explodes the 3-row cap list against the user-sized table —
    * min(n, cap) sums replace actually materializing any truncation. */
  private val q288 = QueryDef(
    "q288_hub_capping_census",
    (spark, dir) => {
      Tables.events(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .select(col("n"), explode(array(lit(8L), lit(32L), lit(128L))).as("cap"))
        .groupBy(col("cap"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n")).as("total_events"),
          sum(least(col("n"), col("cap"))).as("kept_events"),
          sum(when(col("n") > col("cap"), 1L).otherwise(0L)).as("n_capped_users"))
        .select(col("cap"), col("n_users"), col("n_capped_users"),
          expr("kept_events * 1000000L div total_events").as("kept_ppm"))
        .orderBy(col("cap"))
    },
    Some("""
      WITH u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
      sweep AS (
        SELECT CAST(cap AS BIGINT) AS cap, n
        FROM u CROSS JOIN (VALUES (8), (32), (128)) AS t(cap))
      SELECT cap, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(CASE WHEN n > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_users,
        CAST(sum(least(n, cap)) * 1000000 // sum(n) AS BIGINT) AS kept_ppm
      FROM sweep GROUP BY cap ORDER BY cap
    """))

  /** Optimizer cardinality-estimation audit: for each FK join edge,
    * the flat-frequency estimate |A|·|B| div max(d_A, d_B) (the formula
    * every System-R descendant, Spark CBO included, starts from)
    * against the EXACT join size Σ_k n_A(k)·n_B(k) — the signed ppm
    * error is how wrong the planner would be before histograms. Skewed
    * edges (q232's census) are exactly where this error explodes.
    *
    * Scale shape per edge: two keyed count aggregates joined on the key
    * (the exact size needs no actual join materialization), censuses as
    * broadcast one-row aggregates. Products stay < 2^63 through ~10^9
    * rows per side; beyond, decimal(38,0). */
  private val q289 = QueryDef(
    "q289_cardinality_estimation_audit",
    (spark, dir) => {
      def edge(a: DataFrame, aKey: String, b: DataFrame, bKey: String, name: String) = {
        val ka = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("na"))
        val kb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("nb"))
        val actual = ka.join(kb, Seq("k"))
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("actual"))
        val ca = ka.agg(sum(col("na")).as("rows_a"), count(lit(1)).as("d_a"))
        val cb = kb.agg(sum(col("nb")).as("rows_b"), count(lit(1)).as("d_b"))
        actual.crossJoin(ca).crossJoin(cb)
          .select(lit(name).as("edge"), col("rows_a"), col("rows_b"), col("actual"),
            expr("rows_a * rows_b div greatest(d_a, d_b)").as("estimate"))
          .select(col("edge"), col("rows_a"), col("rows_b"), col("actual"), col("estimate"),
            expr("(estimate - actual) * 1000000L div actual").as("err_ppm"))
      }
      val li = Tables.lineitem(spark, dir)
      // the four PK–FK edges come out err = 0 — the classic result that
      // the flat estimate is EXACT for key joins; the self-join edge on
      // a non-key column is where the variance penalty (Σn² > n²/d for
      // skewed keys) shows up, and what the audit exists to expose
      edge(Tables.customer(spark, dir), "c_custkey", Tables.orders(spark, dir), "o_custkey",
          "customer_orders")
        .unionAll(edge(Tables.orders(spark, dir), "o_orderkey", li, "l_orderkey",
          "orders_lineitem"))
        .unionAll(edge(Tables.part(spark, dir), "p_partkey", li, "l_partkey",
          "part_lineitem"))
        .unionAll(edge(Tables.supplier(spark, dir), "s_suppkey", li, "l_suppkey",
          "supplier_lineitem"))
        .unionAll(edge(Tables.orders(spark, dir), "o_custkey", Tables.orders(spark, dir),
          "o_custkey", "orders_selfjoin_custkey"))
        .orderBy(col("edge"))
    },
    Some {
      def duckEdge(a: String, ak: String, b: String, bk: String, name: String) = s"""
        SELECT '$name' AS edge, rows_a, rows_b, actual,
          rows_a * rows_b // greatest(d_a, d_b) AS estimate,
          (rows_a * rows_b // greatest(d_a, d_b) - actual) * 1000000 // actual AS err_ppm
        FROM
          (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS actual FROM
            (SELECT $ak AS k, count(*) AS na FROM $a GROUP BY 1) ka
            JOIN (SELECT $bk AS k, count(*) AS nb FROM $b GROUP BY 1) kb USING (k)),
          (SELECT CAST(count(*) AS BIGINT) AS rows_a,
             CAST(count(DISTINCT $ak) AS BIGINT) AS d_a FROM $a),
          (SELECT CAST(count(*) AS BIGINT) AS rows_b,
             CAST(count(DISTINCT $bk) AS BIGINT) AS d_b FROM $b)"""
      Seq(
        duckEdge("customer", "c_custkey", "orders", "o_custkey", "customer_orders"),
        duckEdge("orders", "o_orderkey", "lineitem", "l_orderkey", "orders_lineitem"),
        duckEdge("part", "p_partkey", "lineitem", "l_partkey", "part_lineitem"),
        duckEdge("supplier", "s_suppkey", "lineitem", "l_suppkey", "supplier_lineitem"),
        duckEdge("orders", "o_custkey", "orders", "o_custkey", "orders_selfjoin_custkey"))
        .mkString("", "\nUNION ALL", "\nORDER BY edge")
    })

  /** 1-D k-means codebook (Lloyd, k = 4, 3 iterations) over order value
    * cents — the scalar-quantization codebook build (per-dimension
    * product quantization is exactly this, once per dim). Centroids are
    * exact integers: init on the min/max grid, assignment by nearest
    * centroid with lower-index tie-break, update = sum div count — the
    * same floor both engines take, so the codebook is bit-identical
    * (the multi-dim IVF sibling is similarity.Ivf; this is the exact
    * 1-D form an int8 quantizer calibrates with).
    *
    * Scale shape per iteration: one broadcast 4-value codebook onto the
    * scan + one 4-group hash aggregate — no joins, no shuffles beyond
    * the aggregate; iterations compose lazily like q75/q271. */
  private val q290 = QueryDef(
    "q290_scalar_kmeans_codebook",
    (spark, dir) => {
      val v = Tables.orders(spark, dir).select(cents(col("o_totalprice")).as("x"))
      val init = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        .select((0 until 4).map(i =>
          expr(s"lo + $i * ((hi - lo) div 4)").as(s"c$i")): _*)
      def assign(cb: DataFrame) = v.crossJoin(broadcast(cb))
        .withColumn("idx", expr(
          """CASE WHEN abs(x - c0) <= abs(x - c1) AND abs(x - c0) <= abs(x - c2)
                   AND abs(x - c0) <= abs(x - c3) THEN 0
                  WHEN abs(x - c1) <= abs(x - c2) AND abs(x - c1) <= abs(x - c3) THEN 1
                  WHEN abs(x - c2) <= abs(x - c3) THEN 2
                  ELSE 3 END"""))
      def update(cb: DataFrame) = assign(cb)
        .groupBy(col("idx")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("idx"), expr("s div n").as("c"))
        .groupBy().pivot("idx", Seq(0, 1, 2, 3)).agg(first(col("c")))
        .select(col("0").as("c0"), col("1").as("c1"), col("2").as("c2"), col("3").as("c3"))
      val finalCb = update(update(update(init)))
      assign(finalCb)
        .groupBy(col("idx")).agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(finalCb))
        .select(col("idx").cast("long").as("centroid_idx"),
          expr("CASE idx WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END")
            .as("centroid_c"),
          col("n_orders"))
        .orderBy(col("centroid_idx"))
    },
    Some {
      val assignIdx = """CASE WHEN abs(x - c0) <= abs(x - c1) AND abs(x - c0) <= abs(x - c2)
                   AND abs(x - c0) <= abs(x - c3) THEN 0
                  WHEN abs(x - c1) <= abs(x - c2) AND abs(x - c1) <= abs(x - c3) THEN 1
                  WHEN abs(x - c2) <= abs(x - c3) THEN 2
                  ELSE 3 END"""
      def iter(prev: String, cur: String) = s"""
      $cur AS (
        SELECT
          max(CASE WHEN idx = 0 THEN c END) AS c0,
          max(CASE WHEN idx = 1 THEN c END) AS c1,
          max(CASE WHEN idx = 2 THEN c END) AS c2,
          max(CASE WHEN idx = 3 THEN c END) AS c3
        FROM (
          SELECT idx, sum(x) // count(*) AS c FROM (
            SELECT x, $assignIdx AS idx FROM v, $prev)
          GROUP BY idx))"""
      s"""
      WITH v AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x FROM orders),
      cb0 AS (
        SELECT min(x) + 0 * ((max(x) - min(x)) // 4) AS c0,
          min(x) + 1 * ((max(x) - min(x)) // 4) AS c1,
          min(x) + 2 * ((max(x) - min(x)) // 4) AS c2,
          min(x) + 3 * ((max(x) - min(x)) // 4) AS c3
        FROM v),
      ${iter("cb0", "cb1")},
      ${iter("cb1", "cb2")},
      ${iter("cb2", "cb3")}
      SELECT CAST(idx AS BIGINT) AS centroid_idx,
        CAST(CASE idx WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS BIGINT)
          AS centroid_c,
        CAST(count(*) AS BIGINT) AS n_orders
      FROM (SELECT x, $assignIdx AS idx FROM v, cb3), cb3
      GROUP BY idx, c0, c1, c2, c3
      ORDER BY centroid_idx
    """
    })

  /** ANOVA effect size (eta-squared): how much of document-length
    * variance each metadata column explains — eta² = SS_between/SS_total
    * in ppm from integer sums (per-group S_g² div n_g floors are part of
    * the metric definition, identical both engines). Near-zero eta²
    * means the column is useless for stratification; the check before
    * stratified sampling (q45) or per-group budgets (q159) lean on a
    * grouping.
    *
    * Scale shape: one (group) hash aggregate per grouping over narrow
    * projections; everything after is arithmetic on group-sized rows. */
  private val q291 = QueryDef(
    "q291_anova_eta_squared",
    (spark, dir) => {
      def eta(groupCol: String) = {
        val g = Tables.documents(spark, dir)
          .select(col(groupCol).as("g"), col("n_chars").as("x"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
            sum(col("x") * col("x")).as("qg"))
        g.agg(count(lit(1)).as("n_groups"), sum(col("ng")).as("n"),
            sum(col("sg")).as("s"), sum(col("qg")).as("q"),
            sum(expr("(sg * sg) div ng")).as("ssb_scaled"))
          .select(lit(groupCol).as("grouping"), col("n_groups"),
            expr("(n * ssb_scaled - s * s) * 1000000L div (n * q - s * s)").as("eta2_ppm"))
      }
      eta("lang").unionAll(eta("source")).orderBy(col("grouping"))
    },
    Some {
      def duckEta(c: String) = s"""
        SELECT '$c' AS grouping, CAST(count(*) AS BIGINT) AS n_groups,
          CAST((sum(ng) * sum((sg * sg) // ng) - sum(sg) * sum(sg)) * 1000000
            // (sum(ng) * sum(qg) - sum(sg) * sum(sg)) AS BIGINT) AS eta2_ppm
        FROM (
          SELECT $c AS g, CAST(count(*) AS BIGINT) AS ng,
            CAST(sum(n_chars) AS BIGINT) AS sg,
            CAST(sum(n_chars * n_chars) AS BIGINT) AS qg
          FROM documents GROUP BY $c)"""
      duckEta("lang") + "\nUNION ALL" + duckEta("source") + "\nORDER BY grouping"
    })

  /** Cascade-delete planning (the GDPR erasure dry-run): for a 5%
    * hash-sampled customer cohort, how many orders and lineitems the
    * cascade reaches and how much revenue is erased — the impact
    * census a lake runs BEFORE a destructive delete.
    *
    * Scale shape: the cohort is a narrow hash filter on the customer
    * scan; each hop is one keyed semi-join-shaped equi-join + aggregate
    * along the FK chain, never a full-table anti pattern. */
  private val q292 = QueryDef(
    "q292_cascade_delete_plan",
    (spark, dir) => {
      val cohort = Tables.customer(spark, dir)
        .filter(Sampling.keyHash(col("c_custkey")) % 10000 < 500)
        .select(col("c_custkey"))
      val orders = Tables.orders(spark, dir)
        .join(cohort, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"))
      val li = Tables.lineitem(spark, dir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rc"))
      val nCust = cohort.agg(count(lit(1)).as("n_customers"))
      val nOrd = orders.agg(count(lit(1)).as("n_orders"))
      val nLi = li.agg(count(lit(1)).as("n_lineitems"),
        coalesce(sum(col("rc")), lit(0L)).as("revenue_cents"))
      nCust.crossJoin(nOrd).crossJoin(nLi)
    },
    Some("""
      WITH cohort AS (
        SELECT c_custkey FROM customer
        WHERE ((c_custkey % 2147483648) * 2654435761) % 4294967296 % 10000 < 500),
      o AS (
        SELECT o_orderkey FROM orders JOIN cohort ON o_custkey = c_custkey),
      l AS (
        SELECT CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rc
        FROM lineitem JOIN o ON l_orderkey = o_orderkey)
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM cohort) AS n_customers,
        (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_orders,
        (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_lineitems,
        (SELECT CAST(coalesce(sum(rc), 0) AS BIGINT) FROM l) AS revenue_cents
    """))

  /** Distributed PCA by power iteration: the top eigenvector of the
    * embedding Gram matrix (uncentered covariance — centering would
    * break integer exactness; the dominant direction is what per-dim
    * quantizers and whitening passes calibrate against). Three matvec
    * iterations in exact integers: the 64×64 Gram aggregate is built
    * once from a positional self-join, each iteration is one 64-row
    * join + aggregate, and normalization divides by the broadcast
    * max-abs component with explicit sign handling (Spark `div`
    * truncates, DuckDB `//` floors — they only agree on non-negative
    * operands, so the CASE keeps every division non-negative).
    *
    * Scale shape: the Gram build is Σ_vec qv_i·qv_j — d² cells
    * regardless of corpus size (the classic outer-product aggregate);
    * iterations touch only d-sized vectors. */
  private val q293 = QueryDef(
    "q293_pca_power_iteration",
    (spark, dir) => {
      import graft.functions.expressions.quantize_vec
      val comp = Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(quantize_vec(col("embedding"))).as(Seq("i", "x")))
      val cov = comp
        .join(comp.withColumnRenamed("i", "j").withColumnRenamed("x", "y"), Seq("vec_id"))
        .groupBy(col("i"), col("j")).agg(sum(col("x") * col("y")).as("c"))
      def step(v: DataFrame): DataFrame = {
        val w = cov.join(v, Seq("j")).groupBy(col("i"))
          .agg(sum(col("c") * col("v")).as("w"))
        val mx = w.agg(max(abs(col("w"))).as("mx"))
        w.crossJoin(broadcast(mx))
          .select(col("i").as("j"),
            expr("CASE WHEN w < 0 THEN -((-w) * 1024 div mx) ELSE (w * 1024 div mx) END")
              .as("v"))
      }
      val v0 = cov.select(col("j")).distinct().select(col("j"), lit(1024L).as("v"))
      step(step(step(v0)))
        .select(col("j").cast("long").as("dim"), col("v").as("component_q"))
        .orderBy(col("dim"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
          $duckQuantVec AS qv
        FROM embeddings),
      comp AS (
        SELECT vec_id, i - 1 AS i, qv[i] AS x
        FROM q, unnest(range(1, len(qv) + 1)) AS t(i)),
      cov AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS c
        FROM comp a JOIN comp b USING (vec_id)
        GROUP BY a.i, b.i),
      v0 AS (SELECT DISTINCT j, CAST(1024 AS BIGINT) AS v FROM cov),
      w1 AS (SELECT i, CAST(sum(c * v) AS BIGINT) AS w FROM cov JOIN v0 USING (j) GROUP BY i),
      v1 AS (
        SELECT i AS j,
          CASE WHEN w < 0 THEN -((-w) * 1024 // mx) ELSE (w * 1024 // mx) END AS v
        FROM w1, (SELECT max(abs(w)) AS mx FROM w1)),
      w2 AS (SELECT i, CAST(sum(c * v) AS BIGINT) AS w FROM cov JOIN v1 USING (j) GROUP BY i),
      v2 AS (
        SELECT i AS j,
          CASE WHEN w < 0 THEN -((-w) * 1024 // mx) ELSE (w * 1024 // mx) END AS v
        FROM w2, (SELECT max(abs(w)) AS mx FROM w2)),
      w3 AS (SELECT i, CAST(sum(c * v) AS BIGINT) AS w FROM cov JOIN v2 USING (j) GROUP BY i),
      v3 AS (
        SELECT i AS j,
          CASE WHEN w < 0 THEN -((-w) * 1024 // mx) ELSE (w * 1024 // mx) END AS v
        FROM w3, (SELECT max(abs(w)) AS mx FROM w3))
      SELECT CAST(j AS BIGINT) AS dim, CAST(v AS BIGINT) AS component_q
      FROM v3 ORDER BY dim
    """))

  /** Catalog freshness census: parts bucketed by age since first sale
    * (months, at the corpus horizon), with each bucket's lifetime
    * revenue share — the cold-start readout: how much demand rides on
    * young catalog. Month index is (year−1995)·12 + month so bucket
    * arithmetic never crosses a year boundary wrong.
    *
    * Scale shape: one (part) aggregate for first-sale month + revenue,
    * the horizon a broadcast one-row max, then a 4-row bucket rollup. */
  private val q294 = QueryDef(
    "q294_catalog_freshness",
    (spark, dir) => {
      val parts = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("part"),
          ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")))
            .cast("long").as("mi"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rc"))
        .groupBy(col("part"))
        .agg(min(col("mi")).as("first_mi"), sum(col("rc")).as("rev"))
      val horizon = parts.agg(max(col("first_mi")).as("max_mi"))
      parts.crossJoin(broadcast(horizon))
        .withColumn("age", col("max_mi") - col("first_mi"))
        .withColumn("bucket",
          when(col("age") <= 2, "a_0_2m").when(col("age") <= 5, "b_3_5m")
            .when(col("age") <= 11, "c_6_11m").otherwise("d_12m_plus"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
        .withColumn("share_ppm", expr(
          "revenue_cents * 1000000L div sum(revenue_cents) OVER ()"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH p AS (
        SELECT l_partkey AS part,
          min((year(l_shipdate) - 1995) * 12 + month(l_shipdate)) AS first_mi,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem GROUP BY 1),
      h AS (SELECT max(first_mi) AS max_mi FROM p),
      b AS (
        SELECT CASE WHEN max_mi - first_mi <= 2 THEN 'a_0_2m'
                    WHEN max_mi - first_mi <= 5 THEN 'b_3_5m'
                    WHEN max_mi - first_mi <= 11 THEN 'c_6_11m'
                    ELSE 'd_12m_plus' END AS bucket, rev
        FROM p, h)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_parts,
        CAST(sum(rev) AS BIGINT) AS revenue_cents,
        CAST(sum(rev) * 1000000 // (SELECT sum(rev) FROM b) AS BIGINT) AS share_ppm
      FROM b GROUP BY bucket ORDER BY bucket
    """))

  /** Shingle-width dial: for k ∈ {2, 3, 5}, how discriminative word
    * k-shingles are — instance count, distinct count, uniqueness ppm,
    * and repeated-shingle types. Too-narrow shingles collide on common
    * phrases (LSH candidate explosion), too-wide ones make every doc
    * unique (near-dups missed); this is the width complement of q261's
    * band-shape sweep. Shingles are built by per-doc lead() windows —
    * partitioned by doc, never global.
    *
    * Scale shape: one posexplode + three per-doc window passes (cheap,
    * doc-bounded), then vocabulary-sized shingle aggregates. */
  private val q295 = QueryDef(
    "q295_shingle_width_sweep",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(tokens_native(col("text"))).as(Seq("pos", "token")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      def sweep(k: Int) = tok
        .withColumn("shingle",
          concat_ws(" ", (0 until k).map(o =>
            if (o == 0) col("token") else lead(col("token"), o).over(w)): _*))
        // lead past the doc end is null; concat_ws drops nulls, so the
        // tail would emit short shingles — require full width
        .filter(size(split(col("shingle"), " ")) === k)
        .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("n")).as("n_instances"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_repeated_types"))
        .select(lit(k.toLong).as("k"), col("n_instances"), col("n_distinct"),
          col("n_repeated_types"),
          expr("n_distinct * 1000000L div n_instances").as("uniqueness_ppm"))
      sweep(2).unionAll(sweep(3)).unionAll(sweep(5)).orderBy(col("k"))
    },
    Some(s"""
      WITH tk AS (SELECT doc_id, $duckTokens AS tk FROM documents),
      sweep AS (
        SELECT k, shingle, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT 2 AS k, array_to_string(list_slice(tk, i, i + 1), ' ') AS shingle
          FROM tk, unnest(range(1, len(tk))) AS t(i)
          UNION ALL
          SELECT 3 AS k, array_to_string(list_slice(tk, i, i + 2), ' ') AS shingle
          FROM tk, unnest(range(1, len(tk) - 1)) AS t(i)
          UNION ALL
          SELECT 5 AS k, array_to_string(list_slice(tk, i, i + 4), ' ') AS shingle
          FROM tk, unnest(range(1, len(tk) - 3)) AS t(i))
        GROUP BY k, shingle)
      SELECT CAST(k AS BIGINT) AS k,
        CAST(sum(n) AS BIGINT) AS n_instances,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated_types,
        CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS uniqueness_ppm
      FROM sweep GROUP BY k ORDER BY k
    """))

  /** Reciprocal-best-match entity resolution: q78's blocked Levenshtein
    * candidates refined to MUTUAL best pairs — the dirty record's best
    * clean match must also claim that dirty record as ITS best — the
    * standard auto-merge safety gate (one-directional best matches
    * produce chains; mutual ones are the safe set). Distances ≤ 2,
    * deterministic (distance, key) tie-breaks both directions.
    *
    * Scale shape: candidates exist only inside last-3-char blocks
    * (never all-pairs); the two argmin passes are keyed window ranks
    * over the candidate set. */
  private val q296 = QueryDef(
    "q296_reciprocal_best_match",
    (spark, dir) => {
      val sup = Tables.supplier(spark, dir)
      val dirty = sup
        .withColumn("p", (lit(6) + col("s_suppkey") % 8).cast("int"))
        .select(col("s_suppkey").as("d_key"),
          expr("concat(substr(s_name, 1, p - 1), substr(s_name, p + 1))").as("d_name"))
      val cand = sup.select(col("s_suppkey"), col("s_name"))
        .join(dirty, substring(col("s_name"), -3, 3) === substring(col("d_name"), -3, 3))
        .withColumn("distance", levenshtein(col("s_name"), col("d_name")).cast("long"))
        .filter(col("distance") <= 2)
      val bestForDirty = cand.withColumn("rn", row_number().over(
          Window.partitionBy(col("d_key"))
            .orderBy(col("distance"), col("s_suppkey"))))
        .filter(col("rn") === 1)
        .select(col("d_key"), col("s_suppkey"), col("distance"))
      val bestForClean = cand.withColumn("rn", row_number().over(
          Window.partitionBy(col("s_suppkey"))
            .orderBy(col("distance"), col("d_key"))))
        .filter(col("rn") === 1)
        .select(col("d_key").as("b_d_key"), col("s_suppkey").as("b_s_suppkey"))
      bestForDirty
        .join(bestForClean,
          col("d_key") === col("b_d_key") && col("s_suppkey") === col("b_s_suppkey"))
        .select(col("d_key"), col("s_suppkey").as("match_key"), col("distance"))
        .orderBy(col("d_key"))
    },
    Some("""
      WITH dirty AS (
        SELECT s_suppkey AS d_key,
          concat(substr(s_name, 1, CAST(6 + s_suppkey % 8 AS INT) - 1),
                 substr(s_name, CAST(6 + s_suppkey % 8 AS INT) + 1)) AS d_name
        FROM supplier),
      cand AS (
        SELECT d.d_key, c.s_suppkey,
          CAST(levenshtein(c.s_name, d.d_name) AS BIGINT) AS distance
        FROM supplier c JOIN dirty d
          ON substr(c.s_name, -3) = substr(d.d_name, -3)
        WHERE levenshtein(c.s_name, d.d_name) <= 2),
      bd AS (
        SELECT d_key, s_suppkey, distance FROM cand
        QUALIFY row_number() OVER (
          PARTITION BY d_key ORDER BY distance, s_suppkey) = 1),
      bc AS (
        SELECT d_key, s_suppkey FROM cand
        QUALIFY row_number() OVER (
          PARTITION BY s_suppkey ORDER BY distance, d_key) = 1)
      SELECT bd.d_key, bd.s_suppkey AS match_key, bd.distance
      FROM bd JOIN bc ON bd.d_key = bc.d_key AND bd.s_suppkey = bc.s_suppkey
      ORDER BY bd.d_key
    """))

  /** Delta-varint encoding planner: if each user's event timestamps are
    * delta-encoded (first value full-width, then per-gap varint bytes at
    * the 7-bit-per-byte thresholds), how many bytes does the column need
    * vs raw int64 — the layout decision behind every timestamp column's
    * encoding choice, answered without writing a single encoded byte.
    * Gap byte widths are exact integer CASEs, so the plan is
    * bit-deterministic.
    *
    * Scale shape: one lag window per user (user-bounded partitions,
    * never global) + one corpus aggregate. */
  private val q297 = QueryDef(
    "q297_delta_varint_plan",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
        .withColumn("vbytes", expr(
          """CASE WHEN gap IS NULL THEN 8
                  WHEN gap < 128 THEN 1
                  WHEN gap < 16384 THEN 2
                  WHEN gap < 2097152 THEN 3
                  WHEN gap < 268435456 THEN 4
                  ELSE 5 END"""))
        .agg(count(lit(1)).as("n_values"),
          (count(lit(1)) * 8).as("raw_bytes"),
          sum(col("vbytes")).as("varint_bytes"))
        .select(col("n_values"), col("raw_bytes"), col("varint_bytes"),
          expr("(raw_bytes - varint_bytes) * 1000000L div raw_bytes").as("savings_ppm"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      g AS (
        SELECT ts_s - lag(ts_s) OVER (
            PARTITION BY user_id ORDER BY ts_s, event_id) AS gap
        FROM e),
      b AS (
        SELECT CASE WHEN gap IS NULL THEN 8
                    WHEN gap < 128 THEN 1
                    WHEN gap < 16384 THEN 2
                    WHEN gap < 2097152 THEN 3
                    WHEN gap < 268435456 THEN 4
                    ELSE 5 END AS vbytes
        FROM g)
      SELECT CAST(count(*) AS BIGINT) AS n_values,
        CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
        CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
        CAST((count(*) * 8 - sum(vbytes)) * 1000000 // (count(*) * 8) AS BIGINT)
          AS savings_ppm
      FROM b
    """))

  /** Watermark-lateness sweep: per-key event lateness (arrival order
    * proxied by event id, as a Kafka per-partition stream would see it)
    * against candidate watermark delays 1 min / 5 min / 15 min — how
    * many events each delay would drop. The batch dry-run behind the
    * reference's hardcoded withWatermark("1 minute") (W1): measure
    * before committing a delay to production state eviction.
    *
    * Scale shape: one running-max window per user (user-bounded), then
    * the 3-row sweep joins the user-sized lateness census — the events
    * table is scanned once. */
  private val q298 = QueryDef(
    "q298_watermark_lateness_sweep",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"))
        .withColumn("lateness", max(col("ts_s")).over(w) - col("ts_s"))
        .select(col("lateness"),
          explode(array(lit(60L), lit(300L), lit(900L))).as("delay_s"))
        .groupBy(col("delay_s"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("lateness") > col("delay_s"), 1L).otherwise(0L)).as("n_dropped"))
        .select(col("delay_s"), col("n_events"), col("n_dropped"),
          expr("n_dropped * 1000000L div n_events").as("dropped_ppm"))
        .orderBy(col("delay_s"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      l AS (
        SELECT max(ts_s) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_s AS lateness
        FROM e),
      sweep AS (
        SELECT CAST(delay_s AS BIGINT) AS delay_s, lateness
        FROM l CROSS JOIN (VALUES (60), (300), (900)) AS t(delay_s))
      SELECT delay_s, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN lateness > delay_s THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropped,
        CAST(sum(CASE WHEN lateness > delay_s THEN 1 ELSE 0 END) * 1000000
          // count(*) AS BIGINT) AS dropped_ppm
      FROM sweep GROUP BY delay_s ORDER BY delay_s
    """))

  /** Rare-level collapse planning: per categorical column, how many
    * levels fall under 1% mass (the "other"-bucket candidates) and how
    * much row mass the kept levels retain — the cardinality-reduction
    * decision before one-hot/target encoding (q254/q124 consume the
    * result). The 1% cut is computed against the column's own total via
    * a window over the LEVEL table (vocabulary-sized, sanctioned).
    *
    * Scale shape: one (column, level) hash aggregate per column over
    * narrow projections; everything downstream is level-sized. */
  private val q299 = QueryDef(
    "q299_rare_level_collapse_plan",
    (spark, dir) => {
      def plan(df: DataFrame, colName: String, tag: String) = {
        val lv = df.select(col(colName).as("level"))
          .groupBy(col("level")).agg(count(lit(1)).as("n"))
        lv.withColumn("total", sum(col("n")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("rare", col("n") * 100 < col("total"))
          .agg(count(lit(1)).as("n_levels"),
            sum(when(col("rare"), 1L).otherwise(0L)).as("n_rare_levels"),
            sum(when(!col("rare"), col("n")).otherwise(0L)).as("kept_rows"),
            sum(col("n")).as("total_rows"))
          .select(lit(tag).as("column_name"), col("n_levels"), col("n_rare_levels"),
            expr("kept_rows * 1000000L div total_rows").as("kept_ppm"))
      }
      plan(Tables.part(spark, dir), "p_brand", "part_brand")
        .unionAll(plan(Tables.part(spark, dir), "p_type", "part_type"))
        .unionAll(plan(Tables.events(spark, dir), "event_type", "event_type"))
        .unionAll(plan(Tables.orders(spark, dir), "o_orderpriority", "order_priority"))
        .orderBy(col("column_name"))
    },
    Some {
      def duckPlan(tbl: String, c: String, tag: String) = s"""
        SELECT '$tag' AS column_name, CAST(count(*) AS BIGINT) AS n_levels,
          CAST(sum(CASE WHEN n * 100 < total THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rare_levels,
          CAST(sum(CASE WHEN n * 100 >= total THEN n ELSE 0 END) * 1000000
            // sum(n) AS BIGINT) AS kept_ppm
        FROM (
          SELECT n, sum(n) OVER () AS total FROM (
            SELECT $c AS level, CAST(count(*) AS BIGINT) AS n FROM $tbl GROUP BY 1))"""
      Seq(duckPlan("part", "p_brand", "part_brand"),
        duckPlan("part", "p_type", "part_type"),
        duckPlan("events", "event_type", "event_type"),
        duckPlan("orders", "o_orderpriority", "order_priority"))
        .mkString("", "\nUNION ALL", "\nORDER BY column_name")
    })

  /** Five-stage curation funnel composing the round-5 operators: exact
    * dedup on normalized text → template-cluster strike (first-6-words
    * clusters > 3 struck, q282's key) → LM filter (q269's bigram score
    * ≥ the corpus mean) → 50% reproducible hash sample. Each stage
    * reports surviving docs + chars — the end-to-end yield curve a
    * curation run publishes (q51's funnel, upgraded to the model-based
    * stages).
    *
    * Scale shape: every stage is a narrow filter or digest-keyed
    * aggregate; the LM score reuses the vocabulary²-bounded bigram
    * model; the mean threshold is a broadcast one-row aggregate. */
  private val q300 = QueryDef(
    "q300_curation_funnel_v2",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), col("text"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("norm_digest"),
          md5(concat_ws(" ", slice(tokens_native(col("text")), 1, 6))).as("tmpl_digest"))
      val s1 = d.withColumn("rn", row_number().over(
          Window.partitionBy(col("norm_digest")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val s2 = s1.withColumn("tn", count(lit(1)).over(
          Window.partitionBy(col("tmpl_digest"))))
        .filter(col("tn") <= 3).drop("tn")
      // q269's per-doc LM score over the full corpus model
      val bb = bigrams(spark, dir)
      val cnt = bb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val head = cnt.groupBy(col("w1")).agg(sum(col("cnt")).as("head_total"))
      val scores = bb.join(cnt, Seq("w1", "w2")).join(head, Seq("w1"))
        .select(col("doc_id"), expr("cnt * 1000000L div head_total").as("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term")).as("s"), count(lit(1)).as("nb"))
        .select(col("doc_id"), expr("s div nb").as("score_ppm"))
      val meanScore = scores.agg(sum(col("score_ppm")).as("ss"), count(lit(1)).as("nn"))
        .select(expr("ss div nn").as("mean_score"))
      val s3 = s2.join(scores, Seq("doc_id")).crossJoin(broadcast(meanScore))
        .filter(col("score_ppm") >= col("mean_score"))
      val s4 = s3.filter(Sampling.keyHash(col("doc_id")) % 10000 < 5000)
      def stage(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_chars")), lit(0L)).as("total_chars"))
          .select(lit(tag).as("stage"), col("n_docs"), col("total_chars"))
      stage(d, "s0_all")
        .unionAll(stage(s1, "s1_exact_norm"))
        .unionAll(stage(s2, "s2_template"))
        .unionAll(stage(s3, "s3_lm_filter"))
        .unionAll(stage(s4, "s4_sample"))
        .orderBy(col("stage"))
    },
    Some(s"""
      WITH $duckBigrams,
      c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM bb GROUP BY 1, 2),
      h AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS head_total FROM c GROUP BY 1),
      sc AS (
        SELECT doc_id,
          CAST(sum(cnt * 1000000 // head_total) // count(*) AS BIGINT) AS score_ppm
        FROM bb JOIN c USING (w1, w2) JOIN h USING (w1)
        GROUP BY doc_id),
      ms AS (SELECT CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score FROM sc),
      d AS (
        SELECT doc_id, n_chars,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_digest,
          md5(array_to_string(list_slice($duckTokens, 1, 6), ' ')) AS tmpl_digest
        FROM documents),
      s1 AS (
        SELECT * FROM d
        QUALIFY row_number() OVER (PARTITION BY norm_digest ORDER BY doc_id) = 1),
      s2 AS (
        SELECT * FROM (
          SELECT *, count(*) OVER (PARTITION BY tmpl_digest) AS tn FROM s1)
        WHERE tn <= 3),
      s3 AS (
        SELECT s2.doc_id, s2.n_chars FROM s2 JOIN sc USING (doc_id), ms
        WHERE sc.score_ppm >= ms.mean_score),
      s4 AS (
        SELECT * FROM s3
        WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 5000)
      SELECT 's0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars FROM d
      UNION ALL SELECT 's1_exact_norm', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s1
      UNION ALL SELECT 's2_template', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s2
      UNION ALL SELECT 's3_lm_filter', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s3
      UNION ALL SELECT 's4_sample', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM s4
      ORDER BY stage
    """))

  /** Integer floor-log2 as a CASE chain (engine-portable: libm log2 of
    * a power of two may land a hair under the integer in either engine;
    * threshold comparisons cannot). Valid for 1 ≤ x < 2^20. */
  private def log2Case(x: String): String =
    (1 to 20).map(k => s"WHEN $x < ${1L << k} THEN ${k - 1}")
      .mkString("CASE ", " ", " ELSE 20 END")

  /** Zipf rank–frequency slope: OLS over (⌊log2 rank⌋, ⌊log2 freq⌋) of
    * the token frequency table — natural text lands near −1; synthetic
    * or templated corpora drift toward 0 (flat) — a one-number corpus
    * naturalness fingerprint. Integer-exact: floor-log2 via threshold
    * CASEs, the slope as a sign-safe cross-multiplied rational in
    * milli-units (negative division is truncation-vs-floor territory,
    * so the CASE keeps operands non-negative, like q293).
    *
    * Scale shape: the rank window runs over the vocabulary table only
    * (q122's sanction); the OLS moments are one aggregate over it. */
  private val q301 = QueryDef(
    "q301_zipf_slope",
    (spark, dir) => {
      val freq = Tables.documents(spark, dir)
        .select(explode(tokens_native(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("f"))
      freq
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("f").desc, col("token"))).cast("long"))
        .select(expr(log2Case("rnk")).as("x"), expr(log2Case("f")).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(col("n").as("n_points"),
          expr("""CASE WHEN n * sxy - sx * sy < 0
                  THEN -((-(n * sxy - sx * sy)) * 1000 div (n * sxx - sx * sx))
                  ELSE (n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx) END""")
            .as("slope_mq"))
    },
    Some(s"""
      WITH freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS f FROM (
          SELECT unnest($duckTokens) AS token FROM documents)
        GROUP BY token),
      r AS (
        SELECT ${log2Case("rnk")} AS x, ${log2Case("f")} AS y FROM (
          SELECT f, CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT) AS rnk
          FROM freq)),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
          CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM r)
      SELECT n AS n_points,
        CASE WHEN n * sxy - sx * sy < 0
             THEN -((-(n * sxy - sx * sy)) * 1000 // (n * sxx - sx * sx))
             ELSE (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) END AS slope_mq
      FROM m
    """))

  /** Stratified minibatch scheduling audit: documents dealt round-robin
    * into 16 batches WITHIN each language (batch = (per-lang rank − 1)
    * mod 16) — the deterministic data-loader schedule that keeps every
    * batch's language mix within ±1 doc of every other. The audit
    * proves the bound: per-language min/max batch occupancy spread ≤ 1
    * by construction, visible in the output.
    *
    * Scale shape: one per-lang rank window (lang-bounded partitions) +
    * two keyed hash aggregates; nothing global. */
  private val q302 = QueryDef(
    "q302_minibatch_mix_evenness",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
        .withColumn("batch", (col("rn") - 1) % 16)
        .groupBy(col("lang"), col("batch")).agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_docs"), min(col("n")).as("min_per_batch"),
          max(col("n")).as("max_per_batch"))
        .select(col("lang"), col("n_docs"), col("min_per_batch"), col("max_per_batch"),
          (col("max_per_batch") - col("min_per_batch")).as("spread"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH r AS (
        SELECT lang,
          (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1) % 16 AS batch
        FROM documents),
      b AS (
        SELECT lang, batch, CAST(count(*) AS BIGINT) AS n
        FROM r GROUP BY lang, batch)
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(min(n) AS BIGINT) AS min_per_batch,
        CAST(max(n) AS BIGINT) AS max_per_batch,
        CAST(max(n) - min(n) AS BIGINT) AS spread
      FROM b GROUP BY lang ORDER BY lang
    """))

  /** Ratio-to-moving-average seasonal adjustment: monthly revenue
    * against its centered 12-month moving average (sum div 12 — exact
    * integer), emitted as ppm of trend. The deseasonalized readout
    * planners consume instead of raw monthlies; months without a full
    * 12-month window emit no verdict (honest edges, like q130).
    *
    * Scale shape: the corpus collapses to one row per month before the
    * window; the centered frame runs over the month table only. */
  private val q303 = QueryDef(
    "q303_seasonal_adjustment",
    (spark, dir) => {
      val monthly = Tables.lineitem(spark, dir)
        .select(((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
            .cast("long").as("mi"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rc"))
        .groupBy(col("mi")).agg(sum(col("rc")).as("revenue_cents"))
      val w = Window.orderBy(col("mi")).rowsBetween(-6, 5)
      monthly
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_sum", sum(col("revenue_cents")).over(w))
        .filter(col("win_n") === 12)
        .select(col("mi"), col("revenue_cents"),
          expr("win_sum div 12").as("ma_cents"),
          expr("revenue_cents * 1000000L div (win_sum div 12)").as("sa_ppm"))
        .orderBy(col("mi"))
    },
    Some("""
      WITH m AS (
        SELECT CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS BIGINT)
            AS mi,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
        FROM lineitem GROUP BY 1),
      w AS (
        SELECT mi, revenue_cents,
          count(*) OVER win AS win_n,
          sum(revenue_cents) OVER win AS win_sum
        FROM m
        WINDOW win AS (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING))
      SELECT mi, revenue_cents,
        CAST(win_sum // 12 AS BIGINT) AS ma_cents,
        CAST(revenue_cents * 1000000 // (win_sum // 12) AS BIGINT) AS sa_ppm
      FROM w WHERE win_n = 12 ORDER BY mi
    """))

  /** Dispersion census: variance-to-mean ratio (ppm) of the three core
    * count distributions — lineitems per order, orders per customer,
    * events per user. VMR ≈ 1e6 means Poisson-like arrivals; well above
    * means burstiness/heavy keys (shuffle-skew early warning, the
    * statistical root of what q232 measures structurally). Exact:
    * VMR = (g·Σn² − S²)·10^6 div (g·S) from integer moments.
    *
    * Scale shape: one keyed count aggregate + one moment rollup per
    * distribution; three narrow scans total. */
  private val q304 = QueryDef(
    "q304_dispersion_census",
    (spark, dir) => {
      def vmr(df: DataFrame, key: String, tag: String) =
        df.groupBy(col(key)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("g"), sum(col("n")).as("s"),
            sum(col("n") * col("n")).as("q"))
          .select(lit(tag).as("distribution"), col("g").as("n_groups"),
            expr("s * 1000L div g").as("mean_mq"),
            expr("(g * q - s * s) * 1000000L div (g * s)").as("vmr_ppm"))
      vmr(Tables.lineitem(spark, dir), "l_orderkey", "lineitems_per_order")
        .unionAll(vmr(Tables.orders(spark, dir), "o_custkey", "orders_per_customer"))
        .unionAll(vmr(Tables.events(spark, dir), "user_id", "events_per_user"))
        .orderBy(col("distribution"))
    },
    Some {
      def duckVmr(tbl: String, k: String, tag: String) = s"""
        SELECT '$tag' AS distribution, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(n) * 1000 // count(*) AS BIGINT) AS mean_mq,
          CAST((count(*) * sum(n * n) - sum(n) * sum(n)) * 1000000
            // (count(*) * sum(n)) AS BIGINT) AS vmr_ppm
        FROM (SELECT $k, CAST(count(*) AS BIGINT) AS n FROM $tbl GROUP BY $k)"""
      Seq(duckVmr("lineitem", "l_orderkey", "lineitems_per_order"),
        duckVmr("orders", "o_custkey", "orders_per_customer"),
        duckVmr("events", "user_id", "events_per_user"))
        .mkString("", "\nUNION ALL", "\nORDER BY distribution")
    })

  /** Repeat-purchase cadence: median days between consecutive orders
    * per market segment, computed at day-histogram granularity (the
    * cumulative window runs over distinct gap values per segment, never
    * over customers — q36's rank-selection discipline). The
    * replenishment-cycle number segment marketing calendars against.
    *
    * Scale shape: per-customer lag windows (customer-bounded), one
    * (segment, gap) histogram aggregate, and a gap-value-sized
    * cumulative pass. */
  private val q305 = QueryDef(
    "q305_repeat_purchase_interval",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"), col("o_orderkey"))
      val gaps = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          (epochS(col("o_orderdate")) / 86400L).cast("long").as("day"))
        .withColumn("gap_days", col("day") - lag(col("day"), 1).over(w))
        .filter(col("gap_days").isNotNull)
        .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      val hist = gaps.groupBy(col("c_mktsegment"), col("gap_days"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy(col("c_mktsegment")).orderBy(col("gap_days"))
      val wa = Window.partitionBy(col("c_mktsegment"))
      hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wa))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("c_mktsegment"))
        .agg(min(col("gap_days")).as("median_gap_days"), max(col("n")).as("n_intervals"))
        .select(col("c_mktsegment").as("segment"), col("n_intervals"),
          col("median_gap_days"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_orderkey,
          CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day
        FROM orders),
      g AS (
        SELECT o_custkey,
          day - lag(day) OVER (
            PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap_days
        FROM o),
      j AS (
        SELECT c_mktsegment, gap_days
        FROM g JOIN customer ON o_custkey = c_custkey
        WHERE gap_days IS NOT NULL),
      h AS (
        SELECT c_mktsegment, gap_days, CAST(count(*) AS BIGINT) AS cnt
        FROM j GROUP BY 1, 2),
      c AS (
        SELECT c_mktsegment, gap_days,
          sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY gap_days) AS cum,
          sum(cnt) OVER (PARTITION BY c_mktsegment) AS n
        FROM h)
      SELECT c_mktsegment AS segment, CAST(max(n) AS BIGINT) AS n_intervals,
        CAST(min(gap_days) AS BIGINT) AS median_gap_days
      FROM c WHERE cum * 2 >= n
      GROUP BY c_mktsegment ORDER BY segment
    """))

  /** Brand cannibalization screen: Pearson correlation of monthly
    * revenue between every brand pair (integer moments, q66's identity,
    * the one IEEE division shared verbatim) over months both brands
    * sold — the five most NEGATIVE pairs are substitution candidates
    * (one brand's good month is the other's bad one). ≥ 24 common
    * months required so noise can't fake a signal.
    *
    * Scale shape: the corpus collapses to (brand, month) first; the
    * pair join runs brand-vocabulary-sized (25 brands → 300 pairs),
    * never over facts. */
  private val q306 = QueryDef(
    "q306_brand_cannibalization",
    (spark, dir) => {
      // monthly revenue quantized to kilodollars (cents div 100000): every
      // moment product then stays below 2^53, so the integer→double images
      // are exact and the IEEE correlation is bit-identical cross-engine
      // (raw cents would push sx·sy to ~10^21 — silent long wrap territory)
      val bm = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
            .cast("long").as("mi"),
          cents(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("rc"))
        .groupBy(col("brand"), col("mi"))
        .agg(expr("sum(rc) div 100000").as("r"))
      val pairs = bm.select(col("brand").as("brand_a"), col("mi"), col("r").as("x"))
        .join(bm.select(col("brand").as("brand_b"), col("mi"), col("r").as("y")), Seq("mi"))
        .filter(col("brand_a") < col("brand_b"))
      pairs.groupBy(col("brand_a"), col("brand_b"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .filter(col("n") >= 24)
        .select(col("brand_a"), col("brand_b"), col("n").as("n_months"),
          (expr("CAST(n * sxy - sx * sy AS DOUBLE)") /
            (sqrt(expr("CAST(n * sxx - sx * sx AS DOUBLE)")) *
              sqrt(expr("CAST(n * syy - sy * sy AS DOUBLE)")))).as("pearson_r"))
        .orderBy(col("pearson_r"), col("brand_a"), col("brand_b"))
        .limit(5)
    },
    Some("""
      WITH bm AS (
        SELECT p_brand AS brand,
          CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS BIGINT) AS mi,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
            // 100000 AS BIGINT) AS r
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2),
      p AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(a.r) AS BIGINT) AS sx, CAST(sum(b.r) AS BIGINT) AS sy,
          CAST(sum(a.r * a.r) AS BIGINT) AS sxx,
          CAST(sum(b.r * b.r) AS BIGINT) AS syy,
          CAST(sum(a.r * b.r) AS BIGINT) AS sxy
        FROM bm a JOIN bm b ON a.mi = b.mi AND a.brand < b.brand
        GROUP BY 1, 2
        HAVING count(*) >= 24)
      SELECT brand_a, brand_b, n AS n_months,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
      FROM p ORDER BY pearson_r, brand_a, brand_b LIMIT 5
    """))

  /** Worst revenue drawdown days: each day against the running peak of
    * daily revenue — the five deepest declines from any prior peak
    * (cents and ppm-of-peak). The health-monitoring readout ops charts;
    * q212 finds local peaks, this quantifies falls from them.
    *
    * Scale shape: the corpus collapses to one row per day; the running
    * max and top-k run over the day table only (sanctioned, calendar-
    * sized). */
  private val q307 = QueryDef(
    "q307_revenue_drawdown",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val daily = Tables.orders(spark, dir)
        .select((epochS(col("o_orderdate")) / 86400L).cast("long").as("day"),
          cents(col("o_totalprice")).as("rc"))
        .groupBy(col("day")).agg(sum(col("rc")).as("revenue_cents"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("peak_cents", max(col("revenue_cents")).over(w))
        .withColumn("drawdown_cents", col("peak_cents") - col("revenue_cents"))
        .select(col("day"), col("revenue_cents"), col("peak_cents"),
          col("drawdown_cents"),
          expr("drawdown_cents * 1000000L div peak_cents").as("drawdown_ppm"))
        .orderBy(col("drawdown_ppm").desc, col("day"))
        .limit(5)
    },
    Some("""
      WITH d AS (
        SELECT CAST(epoch_ms(o_orderdate) // 1000 // 86400 AS BIGINT) AS day,
          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
            AS revenue_cents
        FROM orders GROUP BY 1),
      p AS (
        SELECT day, revenue_cents,
          max(revenue_cents) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents
        FROM d)
      SELECT day, revenue_cents, peak_cents,
        peak_cents - revenue_cents AS drawdown_cents,
        CAST((peak_cents - revenue_cents) * 1000000 // peak_cents AS BIGINT)
          AS drawdown_ppm
      FROM p ORDER BY drawdown_ppm DESC, day LIMIT 5
    """))

  /** Exact pairwise language vocabulary overlap: distinct-token Jaccard
    * for every language pair by inclusion–exclusion — the exact
    * complement of q239's KMV sketch intersections (there: estimated,
    * source-keyed; here: exact, language-keyed). High overlap between
    * languages signals code-switching or mislabeled documents.
    *
    * Scale shape: one (lang, token) distinct, self-joined on the token
    * key for intersections; per-language sizes broadcast back onto the
    * 10-row pair table. */
  private val q308 = QueryDef(
    "q308_lang_vocab_overlap",
    (spark, dir) => {
      val lt = Tables.documents(spark, dir)
        .select(col("lang"), explode(tokens_native(col("text"))).as("token"))
        .distinct()
      val sizes = lt.groupBy(col("lang")).agg(count(lit(1)).as("v"))
      val inter = lt.select(col("lang").as("lang_a"), col("token"))
        .join(lt.select(col("lang").as("lang_b"), col("token")), Seq("token"))
        .filter(col("lang_a") < col("lang_b"))
        .groupBy(col("lang_a"), col("lang_b")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("lang").as("lang_a"), col("v").as("va"))),
          Seq("lang_a"))
        .join(broadcast(sizes.select(col("lang").as("lang_b"), col("v").as("vb"))),
          Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("va"), col("vb"), col("inter"),
          expr("inter * 1000000L div (va + vb - inter)").as("jaccard_ppm"))
        .orderBy(col("lang_a"), col("lang_b"))
    },
    Some(s"""
      WITH lt AS (
        SELECT DISTINCT lang, token FROM (
          SELECT lang, unnest($duckTokens) AS token FROM documents)),
      sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS v FROM lt GROUP BY lang),
      i AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, CAST(count(*) AS BIGINT) AS inter
        FROM lt a JOIN lt b ON a.token = b.token AND a.lang < b.lang
        GROUP BY 1, 2)
      SELECT lang_a, lang_b, sa.v AS va, sb.v AS vb, inter,
        CAST(inter * 1000000 // (sa.v + sb.v - inter) AS BIGINT) AS jaccard_ppm
      FROM i JOIN sizes sa ON i.lang_a = sa.lang
        JOIN sizes sb ON i.lang_b = sb.lang
      ORDER BY lang_a, lang_b
    """))

  /** A/B sample-size planner (minimum detectable effect): from the
    * observed view→purchase user conversion rate, the users-per-arm an
    * experiment needs at ~80% power / α=0.05 for relative effects of
    * 1%, 5%, 10% — the rule-of-thumb n = 16·p(1−p)/δ², evaluated in
    * exact ppm integers (n = 16·p_ppm·(10^6−p_ppm) div δ_ppm²).
    * Completes the experimentation family: q225 SRM, q163 readout,
    * q240 DiD, q244 uplift — this is the query you run BEFORE those.
    *
    * Scale shape: the baseline is one user-keyed aggregate; the sweep
    * is arithmetic on a 3-row broadcast. */
  private val q309 = QueryDef(
    "q309_mde_sample_size",
    (spark, dir) => {
      val base = Tables.events(spark, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_converted"))
        .select(col("n_users"), col("n_converted"),
          expr("n_converted * 1000000L div n_users").as("p_ppm"))
      base
        .select(col("n_users"), col("n_converted"), col("p_ppm"),
          explode(array(lit(10L), lit(50L), lit(100L))).as("rel_effect_pm"))
        .withColumn("delta_ppm", expr("p_ppm * rel_effect_pm div 1000"))
        .select(col("rel_effect_pm"), col("p_ppm"), col("delta_ppm"),
          expr("16 * p_ppm * (1000000 - p_ppm) div (delta_ppm * delta_ppm)")
            .as("n_per_arm"))
        .orderBy(col("rel_effect_pm"))
    },
    Some("""
      WITH u AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id),
      b AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
          CAST(sum(conv) AS BIGINT) AS n_converted,
          CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS p_ppm
        FROM u),
      s AS (
        SELECT CAST(rel AS BIGINT) AS rel_effect_pm, p_ppm,
          p_ppm * rel // 1000 AS delta_ppm
        FROM b CROSS JOIN (VALUES (10), (50), (100)) AS t(rel))
      SELECT rel_effect_pm, p_ppm, CAST(delta_ppm AS BIGINT) AS delta_ppm,
        CAST(16 * p_ppm * (1000000 - p_ppm) // (delta_ppm * delta_ppm) AS BIGINT)
          AS n_per_arm
      FROM s ORDER BY rel_effect_pm
    """))

  /** Density-based embedding outliers: each vector's 5th-nearest-
    * neighbor cosine WITHIN its label block — the ten most isolated
    * vectors (lowest kNN@5 similarity) are label-noise / out-of-
    * distribution candidates, the curation complement of q139's norm
    * outliers (a vector can have a normal norm and still sit nowhere
    * near its class). Label blocks bound the pair set exactly as q24
    * does — never all-pairs.
    *
    * Scale shape: O(Σ block²) pairs, two window ranks (per-vector kth
    * neighbor, then global top-k over the vector-sized result). */
  private val q310 = QueryDef(
    "q310_knn_distance_outliers",
    (spark, dir) => {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
      val pairs = e
        .join(e.select(col("vec_id").as("nb_id"), col("label"),
          col("embedding").as("nb_vec")), Seq("label"))
        .filter(col("vec_id") =!= col("nb_id"))
        .select(col("vec_id"), col("label"),
          quantized_cosine(col("embedding"), col("nb_vec")).as("cosine"), col("nb_id"))
      pairs
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cosine").desc, col("nb_id"))))
        .filter(col("rn") === 5)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("cosine").as("knn5_cosine"))
        .orderBy(col("knn5_cosine"), col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q),
      p AS (
        SELECT a.vec_id, a.label, b.vec_id AS nb_id,
          CAST(CAST(list_sum(list_transform(range(1, len(a.qv)+1),
                 i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE)
            / sqrt(CAST(a.nsq AS DOUBLE)*CAST(b.nsq AS DOUBLE)) AS cosine
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      r AS (
        SELECT vec_id, label, cosine,
          row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nb_id) AS rn
        FROM p)
      SELECT vec_id, CAST(label AS BIGINT) AS label, cosine AS knn5_cosine
      FROM r WHERE rn = 5
      ORDER BY knn5_cosine, vec_id LIMIT 10
    """))

  /** Wilson-lower-bound ranking: brand return rates ranked by the 95%
    * Wilson score LOWER bound — the ranking fix that beats both raw
    * rates (small-n noise wins) and Laplace smoothing (q266) when
    * confidence, not shrinkage, is the question. Counts are exact
    * longs; the bound is ONE shared IEEE expression over their exact
    * double images (z² = 3.8416 and its halves as literal constants),
    * so both engines emit identical doubles.
    *
    * Scale shape: one (brand) hash aggregate; the formula runs on 25
    * rows. */
  private val q311 = QueryDef(
    "q311_wilson_return_rates",
    (spark, dir) => {
      val wilson =
        "(p + 1.9208/n - 1.96 * sqrt((p*(1.0-p) + 0.9604/n)/n)) / (1.0 + 3.8416/n)"
      Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
        .withColumn("p", expr("CAST(r AS DOUBLE)/n"))
        .select(col("p_brand").as("brand"), col("n"), col("r"),
          expr(wilson).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("brand"))
        .limit(10)
    },
    Some("""
      WITH b AS (
        SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1),
      w AS (SELECT brand, n, r, CAST(r AS DOUBLE)/n AS p FROM b)
      SELECT brand, n, r,
        (p + 1.9208/n - 1.96 * sqrt((p*(1.0-p) + 0.9604/n)/n)) / (1.0 + 3.8416/n)
          AS wilson_lb
      FROM w ORDER BY wilson_lb DESC, brand LIMIT 10
    """))

  /** Consistent-hash ring balance: 8 shards × 32 virtual nodes on an
    * injective ring (pos = h·512 + i, so vnode and key positions can
    * never collide), event keys assigned to the first vnode clockwise —
    * the shard-assignment scheme that survives shard add/remove with
    * 1/n movement, audited for balance (per-shard share ppm). Few
    * vnodes per shard = high imbalance; this census is how you pick 32.
    *
    * Scale shape: the 256-row ring broadcasts; each key evaluates
    * against ring segments in place (at production scale the same
    * segments feed a range-bin equi-join, q43's shape). */
  private val q312 = QueryDef(
    "q312_consistent_hash_balance",
    (spark, dir) => {
      val ring = spark.range(256).toDF("i")
        .select(col("i"),
          expr("i div 32").as("shard"),
          expr("(((i * 2654435761L) % 4294967296L) * 512 + i)").as("pos"))
      val seg = ring
        .withColumn("prev_pos", lag(col("pos"), 1).over(Window.orderBy(col("pos"))))
        .withColumn("min_pos", min(col("pos")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("max_pos", max(col("pos")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val keys = Tables.events(spark, dir)
        .select(expr(
          "(((event_id % 2147483648L) * 2654435761L) % 4294967296L) * 512 + 300")
          .as("kpos"))
      keys.crossJoin(broadcast(seg))
        .filter(
          (col("prev_pos").isNotNull && col("kpos") > col("prev_pos") &&
            col("kpos") <= col("pos")) ||
          (col("prev_pos").isNull &&
            (col("kpos") <= col("min_pos") || col("kpos") > col("max_pos"))))
        .groupBy(col("shard")).agg(count(lit(1)).as("n_keys"))
        .withColumn("total", sum(col("n_keys")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("shard"), col("n_keys"),
          expr("n_keys * 1000000L div total").as("share_ppm"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH ring AS (
        SELECT i, i // 32 AS shard,
          ((i * 2654435761) % 4294967296) * 512 + i AS pos
        FROM range(256) AS t(i)),
      seg AS (
        SELECT shard, pos,
          lag(pos) OVER (ORDER BY pos) AS prev_pos,
          min(pos) OVER () AS min_pos,
          max(pos) OVER () AS max_pos
        FROM ring),
      keys AS (
        SELECT ((event_id % 2147483648) * 2654435761) % 4294967296 * 512 + 300
          AS kpos
        FROM events),
      assigned AS (
        SELECT shard FROM keys JOIN seg ON
          (prev_pos IS NOT NULL AND kpos > prev_pos AND kpos <= pos)
          OR (prev_pos IS NULL AND (kpos <= min_pos OR kpos > max_pos))),
      s AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_keys FROM assigned GROUP BY shard)
      SELECT CAST(shard AS BIGINT) AS shard, n_keys,
        CAST(n_keys * 1000000 // (SELECT sum(n_keys) FROM s) AS BIGINT) AS share_ppm
      FROM s ORDER BY shard
    """))

  /** Panel balance census: users histogrammed by number of active DAYS
    * — longitudinal analyses (q210 mobility, q240 DiD) silently assume
    * a balanced panel; this is the check. Each row marks whether that
    * attendance level is the full panel ("balanced") against a
    * broadcast one-row day count.
    *
    * Scale shape: distinct (user, day) → user-keyed count → day-count-
    * sized histogram; the day total is a one-row aggregate. */
  private val q313 = QueryDef(
    "q313_panel_balance",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ud = Tables.events(spark, dir)
        .select(col("user_id"), (epochS(col("ts")) / 86400L).cast("long").as("day"))
        .distinct()
      val perUser = ud.groupBy(col("user_id")).agg(count(lit(1)).as("days_active"))
      val nDays = ud.select(col("day")).distinct().agg(count(lit(1)).as("n_days"))
      perUser.crossJoin(broadcast(nDays))
        .groupBy(col("days_active"), col("n_days"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("days_active"), col("n_users"),
          when(col("days_active") === col("n_days"), lit("balanced"))
            .otherwise(lit("partial")).as("panel_status"))
        .orderBy(col("days_active"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id,
          CAST(epoch_ms(ts) // 1000 // 86400 AS BIGINT) AS day
        FROM events),
      pu AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS days_active
        FROM ud GROUP BY user_id),
      nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM ud)
      SELECT days_active, CAST(count(*) AS BIGINT) AS n_users,
        CASE WHEN days_active = n_days THEN 'balanced' ELSE 'partial' END
          AS panel_status
      FROM pu CROSS JOIN nd
      GROUP BY days_active, n_days ORDER BY days_active
    """))

  /** Keyspace density audit: how densely o_orderkey fills its [min,
    * max] range and the largest gap — the partial-load / deletion-scar
    * detector. The gap scan is the scale-safe two-level form: keys
    * bucket into 1024 cells, gaps are found WITHIN buckets (bucket-
    * bounded windows) and BETWEEN consecutive non-empty buckets
    * (1024-row window) — no global per-key window ever runs.
    *
    * Scale shape: one bucketed aggregate + bounded windows; the bucket
    * width derives from a broadcast one-row min/max. */
  private val q314 = QueryDef(
    "q314_keyspace_density",
    (spark, dir) => {
      val keys = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
      val bounds = keys.agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
          count(lit(1)).as("n"))
        .select(col("lo"), col("hi"), col("n"),
          expr("(hi - lo + 1024) div 1024").as("width"))
      val bucketed = keys.crossJoin(broadcast(bounds))
        .withColumn("bucket", expr("(k - lo) div width"))
      val intra = bucketed
        .withColumn("gap", col("k") - lag(col("k"), 1).over(
          Window.partitionBy(col("bucket")).orderBy(col("k"))))
        .agg(coalesce(max(col("gap")), lit(0L)).as("max_intra_gap"))
      val inter = bucketed
        .groupBy(col("bucket")).agg(min(col("k")).as("bmin"), max(col("k")).as("bmax"))
        .withColumn("gap", col("bmin") - lag(col("bmax"), 1).over(
          Window.orderBy(col("bucket"))))
        .agg(coalesce(max(col("gap")), lit(0L)).as("max_inter_gap"))
      bounds.crossJoin(intra).crossJoin(inter)
        .select(col("n").as("n_keys"), col("lo").as("min_key"), col("hi").as("max_key"),
          expr("n * 1000000L div (hi - lo + 1)").as("fill_ppm"),
          greatest(col("max_intra_gap"), col("max_inter_gap")).as("max_gap"))
    },
    Some("""
      WITH b AS (
        SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
          CAST(count(*) AS BIGINT) AS n,
          (max(o_orderkey) - min(o_orderkey) + 1024) // 1024 AS width
        FROM orders),
      bk AS (
        SELECT o_orderkey AS k, (o_orderkey - lo) // width AS bucket
        FROM orders, b),
      intra AS (
        SELECT CAST(coalesce(max(gap), 0) AS BIGINT) AS max_intra_gap FROM (
          SELECT k - lag(k) OVER (PARTITION BY bucket ORDER BY k) AS gap FROM bk)),
      agg AS (
        SELECT bucket, min(k) AS bmin, max(k) AS bmax FROM bk GROUP BY bucket),
      inter AS (
        SELECT CAST(coalesce(max(gap), 0) AS BIGINT) AS max_inter_gap FROM (
          SELECT bmin - lag(bmax) OVER (ORDER BY bucket) AS gap FROM agg))
      SELECT n AS n_keys, CAST(lo AS BIGINT) AS min_key, CAST(hi AS BIGINT) AS max_key,
        CAST(n * 1000000 // (hi - lo + 1) AS BIGINT) AS fill_ppm,
        CAST(greatest(max_intra_gap, max_inter_gap) AS BIGINT) AS max_gap
      FROM b, intra, inter
    """))

  /** Incremental-ingest dedup triage: a 20% hash-designated "new batch"
    * classified against the standing corpus — exact duplicate (same
    * content digest exists in history), template duplicate (same
    * first-6-words cluster, q282's key), or novel. The content-based
    * complement of q65's keyed snapshot diff: this is the decision a
    * daily crawl lands on before anything enters the lake.
    *
    * Scale shape: history collapses to two digest sets (digest-keyed
    * shuffles of hashes only — text never moves); the new batch
    * left-joins both and one 3-row census comes out. */
  private val q315 = QueryDef(
    "q315_incremental_ingest_dedup",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          md5(col("text")).as("digest"),
          md5(concat_ws(" ", slice(tokens_native(col("text")), 1, 6))).as("tmpl"),
          (Sampling.keyHash(col("doc_id")) % 10000 < 2000).as("is_new"))
      val histDigests = d.filter(!col("is_new")).select(col("digest")).distinct()
        .withColumn("d_hit", lit(1L))
      val histTmpl = d.filter(!col("is_new")).select(col("tmpl")).distinct()
        .withColumn("t_hit", lit(1L))
      d.filter(col("is_new"))
        .join(histDigests, Seq("digest"), "left")
        .join(histTmpl, Seq("tmpl"), "left")
        .withColumn("class",
          when(col("d_hit").isNotNull, "exact_dup")
            .when(col("t_hit").isNotNull, "template_dup")
            .otherwise("novel"))
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("class"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, n_chars, md5(text) AS digest,
          md5(array_to_string(list_slice($duckTokens, 1, 6), ' ')) AS tmpl,
          ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 2000 AS is_new
        FROM documents),
      hd AS (SELECT DISTINCT digest FROM d WHERE NOT is_new),
      ht AS (SELECT DISTINCT tmpl FROM d WHERE NOT is_new)
      SELECT CASE WHEN hd.digest IS NOT NULL THEN 'exact_dup'
                  WHEN ht.tmpl IS NOT NULL THEN 'template_dup'
                  ELSE 'novel' END AS class,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM (SELECT * FROM d WHERE is_new) n
      LEFT JOIN hd ON n.digest = hd.digest
      LEFT JOIN ht ON n.tmpl = ht.tmpl
      GROUP BY class ORDER BY class
    """))

  /** Shuffle-partition sizing advisor: for each of the three hot
    * shuffle keys, estimated shuffled bytes (rows × fixed width, q277's
    * arithmetic) against the 128 MiB partition target → recommended
    * partition count, plus a skew verdict (would the heaviest key alone
    * overflow one target partition?) — the spark.sql.shuffle.partitions
    * number this library pins at session setup, derived instead of
    * guessed.
    *
    * Scale shape: one keyed count + one max per shuffle; advice rows
    * are shuffle-count-sized. */
  private val q316 = QueryDef(
    "q316_shuffle_sizing_advisor",
    (spark, dir) => {
      def advise(df: DataFrame, key: String, rowBytes: Int, tag: String) =
        df.groupBy(col(key)).agg(count(lit(1)).as("kn"))
          .agg(sum(col("kn")).as("n_rows"), max(col("kn")).as("max_key_rows"))
          .select(lit(tag).as("shuffle"),
            (col("n_rows") * rowBytes).as("est_bytes"),
            expr(s"(n_rows * $rowBytes + 134217727) div 134217728").as("rec_partitions"),
            col("max_key_rows"),
            (col("max_key_rows") * rowBytes > 134217728L).as("skewed"))
      advise(Tables.lineitem(spark, dir), "l_orderkey", 70, "lineitem_by_orderkey")
        .unionAll(advise(Tables.events(spark, dir), "user_id", 60, "events_by_user"))
        .unionAll(advise(Tables.orders(spark, dir), "o_custkey", 50, "orders_by_custkey"))
        .orderBy(col("shuffle"))
    },
    Some {
      def duckAdvise(tbl: String, k: String, w: Int, tag: String) = s"""
        SELECT '$tag' AS shuffle,
          CAST(sum(kn) * $w AS BIGINT) AS est_bytes,
          CAST((sum(kn) * $w + 134217727) // 134217728 AS BIGINT) AS rec_partitions,
          CAST(max(kn) AS BIGINT) AS max_key_rows,
          max(kn) * $w > 134217728 AS skewed
        FROM (SELECT $k, CAST(count(*) AS BIGINT) AS kn FROM $tbl GROUP BY $k)"""
      Seq(duckAdvise("lineitem", "l_orderkey", 70, "lineitem_by_orderkey"),
        duckAdvise("events", "user_id", 60, "events_by_user"),
        duckAdvise("orders", "o_custkey", 50, "orders_by_custkey"))
        .mkString("", "\nUNION ALL", "\nORDER BY shuffle")
    })

  /** Primary-key uniqueness audit: declared keys of all eight tables
    * (lineitem's is composite) checked in one census — rows vs distinct
    * keys vs violation count. The constraint check a lake runs on every
    * load; complements q83 (referential integrity) with entity
    * integrity.
    *
    * Scale shape: one distinct-count aggregate per table over the key
    * columns only. */
  private val q317 = QueryDef(
    "q317_pk_uniqueness_audit",
    (spark, dir) => {
      def audit(df: DataFrame, keyCols: Seq[String], tag: String) =
        df.select(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(keyCols.head, keyCols.tail: _*).as("n_distinct"))
          .select(lit(tag).as("table_key"), col("n_rows"), col("n_distinct"),
            (col("n_rows") - col("n_distinct")).as("violations"))
      audit(Tables.region(spark, dir), Seq("r_regionkey"), "region_pk")
        .unionAll(audit(Tables.nation(spark, dir), Seq("n_nationkey"), "nation_pk"))
        .unionAll(audit(Tables.customer(spark, dir), Seq("c_custkey"), "customer_pk"))
        .unionAll(audit(Tables.supplier(spark, dir), Seq("s_suppkey"), "supplier_pk"))
        .unionAll(audit(Tables.part(spark, dir), Seq("p_partkey"), "part_pk"))
        .unionAll(audit(Tables.orders(spark, dir), Seq("o_orderkey"), "orders_pk"))
        .unionAll(audit(Tables.lineitem(spark, dir),
          Seq("l_orderkey", "l_linenumber"), "lineitem_pk"))
        .unionAll(audit(Tables.events(spark, dir), Seq("event_id"), "events_pk"))
        .orderBy(col("table_key"))
    },
    Some {
      def duckAudit(tbl: String, keys: String, tag: String) = s"""
        SELECT '$tag' AS table_key, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT ($keys)) AS BIGINT) AS n_distinct,
          CAST(count(*) - count(DISTINCT ($keys)) AS BIGINT) AS violations
        FROM $tbl"""
      Seq(duckAudit("region", "r_regionkey", "region_pk"),
        duckAudit("nation", "n_nationkey", "nation_pk"),
        duckAudit("customer", "c_custkey", "customer_pk"),
        duckAudit("supplier", "s_suppkey", "supplier_pk"),
        duckAudit("part", "p_partkey", "part_pk"),
        duckAudit("orders", "o_orderkey", "orders_pk"),
        duckAudit("lineitem", "l_orderkey, l_linenumber", "lineitem_pk"),
        duckAudit("events", "event_id", "events_pk"))
        .mkString("", "\nUNION ALL", "\nORDER BY table_key")
    })

  /** Nearest-touch alignment: each purchase paired with its NEAREST
    * view within ±1 hour in either direction (argmin |Δt|, earlier
    * view on ties) — the symmetric completion of the as-of family
    * (q42 backward, q208 forward, q85 windowed-backward). Sensor and
    * clickstream alignment is exactly this shape. The join is bounded
    * by THREE hour buckets per purchase, never a user's history.
    *
    * Scale shape: q85's bucket equi-join widened to {b−1, b, b+1} +
    * one per-purchase argmin window. */
  private val q318 = QueryDef(
    "q318_nearest_touch_align",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochS(col("ts")).as("ts_s"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("pb", expr("ts_s div 3600"))
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_s").as("p_ts"),
          explode(array(col("pb") - 1, col("pb"), col("pb") + 1)).as("bucket"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_s").as("v_ts"), expr("ts_s div 3600").as("bucket"))
      purchases
        .join(views, Seq("user_id", "bucket"))
        .filter(abs(col("v_ts") - col("p_ts")) <= 3600)
        .select(col("user_id"), col("purchase_id"),
          col("view_id"), (col("v_ts") - col("p_ts")).as("delta_s"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("purchase_id"))
            .orderBy(abs(col("delta_s")), col("delta_s"), col("view_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("purchase_id"), col("view_id"), col("delta_s"))
        .orderBy(col("purchase_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_s
        FROM events),
      p AS (
        SELECT user_id, event_id AS purchase_id, ts_s AS p_ts
        FROM e WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, ts_s AS v_ts
        FROM e WHERE event_type = 'view'),
      j AS (
        SELECT p.user_id, p.purchase_id, v.view_id,
          v.v_ts - p.p_ts AS delta_s
        FROM p JOIN v ON p.user_id = v.user_id
          AND abs(v.v_ts - p.p_ts) <= 3600)
      SELECT user_id, purchase_id, view_id, CAST(delta_s AS BIGINT) AS delta_s
      FROM j
      QUALIFY row_number() OVER (PARTITION BY purchase_id
        ORDER BY abs(delta_s), delta_s, view_id) = 1
      ORDER BY purchase_id
    """))

  override def defs: Seq[QueryDef] =
    Seq(q269, q270, q271, q272, q273, q274, q275,
      q276, q277, q278, q279,
      q280, q281, q282, q283, q284,
      q285, q286, q287, q288,
      q289, q290, q291, q292,
      q293, q294, q295, q296,
      q297, q298, q299, q300,
      q301, q302, q303, q304,
      q305, q306, q307, q308,
      q309, q310, q311, q312, q313, q314,
      q315, q316, q317, q318)
}
