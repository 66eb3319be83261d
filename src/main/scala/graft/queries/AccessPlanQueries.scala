package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 10: access-path and sampling-path audits —
  * length-biased sampling correction, posting-list intersection
  * strategy, and late-interaction (MaxSim) retrieval. All outputs
  * integers / strings with total ORDER BYs for the oracle gate.
  */
object AccessPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q570

  /** Length-biased sampling correction (Horvitz–Thompson): sample
    * documents with probability PROPORTIONAL TO LENGTH — what every
    * byte-budgeted reservoir or "read the first N MB" probe silently
    * does — and show that the naive sample mean overstates document
    * length (it estimates E[X²]/E[X], size-biased), while the HT
    * estimator Σxᵢ/πᵢ ÷ Σ1/πᵢ recovers the true mean. Swept at
    * inclusion caps m = 512/1024/2048 chars: a higher cap means a
    * smaller sample and a noisier correction — the sample-size/
    * accuracy dial for byte-budgeted corpus probes.
    *
    * Scale shape: one scan computes the inclusion hash (HIGH Knuth
    * bits — low bits alias the key, q569's trap) and per-doc weights;
    * each cap is one conditional aggregate over the same scan; the
    * 3-row cap grid and the one-row population totals broadcast onto
    * the fold (sanctioned one-row/grid BNLJ). Weights are milli-
    * scaled integer reciprocals — no doubles anywhere. */
  private val q570 = QueryDef(
    "q570_length_biased_ht_correction",
    (spark, dir) => {
      import graft.operators.Sampling
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(512L, 1024L, 2048L).toDF("m_cap")
      val base = Tables.documents(spark, dir)
        .filter(col("n_chars") >= 1L)
        .select(col("n_chars").as("x"),
          Sampling.keyHash(col("doc_id")).as("h"))
        .select(col("x"), expr("h div 1048576").as("u"))
      val tot = base.agg(count(lit(1)).as("n_docs"),
        expr("sum(x) div count(1)").as("true_mean_chars"))
      base.crossJoin(broadcast(grid))
        .filter(expr("u % m_cap < least(x, m_cap)"))
        .select(col("m_cap"), col("x"),
          expr("x * m_cap div least(x, m_cap)").as("ht_x"),
          expr("m_cap * 1000 div least(x, m_cap)").as("w_milli"))
        .groupBy(col("m_cap"))
        .agg(count(lit(1)).as("n_sampled"),
          expr("sum(x) div count(1)").as("naive_mean_chars"),
          sum(col("ht_x")).as("t_hat"),
          sum(col("w_milli")).as("n_hat_milli"))
        .crossJoin(broadcast(tot))
        .select(col("m_cap"), col("n_docs"), col("true_mean_chars"),
          col("n_sampled"), col("naive_mean_chars"),
          expr("abs(naive_mean_chars - true_mean_chars) * 1000000 div true_mean_chars")
            .as("naive_err_ppm"),
          expr("t_hat * 1000 div n_hat_milli").as("ht_mean_chars"),
          expr("""abs(t_hat * 1000 div n_hat_milli - true_mean_chars) * 1000000
              div true_mean_chars""").as("ht_err_ppm"))
        .orderBy(col("m_cap"))
    },
    Some("""
      WITH base AS (
        SELECT n_chars AS x,
          ((doc_id % 2147483648) * 2654435761) % 4294967296 // 1048576 AS u
        FROM documents WHERE n_chars >= 1),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(x) // count(*) AS BIGINT) AS true_mean_chars
        FROM base),
      grid(m_cap) AS (VALUES (CAST(512 AS BIGINT)), (CAST(1024 AS BIGINT)),
        (CAST(2048 AS BIGINT))),
      s AS (
        SELECT m_cap, CAST(count(*) AS BIGINT) AS n_sampled,
          CAST(sum(x) // count(*) AS BIGINT) AS naive_mean_chars,
          CAST(sum(x * m_cap // least(x, m_cap)) AS BIGINT) AS t_hat,
          CAST(sum(m_cap * 1000 // least(x, m_cap)) AS BIGINT) AS n_hat_milli
        FROM base CROSS JOIN grid
        WHERE u % m_cap < least(x, m_cap)
        GROUP BY m_cap)
      SELECT m_cap, n_docs, true_mean_chars, n_sampled, naive_mean_chars,
        CAST(abs(naive_mean_chars - true_mean_chars) * 1000000
          // true_mean_chars AS BIGINT) AS naive_err_ppm,
        CAST(t_hat * 1000 // n_hat_milli AS BIGINT) AS ht_mean_chars,
        CAST(abs(t_hat * 1000 // n_hat_milli - true_mean_chars) * 1000000
          // true_mean_chars AS BIGINT) AS ht_err_ppm
      FROM s CROSS JOIN tot ORDER BY m_cap
    """))

  // ---------------------------------------------------------------- q571

  /** Posting-list intersection strategy advisor: for the corpus's 40
    * highest-df terms, price every ordered pair's AND-intersection two
    * ways — linear merge (la + lb probes) vs galloping/skip search
    * (lb·(bitlen(la div lb) + 1), the binary-search bound that wins
    * when one list dwarfs the other) — and report, per log₂
    * length-ratio bucket, the average costs and how often galloping
    * wins. The classical inverted-index access-path decision (Lucene's
    * advance() vs next()), derived from this corpus's actual df
    * distribution instead of a rule of thumb.
    *
    * Scale shape: document frequencies are one distinct-explode
    * aggregate (the only corpus-sized shuffle); the 40-term panel is a
    * TakeOrdered top-k, its 780 pairs a bounded self-join (sanctioned
    * panel BNLJ, the q567 precedent); bucket stats are a hash agg on
    * ≤ a dozen ratio bins. */
  private val q571 = QueryDef(
    "q571_posting_intersection_advisor",
    (spark, dir) => {
      import graft.functions.expressions.tokens_native
      val df = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array_distinct(tokens_native(col("text"))))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      val top = df.orderBy(col("dfreq").desc, col("term")).limit(40)
      val a = top.select(col("term").as("ta"), col("dfreq").as("la"))
      val b = top.select(col("term").as("tb"), col("dfreq").as("lb"))
      a.join(b, col("la") > col("lb") ||
          (col("la") === col("lb") && col("ta") < col("tb")))
        .select(
          (length(bin(expr("la div lb"))) - 1).cast("long").as("ratio_bin"),
          expr("la + lb").as("merge_cost"),
          expr("lb * (length(bin(la div lb)) + 1)").as("gallop_cost"))
        .groupBy(col("ratio_bin"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(merge_cost) div count(1)").as("avg_merge_cost"),
          expr("sum(gallop_cost) div count(1)").as("avg_gallop_cost"),
          expr("sum(CASE WHEN gallop_cost < merge_cost THEN 1 ELSE 0 END) " +
            "* 1000000 div count(1)").as("gallop_wins_ppm"))
        .orderBy(col("ratio_bin"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id,
          unnest(list_distinct($duckTokens)) AS term
        FROM documents),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq
             FROM tk GROUP BY term),
      top AS (SELECT term, dfreq FROM df ORDER BY dfreq DESC, term LIMIT 40),
      pairs AS (
        SELECT a.dfreq AS la, b.dfreq AS lb
        FROM top a JOIN top b
          ON a.dfreq > b.dfreq OR (a.dfreq = b.dfreq AND a.term < b.term)),
      costs AS (
        SELECT CAST(length(bin(la // lb)) - 1 AS BIGINT) AS ratio_bin,
          la + lb AS merge_cost,
          lb * (length(bin(la // lb)) + 1) AS gallop_cost
        FROM pairs)
      SELECT ratio_bin, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(merge_cost) // count(*) AS BIGINT) AS avg_merge_cost,
        CAST(sum(gallop_cost) // count(*) AS BIGINT) AS avg_gallop_cost,
        CAST(sum(CASE WHEN gallop_cost < merge_cost THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS gallop_wins_ppm
      FROM costs GROUP BY ratio_bin ORDER BY ratio_bin
    """))

  // ---------------------------------------------------------------- q572

  /** Late-interaction (MaxSim) retrieval vs single-vector dot product:
    * treat each 64-dim embedding as four 16-dim "token vectors"
    * (ColBERT's granularity trick at miniature scale), score every
    * document against query vec 0 by Σⱼ maxₖ ⟨qⱼ, dₖ⟩ — the sum of
    * each query token's best-matching document token — and report the
    * MaxSim top-10 with same-label relevance and whether the plain
    * dot-product top-10 also contains each hit. MaxSim rewards
    * documents that match every query facet somewhere; the flat dot
    * rewards overall alignment — the divergence between the two lists
    * is exactly what late interaction buys.
    *
    * Scale shape: the 16 subvector dots are one fused codegen'd
    * kernel per row ([[graft.functions.expressions.maxsim_blocks]],
    * promoted from the interpreted nested-HOF form in round 8 —
    * HOF bit-parity in KernelParitySpec; corpus-safe single pass);
    * the query row is a one-row broadcast (the q25 precedent); both
    * top-10s are TakeOrdered, and the membership check joins two
    * 10-row sets. */
  private val q572 = QueryDef(
    "q572_maxsim_late_interaction",
    (spark, dir) => {
      val qv = "transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))"
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr(qv).as("v"))
      val query = base.filter(col("vec_id") === 0L)
        .select(col("v").as("qvec"), col("label").as("qlabel"))
      val scored = base.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(query))
        .select(col("vec_id"), col("label"), col("qlabel"),
          graft.functions.expressions.long_dot(col("qvec"), col("v")).as("dot"),
          graft.functions.expressions.maxsim_blocks(col("qvec"), col("v"), 4)
            .as("maxsim_q"))
        .persist()
      val dotTop = scored.orderBy(col("dot").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(1L).as("in_dot_top10"))
      scored.orderBy(col("maxsim_q").desc, col("vec_id")).limit(10)
        .join(dotTop, Seq("vec_id"), "left")
        .select(col("vec_id"), col("maxsim_q"),
          when(col("label") === col("qlabel"), 1L).otherwise(0L).as("same_label"),
          coalesce(col("in_dot_top10"), lit(0L)).as("in_dot_top10"))
        .orderBy(col("maxsim_q").desc, col("vec_id"))
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS v
        FROM embeddings),
      q AS (SELECT v AS qvec, label AS qlabel FROM base WHERE vec_id = 0),
      scored AS (
        SELECT b.vec_id, b.label, q.qlabel,
          CAST(list_sum(list_transform(range(0, 4), j ->
            list_max(list_slice(
              list_transform(range(0, 16), p ->
                CAST(list_sum(list_transform(range(1, 17), t ->
                  q.qvec[CAST((p // 4) * 16 + t AS INTEGER)]
                  * b.v[CAST((p % 4) * 16 + t AS INTEGER)])) AS BIGINT)),
              CAST(j * 4 + 1 AS INTEGER), CAST(j * 4 + 4 AS INTEGER)))))
            AS BIGINT) AS maxsim_q,
          CAST(list_sum(list_transform(range(1, 65), t ->
            q.qvec[CAST(t AS INTEGER)] * b.v[CAST(t AS INTEGER)]))
            AS BIGINT) AS dot
        FROM base b CROSS JOIN q WHERE b.vec_id <> 0),
      dot_top AS (
        SELECT vec_id, CAST(1 AS BIGINT) AS in_dot_top10
        FROM scored ORDER BY dot DESC, vec_id LIMIT 10),
      ms_top AS (
        SELECT vec_id, maxsim_q, label, qlabel
        FROM scored ORDER BY maxsim_q DESC, vec_id LIMIT 10)
      SELECT m.vec_id, m.maxsim_q,
        CAST(CASE WHEN m.label = m.qlabel THEN 1 ELSE 0 END AS BIGINT)
          AS same_label,
        CAST(coalesce(d.in_dot_top10, 0) AS BIGINT) AS in_dot_top10
      FROM ms_top m LEFT JOIN dot_top d USING (vec_id)
      ORDER BY m.maxsim_q DESC, m.vec_id
    """))

  def defs: Seq[QueryDef] = Seq(q570, q571, q572)
}
