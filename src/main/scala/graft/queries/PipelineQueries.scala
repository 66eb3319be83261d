package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic._
import graft.operators.{RangeJoin, Sampling}
import graft.queries.SqlMacros._
import graft.text.{TextAnalysis, TfIdf}

/** Training-data-pipeline operators, round 2: binned range join,
  * TF-IDF term extraction, deterministic sampling / splitting. */
object PipelineQueries extends QueryGroup {

  /** Binned range join (graft.operators.RangeJoin): views attributed to
    * the 10-minute window after each purchase by the same user. The bin
    * trick turns the `lo <= t < hi` condition into an equi-join on
    * (bin, user_id) — hash-planable at any scale, where the naive theta
    * join is a nested loop. Oracle runs the naive form. */
  private val q43 = QueryDef(
    "q43_range_join_binned",
    (spark, dir) => {
      val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), epochS(col("ts")).as("t"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("t"))
      val promos = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("promo_id"), col("user_id"),
          col("t").as("lo"), (col("t") + 600L).as("hi"))
      RangeJoin.pointInInterval(views, promos, "t", "lo", "hi",
        binWidth = 600L, keys = Seq("user_id"))
        .groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_views_10min"))
        .orderBy("promo_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id,
          CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t, event_type
        FROM events WHERE ts IS NOT NULL),
      v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
      p AS (SELECT event_id AS promo_id, user_id, t AS lo, t + 600 AS hi
            FROM e WHERE event_type = 'purchase')
      SELECT promo_id, count(*) AS n_views_10min
      FROM v JOIN p ON v.user_id = p.user_id AND v.t >= p.lo AND v.t < p.hi
      GROUP BY promo_id ORDER BY promo_id
    """))

  /** TF-IDF top-3 terms per document (graft.text.TfIdf): rational idf
    * (N+1)/(df+1) for bit-exact cross-engine scores. */
  private val q44 = QueryDef(
    "q44_tfidf_top_terms",
    (spark, dir) => {
      TfIdf.topTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)
        .select(col("doc").as("doc_id"), col("rank"), col("token"),
          col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rank")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($duckTokens) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT doc_id, token, tf, df,
          CAST(tf * (n + 1) AS DOUBLE) / (df + 1) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n)
      SELECT doc_id, CAST(row_number() OVER w AS BIGINT) AS rank, token,
        CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      FROM scored
      WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, token)
      QUALIFY row_number() OVER w <= 3
      ORDER BY doc_id, rank
    """))

  /** Deterministic stratified sample + key-consistent train/test split
    * (graft.operators.Sampling): segment-dependent sampling fractions,
    * then an 80/20 split on the customer key — every surviving row is
    * decided by integer hash arithmetic any engine reproduces. */
  private val q45 = QueryDef(
    "q45_sample_split",
    (spark, dir) => {
      val sampled = Sampling.stratifiedSample(
        Tables.customer(spark, dir), col("c_mktsegment"), col("c_custkey"),
        Map("BUILDING" -> 0.5, "AUTOMOBILE" -> 0.25, "MACHINERY" -> 0.25,
            "FURNITURE" -> 1.0, "HOUSEHOLD" -> 0.1))
      sampled
        .withColumn("split", Sampling.splitColumn(col("c_custkey"), testFraction = 0.2))
        .groupBy(col("c_mktsegment"), col("split"))
        .agg(count(lit(1)).as("n"), sum(cents(col("c_acctbal"))).as("balance_cents"))
        .orderBy("c_mktsegment", "split")
    },
    Some("""
      WITH h AS (
        SELECT c_mktsegment, c_acctbal,
          ((c_custkey % 2147483648) * 2654435761) % 4294967296 AS hs,
          ((c_custkey % 2147483648) * 1779033703) % 4294967296 AS ht
        FROM customer),
      sampled AS (
        SELECT c_mktsegment, c_acctbal, ht FROM h
        WHERE hs % 10000 < CASE c_mktsegment
          WHEN 'BUILDING' THEN 5000 WHEN 'AUTOMOBILE' THEN 2500
          WHEN 'MACHINERY' THEN 2500 WHEN 'FURNITURE' THEN 10000
          WHEN 'HOUSEHOLD' THEN 1000 ELSE -1 END)
      SELECT c_mktsegment,
        CASE WHEN ht % 10000 < 2000 THEN 'test' ELSE 'train' END AS split,
        count(*) AS n,
        CAST(sum(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS balance_cents
      FROM sampled
      GROUP BY 1, 2 ORDER BY c_mktsegment, split
    """))

  /** Text normalization (the canonical pre-dedup cleanup): lowercase,
    * strip non-alphanumerics to spaces, collapse runs, trim — then the
    * canonical digest and post-normalization token count. Narrow,
    * codegen-fused projection. */
  private val q46 = QueryDef(
    "q46_text_normalize",
    (spark, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          norm.as("norm_text"),
          md5(norm).as("norm_md5"),
          graft.functions.expressions.token_count(norm).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH n AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS norm_text
        FROM documents)
      SELECT doc_id, norm_text, md5(norm_text) AS norm_md5,
        CAST(len(${duckTokensOf("norm_text")}) AS BIGINT) AS n_tokens
      FROM n ORDER BY doc_id
    """))

  /** Per-label embedding statistics: member count and the per-dimension
    * floor-mean quantized centroid. Reduced by the native `vector_sum`
    * aggregate (one long[64] buffer, one fused loop per row, map-side
    * partials), unpivoted to (label, dim) rows only AFTER the reduce —
    * the n×64-row posexplode shuffle never happens. */
  private val q47 = QueryDef(
    "q47_label_centroids",
    (spark, dir) => {
      val qv = graft.functions.expressions.quantize_vec(col("embedding"))
      Tables.embeddings(spark, dir)
        .select(col("label"), qv.as("qv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          graft.functions.VectorAggregates.vector_sum(col("qv"), 64).as("s"))
        .select(col("label"), col("n"), posexplode(col("s")).as(Seq("dim", "s")))
        .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
          floor(col("s") / col("n")).as("centroid_q"))
        .orderBy("label", "dim")
    },
    Some(s"""
      WITH q AS (
        SELECT label, $duckQuantVec AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS d)
      SELECT label, CAST(d - 1 AS BIGINT) AS dim, count(*) AS n,
        CAST(floor(sum(qv[d])/count(*)) AS BIGINT) AS centroid_q
      FROM q CROSS JOIN dims GROUP BY label, d ORDER BY label, dim
    """))

  /** Sign-LSH approximate top-k (graft.similarity.Knn.lshTopK): the
    * corpus is bucketed by 8 deterministic hyperplane signs (a narrow
    * codegen'd projection), and only the query's bucket is scored — the
    * oracle reproduces the full hyperplane arithmetic, so the verified
    * result covers bucketing AND scoring. */
  private val q50 = QueryDef(
    "q50_lsh_ann_topk",
    (spark, dir) => {
      graft.similarity.Knn.lshTopK(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryId = 0L, k = 10, planes = 8)
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, $duckQuantVec AS qv
        FROM embeddings),
      proj AS (
        SELECT vec_id, t.p,
          list_sum(list_transform(range(1, len(qv)+1),
            i -> qv[i] * ((t.p*2654435761 + (i-1)*40503) % 2001 - 1000))) AS pr
        FROM q CROSS JOIN (SELECT unnest(range(8)) AS p) t),
      buckets AS (
        SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id),
      n AS (
        SELECT q.vec_id, qv, bucket,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q JOIN buckets USING (vec_id)),
      qq AS (SELECT qv AS q_qv, nsq AS q_nsq, bucket AS q_bucket FROM n WHERE vec_id = 0)
      SELECT n.vec_id,
        CAST(CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*q_qv[i])) AS BIGINT) AS DOUBLE)
          / sqrt(CAST(nsq AS DOUBLE)*CAST(q_nsq AS DOUBLE)) AS cosine
      FROM n CROSS JOIN qq
      WHERE n.vec_id <> 0 AND n.bucket = q_bucket
      ORDER BY cosine DESC, vec_id LIMIT 10
    """))

  /** The full LLM-preprocessing funnel as ONE query: normalize → exact
    * dedup → language filter → quality filter → deterministic sample,
    * reporting docs/tokens retained at every stage. Composition of the
    * individually-verified operators (q46/q20/q26/q27/q45) in a single
    * pass: per-doc flags are computed once (one scan + one md5-window
    * shuffle for the dedup survivor), the five stage aggregates are
    * conditional sums in one hash aggregate, and the stage rows are
    * unpivoted from that single row — the whole funnel never re-scans. */
  private val q51 = QueryDef(
    "q51_llm_funnel",
    (spark, dir) => {
      import graft.functions.expressions.token_count
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val wDup = Window.partitionBy(col("m"))
      val flagged = Tables.documents(spark, dir)
        .select(col("doc_id"), norm.as("t"))
        .withColumn("m", md5(col("t")))
        .withColumn("tc", token_count(col("t")).cast("long"))
        .withColumn("keep", col("doc_id") === min(col("doc_id")).over(wDup))
        .withColumn("en", TextAnalysis.languageId(col("t")) === "en")
        .withColumn("ok", TextAnalysis.qualityFeatures(col("t")).getField("quality_score") >= 0.5)
        .withColumn("smp", Sampling.keyHash(col("doc_id")) % 10000L < 5000L)
      val c2 = col("keep")
      val c3 = c2 && col("en")
      val c4 = c3 && col("ok")
      val c5 = c4 && col("smp")
      val agg = flagged.agg(
        count(lit(1)).as("n1"), sum(col("tc")).as("t1"),
        count(when(c2, lit(1))).as("n2"), sum(when(c2, col("tc"))).as("t2"),
        count(when(c3, lit(1))).as("n3"), sum(when(c3, col("tc"))).as("t3"),
        count(when(c4, lit(1))).as("n4"), sum(when(c4, col("tc"))).as("t4"),
        count(when(c5, lit(1))).as("n5"), sum(when(c5, col("tc"))).as("t5"))
      agg.select(expr(
        """stack(5,
           '1_normalized', n1, t1,
           '2_deduped', n2, t2,
           '3_english', n3, t3,
           '4_quality', n4, t4,
           '5_sampled', n5, t5) AS (stage, n_docs, n_tokens)"""))
        .orderBy("stage")
    },
    Some {
      val toks = duckTokensOf("t")
      val hits = TextAnalysis.Stopwords.map { case (l, ws) =>
        s"len(list_filter($toks, x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS score_$l"
      }.mkString(", ")
      val best = s"greatest(${TextAnalysis.Stopwords.map(s => "score_" + s._1).mkString(",")})"
      val chain = TextAnalysis.Stopwords
        .map(s => s"WHEN score_${s._1} > 0 AND score_${s._1} = $best THEN '${s._1}'").mkString(" ")
      val allStops = TextAnalysis.Stopwords.flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH n AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS t
        FROM documents),
      f AS (
        SELECT doc_id, t,
          CAST(len($toks) AS BIGINT) AS tc,
          CAST(len(list_distinct($toks)) AS BIGINT) AS dtc,
          CAST(list_sum(list_prepend(0::BIGINT,
            list_transform($toks, x -> CAST(len(x) AS BIGINT)))) AS BIGINT) AS cit,
          CAST(len(list_filter($toks, x -> x IN ($allStops))) AS BIGINT) AS stop_hits,
          $hits,
          doc_id = min(doc_id) OVER (PARTITION BY md5(t)) AS keep,
          ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < 5000 AS smp
        FROM n),
      g AS (
        SELECT doc_id, tc, keep, smp,
          (CASE $chain ELSE 'und' END) = 'en' AS en,
          (CASE WHEN CAST(cit AS DOUBLE)/tc >= 3 AND CAST(cit AS DOUBLE)/tc <= 10
                THEN 1.0 ELSE 0.0 END
           + least(CAST(stop_hits AS DOUBLE)/tc * 5.0, 1.0)
           + least(CAST(dtc AS DOUBLE)/tc * 2.0, 1.0)) / 3.0 >= 0.5 AS ok
        FROM f)
      SELECT stage, n_docs, n_tokens FROM (
        SELECT '1_normalized' AS stage, count(*) AS n_docs,
          CAST(sum(tc) AS BIGINT) AS n_tokens FROM g
        UNION ALL
        SELECT '2_deduped', count(*) FILTER (keep),
          CAST(sum(tc) FILTER (keep) AS BIGINT) FROM g
        UNION ALL
        SELECT '3_english', count(*) FILTER (keep AND en),
          CAST(sum(tc) FILTER (keep AND en) AS BIGINT) FROM g
        UNION ALL
        SELECT '4_quality', count(*) FILTER (keep AND en AND ok),
          CAST(sum(tc) FILTER (keep AND en AND ok) AS BIGINT) FROM g
        UNION ALL
        SELECT '5_sampled', count(*) FILTER (keep AND en AND ok AND smp),
          CAST(sum(tc) FILTER (keep AND en AND ok AND smp) AS BIGINT) FROM g)
      ORDER BY stage
      """
    })

  /** DataFrameNaFunctions surface (fill/replace) over a deterministic
    * null pattern: error events null their value, na.fill sentinels it,
    * na.replace renames a category — the cleaning idioms of intake
    * pipelines, all narrow codegen projections. */
  private val q54 = QueryDef(
    "q54_na_functions",
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"),
          when(col("event_type") === "error", lit(null))
            .otherwise(cents(col("value"))).as("vc"))
      ev.na.fill(Map("vc" -> -1L))
        .na.replace("event_type", Map("signup" -> "registration"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("vc_cents"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'registration' ELSE event_type END AS event_type,
          coalesce(CASE WHEN event_type = 'error' THEN NULL
                        ELSE CAST(floor(value*100 + 0.5) AS BIGINT) END, -1) AS vc
        FROM events)
      SELECT event_type, count(*) AS n, CAST(sum(vc) AS BIGINT) AS vc_cents
      FROM e GROUP BY event_type ORDER BY event_type
    """))

  /** Centroid-separation matrix: signed squared cosine (exact ppm)
    * between every pair of q47's label centroids — the
    * cluster-separation diagnostic behind classifier-margin and
    * label-confusion analysis. cos² = (a·b)²/(|a|²|b|²) is a RATIONAL
    * function of the integer centroids, so unlike cosine itself it
    * needs no square root and reproduces bitwise in both engines; the
    * sign of the dot product is kept as a factor (antipodal vs
    * orthogonal centroids differ).
    *
    * Scale shape: after q47's one corpus-scan centroid aggregate, every
    * object is label-vocabulary sized: a k×64 exploded centroid table
    * self-joins on the dimension key (≤ k² pairs), norms broadcast
    * back. Products run in decimal(38,0): dot² · 10⁶ reaches ~10²¹. */
  private val q158 = QueryDef(
    "q158_centroid_separation",
    (spark, dir) => {
      val qv = graft.functions.expressions.quantize_vec(col("embedding"))
      val cent = Tables.embeddings(spark, dir)
        .select(col("label"), qv.as("qv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          graft.functions.VectorAggregates.vector_sum(col("qv"), 64).as("s"))
        .select(col("label"), col("n"), posexplode(col("s")).as(Seq("dim", "sv")))
        .select(col("label"), col("dim"),
          floor(col("sv") / col("n")).cast("long").as("c"))
      val norms = cent.groupBy(col("label"))
        .agg(sum(col("c") * col("c")).as("n2"))
      val a = cent.select(col("label").as("label_a"), col("dim"), col("c").as("ca"))
      val b = cent.select(col("label").as("label_b"), col("dim"), col("c").as("cb"))
      a.join(b, Seq("dim"))
        .filter(col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(sum(col("ca") * col("cb")).as("dot"))
        .join(broadcast(norms.select(col("label").as("label_a"), col("n2").as("n2a"))),
          Seq("label_a"))
        .join(broadcast(norms.select(col("label").as("label_b"), col("n2").as("n2b"))),
          Seq("label_b"))
        .select(col("label_a"), col("label_b"), col("dot"),
          expr("""CAST(CASE WHEN dot < 0 THEN -1 ELSE 1 END
                  * (CAST(dot AS DECIMAL(38,0)) * dot * 1000000)
                  DIV (CAST(n2a AS DECIMAL(38,0)) * n2b) AS BIGINT)""")
            .as("signed_cos2_ppm"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some(s"""
      WITH q AS (
        SELECT label,
          $duckQuantVec AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS d),
      cent AS (
        SELECT label, d, CAST(floor(sum(qv[d]) / count(*)) AS BIGINT) AS c
        FROM q CROSS JOIN dims GROUP BY label, d),
      norms AS (SELECT label, CAST(sum(c*c) AS BIGINT) AS n2 FROM cent GROUP BY 1),
      pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
          CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
        GROUP BY 1, 2)
      SELECT p.label_a, p.label_b, p.dot,
        CAST((CASE WHEN p.dot < 0 THEN -1 ELSE 1 END)
          * (CAST(p.dot AS HUGEINT) * p.dot * 1000000)
          // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS signed_cos2_ppm
      FROM pairs p
      JOIN norms na ON na.label = p.label_a
      JOIN norms nb ON nb.label = p.label_b
      ORDER BY p.label_a, p.label_b
    """))

  /** Deterministic experiment assignment + readout: users hash-split
    * 50/50 into control/treatment with the same multiplicative key
    * hash the samplers use (q45) — assignment is a pure function of
    * user_id, so it reproduces across engines, runs, and days, the
    * property a real experiment system needs — then the A/B headline
    * table: users, converters (≥1 purchase), conversion ppm, purchase
    * revenue, ARPU in cents. q119's chi-square consumes exactly this
    * contingency shape for significance.
    *
    * Scale shape: one conditional per-user aggregate (user-keyed
    * shuffle), then a 2-row arm rollup. The hash is codegen'd integer
    * arithmetic on the key — no UDF. */
  private val q163 = QueryDef(
    "q163_experiment_readout",
    (spark, dir) => {
      val perUser = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), cents(col("value")).as("vc"))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"),
          sum(when(col("event_type") === "purchase", col("vc")).otherwise(0L))
            .as("rev_cents"))
        .withColumn("arm",
          when(Sampling.keyHash(col("user_id")) % 2L === 0L, "control")
            .otherwise("treatment"))
      perUser.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"),
          sum(col("rev_cents")).as("revenue_cents"))
        .select(col("arm"), col("n_users"), col("n_converted"),
          expr("CAST(CAST(n_converted AS DECIMAL(38,0)) * 1000000 DIV n_users AS BIGINT)")
            .as("conversion_ppm"),
          col("revenue_cents"),
          expr("CAST(revenue_cents DIV n_users AS BIGINT)").as("arpu_cents"))
        .orderBy(col("arm"))
    },
    Some("""
      WITH u AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
          sum(CASE WHEN event_type = 'purchase'
            THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS rev_cents
        FROM events GROUP BY 1),
      a AS (
        SELECT CASE WHEN (((user_id % 2147483648) * 2654435761) % 4294967296) % 2 = 0
            THEN 'control' ELSE 'treatment' END AS arm,
          converted, rev_cents
        FROM u),
      g AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
          CAST(sum(converted) AS BIGINT) AS n_converted,
          CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
        FROM a GROUP BY 1)
      SELECT arm, n_users, n_converted,
        CAST(CAST(n_converted AS HUGEINT) * 1000000 // n_users AS BIGINT)
          AS conversion_ppm,
        revenue_cents,
        CAST(revenue_cents // n_users AS BIGINT) AS arpu_cents
      FROM g ORDER BY arm
    """))

  /** Boilerplate-template detection by shared prefix: documents opening
    * with the same 64 characters are near-certainly instances of one
    * template (scraped nav headers, license stanzas, form letters); the
    * census buckets prefix-clusters by size — the planning input for a
    * template-strip pass, and the cheap complement to MinHash (which
    * q21 caps away exactly these). One row per cluster size: how many
    * templates, how many docs they cover.
    *
    * Scale shape: the prefix is hashed by the codegen'd polynomial
    * kernel on the scan, so only (hash, 1) pairs shuffle — never text;
    * two keyed aggregates take it to a ≤ max-cluster-size census. */
  private val q177 = QueryDef(
    "q177_boilerplate_prefixes",
    (spark, dir) => {
      val sizes = Tables.documents(spark, dir)
        .select(graft.functions.expressions.poly_hash(
          substring(col("text"), 1, 64)).as("pfx"))
        .groupBy(col("pfx")).agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
        .orderBy(col("cluster_size"))
    },
    Some(s"""
      WITH p AS (
        SELECT ${duckPolyHashOf("substr(text, 1, 64)")} AS pfx
        FROM documents),
      s AS (
        SELECT pfx, CAST(count(*) AS BIGINT) AS cluster_size
        FROM p GROUP BY pfx)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(cluster_size) AS BIGINT) AS n_docs
      FROM s GROUP BY cluster_size ORDER BY cluster_size
    """))

  def defs: Seq[QueryDef] = Seq(q43, q44, q45, q46, q47, q50, q51, q54, q158, q163, q177)
}
