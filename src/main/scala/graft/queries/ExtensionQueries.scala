package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{Dedup, MinHashLSH, SimHash}
import graft.multimodal.Multimodal
import graft.queries.SqlMacros._
import graft.similarity.Knn
import graft.text.TextAnalysis._
import graft.text.TextFunctions._

/** Training-data-pipeline operators (the north-star extensions): dedup
  * family, similarity search, text analysis, multimodal plumbing — each
  * verified against a DuckDB oracle that reproduces the exact integer
  * arithmetic (see the module scaladocs for the scale design).
  */
object ExtensionQueries extends QueryGroup {

  /** Exact dedup via content digest: group on md5, keep min id. */
  private val q20 = QueryDef(
    "q20_dedup_exact",
    (spark, dir) => {
      Dedup.exactGroups(Tables.documents(spark, dir), "doc_id", "text")
        .select(col("content_md5"), col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    },
    Some("""
      SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
        CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY text ORDER BY keep_id
    """))

  /** MinHash + banded LSH candidate pairs with estimated Jaccard
    * (16 hashes, 4 bands × 4 rows, 3-word shingles). Runs with the
    * template-bucket cap ON (buckets > 2 docs dropped before the
    * quadratic join) so the capped scale path is the oracle-verified
    * one; the cap is deliberately low at test SF so it provably fires. */
  private val q21 = QueryDef(
    "q21_dedup_minhash_lsh",
    (spark, dir) => {
      MinHashLSH.corpusNearDuplicates(spark, dir)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      docs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM docs CROSS JOIN (SELECT unnest(range(16)) AS j) t),
      bands AS (
        SELECT doc_id, j//4 AS band,
          list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
            (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
        FROM sigs GROUP BY doc_id, j//4),
      ok AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 2),
      bands_ok AS (
        SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_ok a JOIN bands_ok b
          ON a.band=b.band AND a.bucket=b.bucket AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
        CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE)/16.0 AS est_jaccard
      FROM cand
      JOIN sigs sa ON sa.doc_id = doc_a
      JOIN sigs sb ON sb.doc_id = doc_b AND sa.j = sb.j
      GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
    """))

  /** SimHash 30-bit fingerprints (token ±1 votes per bit). */
  private val q22 = QueryDef(
    "q22_dedup_simhash",
    (spark, dir) => {
      SimHash.fingerprints(Tables.documents(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
      hashes AS (
        SELECT doc_id, ${duckPolyHashOf("tok")} AS h FROM toks),
      votes AS (
        SELECT doc_id, t.b, sum(2 * ((h >> t.b) & 1) - 1) AS vote
        FROM hashes CROSS JOIN (SELECT unnest(range(30)) AS b) t
        GROUP BY doc_id, t.b)
      SELECT doc_id,
        CAST(sum(CASE WHEN vote >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id
    """))

  /** Exact 3-gram Jaccard over prefix-blocked candidate pairs, with the
    * boilerplate-block cap ON (blocks > 2 docs dropped before the
    * quadratic join — the capped path is the oracle-verified one; the
    * cap is deliberately low at test SF so it provably fires). */
  private val q23 = QueryDef(
    "q23_dedup_ngram_jaccard",
    (spark, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, prefixLen = 24, minJaccard = 0.0, maxBlockSize = Some(2))
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, substr(text,1,24) AS block,
          list_distinct([substr(text,i,3) for i in range(1, len(text)-1)]) AS grams
        FROM documents),
      ok AS (
        SELECT block FROM g GROUP BY block HAVING count(*) <= 2),
      g_ok AS (
        SELECT g.* FROM g JOIN ok USING (block)),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          len(list_intersect(a.grams, b.grams)) AS i,
          len(a.grams) AS la, len(b.grams) AS lb
        FROM g_ok a JOIN g_ok b ON a.block = b.block AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, CAST(i AS DOUBLE)/(la + lb - i) AS jaccard
      FROM pairs ORDER BY doc_a, doc_b
    """))

  /** Embedding near-dup pairs: label-blocked quantized-cosine self-join,
    * giant-block cap ON (blocks > 55 vectors dropped before the
    * quadratic join; the cap provably fires at test SF). */
  private val q24 = QueryDef(
    "q24_dedup_embedding_cosine",
    (spark, dir) => {
      Knn.similarPairsWithinBlocks(Tables.embeddings(spark, dir),
        "vec_id", "embedding", "label", minCosine = 0.35, maxBlockSize = Some(55))
        .orderBy("block", "id_a", "id_b")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, label,
          $duckQuantVec AS qv
        FROM embeddings),
      ok AS (
        SELECT label FROM q GROUP BY label HAVING count(*) <= 55),
      n AS (
        SELECT vec_id, q.label, qv,
          CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq
        FROM q JOIN ok USING (label)),
      p AS (
        SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
          CAST(list_sum(list_transform(range(1, len(a.qv)+1), i -> a.qv[i]*b.qv[i])) AS BIGINT) AS dot,
          a.nsq AS na, b.nsq AS nb
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      SELECT block, id_a, id_b,
        CAST(dot AS DOUBLE)/sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)) AS cosine
      FROM p
      WHERE CAST(dot AS DOUBLE)/sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)) > 0.35
      ORDER BY block, id_a, id_b
    """))

  /** Brute-force cosine top-10 against vec_id=0 (the exact-ANN baseline;
    * plans as broadcast + TakeOrderedAndProject). */
  private val q25 = QueryDef(
    "q25_knn_bruteforce",
    (spark, dir) =>
      Knn.bruteForceTopK(Tables.embeddings(spark, dir), "vec_id", "embedding", queryId = 0L, k = 10),
    Some(s"""
      WITH q AS (
        SELECT vec_id, $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nsq FROM q),
      qq AS (SELECT qv AS query_qv, nsq AS query_nsq FROM n WHERE vec_id = 0)
      SELECT n.vec_id,
        CAST(CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*query_qv[i])) AS BIGINT) AS DOUBLE)
          / sqrt(CAST(nsq AS DOUBLE)*CAST(query_nsq AS DOUBLE)) AS cosine
      FROM n CROSS JOIN qq WHERE n.vec_id <> 0
      ORDER BY cosine DESC, vec_id LIMIT 10
    """))

  /** Stopword-profile language ID with deterministic argmax. */
  private val q26 = QueryDef(
    "q26_text_langid",
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
      val scoreCols = languageScores(col("text")).map { case (l, c) => c.cast("long").as(s"score_$l") }
      d.select((col("doc_id") +: scoreCols :+ languageId(col("text")).as("predicted_lang")): _*)
        .orderBy("doc_id")
    },
    Some {
      val hits = Stopwords.map { case (l, ws) =>
        s"len(list_filter($duckTokens, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS score_$l"
      }.mkString(",\n          ")
      val best = s"greatest(${Stopwords.map(s => "score_" + s._1).mkString(",")})"
      val chain = Stopwords.map(s => s"WHEN score_${s._1} > 0 AND score_${s._1} = $best THEN '${s._1}'").mkString(" ")
      s"""
      WITH s AS (
        SELECT doc_id,
          $hits
        FROM documents)
      SELECT doc_id, score_en, score_es, score_de, score_fr,
        CASE $chain ELSE 'und' END AS predicted_lang
      FROM s ORDER BY doc_id
      """
    })

  /** Quality features + composite score (pure-arithmetic heuristics). */
  private val q27 = QueryDef(
    "q27_text_quality",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), qualityFeatures(col("text")).as("q"))
        .select(col("doc_id"), col("q.*"))
        .orderBy("doc_id")
    },
    Some {
      val allStops = Stopwords.flatMap(_._2).map("'" + _ + "'").mkString(",")
      s"""
      WITH f AS (
        SELECT doc_id,
          CAST(len(text) AS BIGINT) AS n_chars,
          CAST(len($duckTokens) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct($duckTokens)) AS BIGINT) AS n_distinct_tokens,
          CAST(list_sum(list_transform($duckTokens, t -> CAST(len(t) AS BIGINT))) AS BIGINT) AS chars_in_toks,
          CAST(len(list_filter($duckTokens, t -> t IN ($allStops))) AS BIGINT) AS stop_hits
        FROM documents)
      SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
        CAST(chars_in_toks AS DOUBLE)/n_tokens AS avg_token_len,
        CAST(stop_hits AS DOUBLE)/n_tokens AS stopword_ratio,
        CAST(n_distinct_tokens AS DOUBLE)/n_tokens AS type_token_ratio,
        (CASE WHEN CAST(chars_in_toks AS DOUBLE)/n_tokens >= 3
                AND CAST(chars_in_toks AS DOUBLE)/n_tokens <= 10 THEN 1.0 ELSE 0.0 END
         + least(CAST(stop_hits AS DOUBLE)/n_tokens * 5.0, 1.0)
         + least(CAST(n_distinct_tokens AS DOUBLE)/n_tokens * 2.0, 1.0)) / 3.0 AS quality_score
      FROM f ORDER BY doc_id
      """
    })

  /** Token statistics + BPE-ish subword estimate. */
  private val q28 = QueryDef(
    "q28_token_stats",
    (spark, dir) =>
      tokenStats(Tables.documents(spark, dir), "doc_id", "text").orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
        CAST(len(text) AS BIGINT) AS n_chars,
        CAST(len($duckTokens) AS BIGINT) AS n_words,
        CAST(len(list_distinct($duckTokens)) AS BIGINT) AS n_distinct_words,
        CAST(floor((len(text)+3)/4) AS BIGINT) AS est_bpe_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_regex_tokens
      FROM documents ORDER BY doc_id
    """))

  /** Dual-modulus rolling-hash content fingerprint. */
  private val q29 = QueryDef(
    "q29_text_fingerprint",
    (spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), graft.functions.expressions.text_fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id,
          ${duckPolyHashOf("text")} AS h1,
          list_reduce(list_prepend(0::BIGINT, [ord(c)::BIGINT for c in str_split(text,'')]),
                      (h,c) -> (h*131+c) % 998244353) AS h2
        FROM documents)
      SELECT doc_id, h1*998244353 + h2 AS fp FROM h ORDER BY doc_id
    """))

  /** Multimodal metadata extraction through the batch-decode plumbing
    * (mapPartitions + injectable codec; STUB codec — deterministic fake
    * dims from a byte-level polynomial hash the oracle reproduces). */
  private val q30 = QueryDef(
    "q30_multimodal_decode",
    (spark, dir) => {
      val assets = Multimodal.assetsFromText(Tables.documents(spark, dir), "doc_id", "text")
      Multimodal.decodeAssets(assets).toDF().orderBy("asset_id")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id AS asset_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          ${duckPolyHashOf("text")} AS hv
        FROM documents)
      SELECT asset_id, kind, n_bytes,
        16 + hv % 624 AS width, 16 + (hv // 624) % 464 AS height,
        CAST(3 AS BIGINT) AS channels
      FROM h ORDER BY asset_id
    """))

  /** Classifier evaluation in-engine: q26's stopword language-ID scored
    * against the declared `lang` label as a per-class precision/recall/F1
    * table — tp/fp/fn derived from the (declared, predicted) confusion
    * matrix, PRF in exact ppm (F1 = 2tp/(2tp+fp+fn), so no float mean of
    * ratios). Classes the predictor can't emit (zh here) show recall 0
    * and NULL precision — the honest blind-spot signal; spurious 'und'
    * predictions cost recall but no class's precision.
    *
    * Scale shape: one documents scan → a |langs|²-bounded confusion
    * matrix; tp/fn and fp come from two aggregations OF THAT MATRIX
    * (never the corpus), joined class-to-class. Counts·10^6 stay in
    * Long out to 9·10^12 docs per class. */
  private val q214 = QueryDef(
    "q214_langid_confusion",
    (spark, dir) => {
      val conf = Tables.documents(spark, dir)
        .select(col("lang"), languageId(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
      val tpfn = conf.groupBy(col("lang"))
        .agg(sum(when(col("pred") === col("lang"), col("n")).otherwise(0L)).as("tp"),
          sum(when(col("pred") =!= col("lang"), col("n")).otherwise(0L)).as("fn"))
      val fps = conf.filter(col("pred") =!= col("lang"))
        .groupBy(col("pred")).agg(sum(col("n")).as("fp"))
      tpfn.join(fps, col("lang") === col("pred"), "left")
        .withColumn("fp", coalesce(col("fp"), lit(0L)))
        .select(col("lang"), col("tp"), col("fp"), col("fn"),
          expr("tp * 1000000L div (tp + fp)").as("precision_ppm"),
          expr("tp * 1000000L div (tp + fn)").as("recall_ppm"),
          expr("2 * tp * 1000000L div (2 * tp + fp + fn)").as("f1_ppm"))
        .orderBy(col("lang"))
    },
    Some {
      val hits = Stopwords.map { case (l, ws) =>
        s"len(list_filter($duckTokens, t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS score_$l"
      }.mkString(",\n          ")
      val best = s"greatest(${Stopwords.map(s => "score_" + s._1).mkString(",")})"
      val chain = Stopwords.map(s => s"WHEN score_${s._1} > 0 AND score_${s._1} = $best THEN '${s._1}'").mkString(" ")
      s"""
      WITH s AS (
        SELECT lang,
          $hits
        FROM documents),
      p AS (SELECT lang, CASE $chain ELSE 'und' END AS pred FROM s),
      conf AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
      tpfn AS (
        SELECT lang,
          CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN pred <> lang THEN n ELSE 0 END) AS BIGINT) AS fn
        FROM conf GROUP BY lang),
      fps AS (
        SELECT pred, CAST(sum(n) AS BIGINT) AS fp
        FROM conf WHERE pred <> lang GROUP BY pred)
      SELECT lang, tp, coalesce(fp, 0) AS fp, fn,
        CAST(tp * 1000000 // (tp + coalesce(fp, 0)) AS BIGINT) AS precision_ppm,
        CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
        CAST(2 * tp * 1000000 // (2 * tp + coalesce(fp, 0) + fn) AS BIGINT) AS f1_ppm
      FROM tpfn LEFT JOIN fps ON lang = pred
      ORDER BY lang
      """
    })

  /** Transitivity audit of the LSH candidate graph (q21's edges): the
    * global clustering coefficient 3·triangles/wedges. Dedup pipelines
    * that treat LSH buckets as clusters silently assume near-dup is
    * transitive; this measures how true that is — low transitivity
    * means bucket-merging (q56's connected components) is chaining
    * unrelated docs through hubs and the threshold needs raising.
    *
    * Scale shape: the candidate edge list is already bucket-capped
    * (O(docs·bands)); wedges are Σ deg·(deg−1)/2 from one degree agg,
    * triangles are the q95 sorted-edge double-equi-join + semi-join —
    * no shape here exceeds the candidate graph's own size. */
  private val q258 = QueryDef(
    "q258_lsh_transitivity",
    (spark, dir) => {
      val e = MinHashLSH.corpusNearDuplicates(spark, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val wedges = deg.agg(
        sum(expr("d * (d - 1) DIV 2")).as("n_wedges"),
        count(lit(1)).as("n_vertices"))
      val tri = e.select(col("a"), col("b").as("m"))
        .join(e.select(col("a").as("m"), col("b").as("c")), Seq("m"))
        .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
          col("n_triangles"),
          expr("CAST(CASE WHEN n_wedges = 0 THEN NULL" +
            " ELSE 3 * n_triangles * 1000000 DIV n_wedges END AS BIGINT)")
            .as("transitivity_ppm"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      docs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM docs CROSS JOIN (SELECT unnest(range(16)) AS j) t),
      bands AS (
        SELECT doc_id, j//4 AS band,
          list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
            (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
        FROM sigs GROUP BY doc_id, j//4),
      ok AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 2),
      bands_ok AS (
        SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
      e AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM bands_ok a JOIN bands_ok b
          ON a.band=b.band AND a.bucket=b.bucket AND a.doc_id < b.doc_id),
      deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
      w AS (
        SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
          CAST(count(*) AS BIGINT) AS n_vertices
        FROM deg),
      tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
      ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      SELECT ne.n_edges, w.n_vertices, w.n_wedges, tri.n_triangles,
        CAST(CASE WHEN w.n_wedges = 0 THEN NULL
             ELSE 3 * tri.n_triangles * 1000000 // w.n_wedges END AS BIGINT)
          AS transitivity_ppm
      FROM ne, w, tri
    """))

  /** LSH band-shape sweep: the same 16 minhashes banded as 8×2 / 4×4 /
    * 2×8 (bands × rows), reporting candidate volume, mean estimated
    * Jaccard, and how many candidates clear 0.5 — the
    * precision/recall dial of banding read as one table (more rows per
    * band ⇒ fewer, better candidates). Signatures are computed ONCE
    * and re-banded per shape: banding is pure arithmetic over the
    * signature array, so the sweep costs three cheap passes over the
    * signature table, not three corpus scans. Means stay integer:
    * Σ match-counts · 10⁶ DIV (16 · pairs).
    *
    * Scale shape: per shape, the capped-bucket equi-join of q21 —
    * O(docs × bands) shuffle, template buckets dropped pre-join. */
  private val q261 = QueryDef(
    "q261_lsh_band_sweep",
    (spark, dir) => {
      val sigs = MinHashLSH.signatures(
        Tables.documents(spark, dir), "doc_id", "text")
      def shape(rpb: Int) = {
        val cfg = MinHashLSH.Config(numHashes = 16, rowsPerBand = rpb)
        MinHashLSH.candidatePairs(sigs, "doc_id", cfg, maxBucketSize = Some(2))
          .select(expr("CAST(floor(est_jaccard * 16 + 0.5) AS BIGINT)").as("m"))
          .agg(count(lit(1)).as("n_cand_pairs"), sum(col("m")).as("msum"),
            sum(when(col("m") >= 8L, 1L).otherwise(0L)).as("n_ge_50"))
          .select(lit(rpb.toLong).as("rows_per_band"),
            lit((16 / rpb).toLong).as("n_bands"),
            col("n_cand_pairs"),
            expr("CAST(CASE WHEN n_cand_pairs = 0 THEN NULL" +
              " ELSE CAST(msum AS DECIMAL(38,0)) * 1000000 DIV (16 * n_cand_pairs)" +
              " END AS BIGINT)").as("mean_est_ppm"),
            col("n_ge_50"))
      }
      shape(2).unionAll(shape(4)).unionAll(shape(8)).orderBy(col("rows_per_band"))
    },
    Some {
      def block(rpb: Int) = s"""
        SELECT CAST($rpb AS BIGINT) AS rows_per_band,
          CAST(${16 / rpb} AS BIGINT) AS n_bands,
          CAST(count(*) AS BIGINT) AS n_cand_pairs,
          CAST(CASE WHEN count(*) = 0 THEN NULL
               ELSE CAST(sum(m) AS HUGEINT) * 1000000 // (16 * count(*)) END AS BIGINT)
            AS mean_est_ppm,
          CAST(sum(CASE WHEN m >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_50
        FROM (
          WITH bands AS (
            SELECT doc_id, j//$rpb AS band,
              list_reduce(list_prepend(0::BIGINT, list(m ORDER BY j)),
                (a,x) -> ((a*1000000007) % 2147483647 + x) % 2147483647) AS bucket
            FROM sigs GROUP BY doc_id, j//$rpb),
          ok AS (
            SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 2),
          bands_ok AS (SELECT b.* FROM bands b JOIN ok USING (band, bucket)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_ok a JOIN bands_ok b
              ON a.band=b.band AND a.bucket=b.bucket AND a.doc_id < b.doc_id)
          SELECT CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT) AS m
          FROM cand
          JOIN sigs sa ON sa.doc_id = doc_a
          JOIN sigs sb ON sb.doc_id = doc_b AND sa.j = sb.j
          GROUP BY doc_a, doc_b)"""
      s"""
      WITH toks AS (
        SELECT doc_id, list_transform($duckTokens,
          tok -> ${duckPolyHashOf("tok")}) AS th
        FROM documents),
      docs AS (
        SELECT doc_id, list_distinct([
            ((th[i]*31 + th[i+1])*31 + th[i+2]) % 1000000007
            for i in range(1, len(th)-1)]) AS sh
        FROM toks WHERE len(th) >= 3),
      sigs AS (
        SELECT doc_id, t.j,
          list_min(list_transform(sh, h -> (h*(2*t.j+1) + 7919*t.j) % 1000000007)) AS m
        FROM docs CROSS JOIN (SELECT unnest(range(16)) AS j) t)
      ${Seq(2, 4, 8).map(block).mkString(" UNION ALL ")}
      ORDER BY rows_per_band
      """
    })

  def defs: Seq[QueryDef] =
    Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q214, q258, q261)
}
