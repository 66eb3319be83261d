package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.tokens_native
import graft.queries.SqlMacros._

/** Round-4 keyword/privacy/retrieval operators: RAKE keyword extraction
  * over the English corpus, the k-anonymity generalization-lattice
  * planner over customer quasi-identifiers, and Fagin's Threshold
  * Algorithm stopping depth over two ranked revenue lists — all
  * deterministic for the oracle gate.
  */
object KeywordQueries extends QueryGroup {

  /** The en stopword lexicon (TextAnalysis.Stopwords), inlined as SQL
    * literals so both engines split phrases identically. */
  private val EnStops = Seq("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")
  private val StopsSql = EnStops.map(w => s"'$w'").mkString(", ")

  /** One Expand-pass lattice measurement, shared verbatim by the Spark
    * implementation and the DuckDB oracle (`base` is a view name or an
    * inline subquery). grouping_id argument order must match Spark's
    * first-appearance column order (nat, seg, reg); bits MSB-first, so
    * (nat,seg)=1, (reg,seg)=4, (nat)=3, (reg)=6, (seg)=5, ()=7. */
  private def KanonLatticeSql(base: String): String = s"""
      WITH classes AS (
        SELECT CASE grouping_id(nat, seg, reg)
            WHEN 1 THEN 'nation,segment' WHEN 4 THEN 'region,segment'
            WHEN 3 THEN 'nation,*'       WHEN 6 THEN 'region,*'
            WHEN 5 THEN '*,segment'      ELSE '*,*' END AS node,
          CAST(CASE grouping_id(nat, seg, reg)
            WHEN 1 THEN 0 WHEN 4 THEN 1 WHEN 3 THEN 1
            WHEN 6 THEN 2 WHEN 5 THEN 2 ELSE 3 END AS BIGINT) AS gen_cost,
          CAST(count(*) AS BIGINT) AS csize
        FROM $base
        GROUP BY GROUPING SETS ((nat, seg), (reg, seg), (nat), (reg), (seg), ())),
      lattice AS (
        SELECT node, gen_cost, CAST(count(*) AS BIGINT) AS n_classes,
          min(csize) AS min_class_size,
          CAST(CASE WHEN min(csize) >= 30 THEN 1 ELSE 0 END AS BIGINT)
            AS satisfies_k
        FROM classes GROUP BY node, gen_cost),
      chosen AS (
        SELECT node FROM lattice WHERE satisfies_k = 1
        ORDER BY gen_cost, node LIMIT 1)
      SELECT l.node, l.gen_cost, l.n_classes, l.min_class_size, l.satisfies_k,
        CAST(CASE WHEN l.node IN (SELECT node FROM chosen) THEN 1 ELSE 0 END
          AS BIGINT) AS is_chosen
      FROM lattice l
      ORDER BY l.gen_cost, l.node"""

  // ---------------------------------------------------------------- q428

  /** RAKE (Rapid Automatic Keyword Extraction) over English documents:
    * candidate phrases are maximal stopword-free token runs (kept at
    * 2–5 words), each word scores degree/frequency where degree sums
    * the lengths of every phrase the word appears in, and a phrase
    * scores the sum of its words' scores — surfacing multiword
    * keyphrases without any model (q274's PMI collocations rank PAIRS
    * by co-occurrence; RAKE ranks whole phrases by connectivity).
    * Scores carried as ppm integers (per-word floor division is
    * order-independent, so the phrase sum is deterministic).
    *
    * Scale shape: one documents scan explodes to tokens, phrase
    * assembly is a per-document window + keyed fold, word stats are a
    * vocabulary-sized broadcast join, and the final top-25 is
    * TakeOrderedAndProject. */
  private val q428 = QueryDef(
    "q428_rake_keyphrases",
    (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .filter(col("lang") === "en")
        .select(col("doc_id"), posexplode(tokens_native(col("text")))
          .as(Seq("i", "tok")))
        .withColumn("stop", col("tok").isin(EnStops: _*))
      val ns = tok.filter(!col("stop"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
        .withColumn("grp", col("i") - col("rn"))
      val ph = ns.groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("plen"),
          expr("array_join(transform(array_sort(collect_list(struct(i, tok))), x -> x.tok), ' ')")
            .as("phrase"),
          collect_list(col("tok")).as("words"))
        .filter(col("plen") >= 2L && col("plen") <= 5L)
      val members = ph.select(col("doc_id"), col("grp"), col("phrase"),
        col("plen"), explode(col("words")).as("tok"))
      val wstats = members.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("wscore", expr("deg * 1000000 div freq"))
      val scored = members
        .join(broadcast(wstats.select(col("tok"), col("wscore"))), Seq("tok"))
        .groupBy(col("doc_id"), col("grp"), col("phrase"), col("plen"))
        .agg(sum(col("wscore")).as("score_ppm"))
      scored.groupBy(col("phrase"), col("plen").as("n_words"))
        .agg(count(lit(1)).as("n_occurrences"), min(col("score_ppm")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("phrase")).limit(25)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score_ppm").desc, col("phrase"))).cast("long"))
        .orderBy(col("rk"))
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $duckTokens AS tk
        FROM documents WHERE lang = 'en'),
      tok AS (
        SELECT doc_id, i, tk[i + 1] AS tok,
          tk[i + 1] IN ($StopsSql) AS stop
        FROM tk, LATERAL (SELECT unnest(range(0, len(tk))) AS i) g),
      ns AS (
        SELECT doc_id, i, tok,
          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM tok WHERE NOT stop),
      ph AS (
        SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen,
          string_agg(tok, ' ' ORDER BY i) AS phrase
        FROM ns GROUP BY doc_id, grp
        HAVING count(*) BETWEEN 2 AND 5),
      mem AS (
        SELECT ns.doc_id, ns.grp, ns.tok, ph.plen, ph.phrase
        FROM ns JOIN ph USING (doc_id, grp)),
      ws AS (
        SELECT tok, count(*) AS freq, sum(plen) AS deg FROM mem GROUP BY tok),
      sc AS (
        SELECT m.doc_id, m.grp, m.phrase, m.plen,
          CAST(sum(w.deg * 1000000 // w.freq) AS BIGINT) AS score_ppm
        FROM mem m JOIN ws w USING (tok)
        GROUP BY 1, 2, 3, 4),
      agg AS (
        SELECT phrase, plen AS n_words,
          CAST(count(*) AS BIGINT) AS n_occurrences,
          min(score_ppm) AS score_ppm
        FROM sc GROUP BY 1, 2
        ORDER BY score_ppm DESC, phrase LIMIT 25)
      SELECT phrase, n_words, n_occurrences, score_ppm,
        CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase) AS BIGINT) AS rk
      FROM agg
      ORDER BY rk
    """))

  // ---------------------------------------------------------------- q429

  /** k-anonymity generalization-lattice planner over the customer
    * quasi-identifiers (nation, market segment): all six lattice nodes
    * — nation→region→'*' crossed with segment→'*' — are measured for
    * equivalence-class count and MINIMUM class size, and the cheapest
    * node (fewest generalization steps) meeting k ≥ 30 is flagged: the
    * search every Datafly/Incognito-style anonymizer performs before
    * release (q149 measures ONE node; this plans across the lattice;
    * q197/q354 add diversity/closeness on top).
    *
    * Scale shape: ONE Expand+aggregate pass computes every node's
    * equivalence classes via GROUPING SETS (6 unioned scans would read
    * the fact 6×; q77 is the primitive), the base join is
    * dimension-broadcast, and the lattice argmin runs on 6 rows. */
  private val q429 = QueryDef(
    "q429_kanon_lattice_plan",
    (spark, dir) => {
      Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("nat"), col("r_name").as("reg"),
          col("c_mktsegment").as("seg"))
        .createOrReplaceTempView("graft_kanon_base")
      spark.sql(KanonLatticeSql("graft_kanon_base"))
    },
    Some(KanonLatticeSql(
      """(SELECT n.n_name AS nat, r.r_name AS reg, c.c_mktsegment AS seg
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey)""")))

  // ---------------------------------------------------------------- q430

  /** Fagin's Threshold Algorithm stopping depth over two ranked lists:
    * parts ranked by 1995 revenue and by 1996 revenue, aggregate score
    * = the sum. TA reads both lists in rank order with random access;
    * it may stop at depth d once k seen items score ≥ the threshold
    * T(d) = s₁@d + s₂@d. For k ∈ {1, 10, 50}: the minimal stopping
    * depth, the threshold there, and how many items were seen — the
    * exact early-termination certificate that says a rank-merge
    * (q174's RRF) need only touch the list heads, not the corpora.
    *
    * Scale shape: per list only the top-256 matters (an item outside
    * both heads can never be seen before the cap) — each head is
    * TakeOrderedAndProject; candidates ≤ 512 rows join the ≤ 256-row
    * threshold table by broadcast, so depth×candidate work is bounded
    * regardless of corpus size. Depth-capped at 256: deeper stops
    * report −1 (raise the cap, not the formula). */
  private val q430 = QueryDef(
    "q430_fagin_ta_depth",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("pk"), year(col("l_shipdate")).as("yr"),
          cents(col("l_extendedprice")).as("c"))
        .filter(col("yr").isin(1995, 1996))
      val scores = li.groupBy(col("pk"))
        .agg(sum(when(col("yr") === 1995, col("c")).otherwise(0L)).as("a"),
          sum(when(col("yr") === 1996, col("c")).otherwise(0L)).as("b"))
      def head(score: String) = scores
        .orderBy(col(score).desc, col("pk")).limit(256)
        .withColumn(s"r_$score", row_number().over(
          Window.orderBy(col(score).desc, col("pk"))).cast("long"))
      val l1 = head("a").select(col("pk"), col("a").as("s1"), col("r_a").as("r1"))
      val l2 = head("b").select(col("pk").as("pk2"), col("b").as("s2"), col("r_b").as("r2"))
      val depths = l1.select(col("r1").as("d"), col("s1"))
        .join(l2.select(col("r2").as("d"), col("s2")), Seq("d"))
        .select(col("d"), (col("s1") + col("s2")).as("t"))
      val cand = l1.select(col("pk"), col("r1"))
        .join(l2.select(col("pk2"), col("r2")), col("pk") === col("pk2"), "full")
        .select(coalesce(col("pk"), col("pk2")).as("pk"),
          least(coalesce(col("r1"), lit(9999L)), coalesce(col("r2"), lit(9999L)))
            .as("m"))
        .join(scores.select(col("pk"), (col("a") + col("b")).as("s")), Seq("pk"))
      val perDepth = cand.crossJoin(broadcast(depths))
        .filter(col("m") <= col("d"))
        .groupBy(col("d"), col("t"))
        .agg(count(lit(1)).as("n_seen"),
          sum((col("s") >= col("t")).cast("long")).as("n_qualified"))
      val ks = perDepth.crossJoin(broadcast(
        spark.range(0, 3).select(
          element_at(array(lit(1L), lit(10L), lit(50L)), col("id").cast("int") + 1)
            .as("k"))))
      val stops = ks.filter(col("n_qualified") >= col("k"))
        .groupBy(col("k")).agg(min(col("d")).as("stop_depth"))
      val full = spark.range(0, 3).select(
        element_at(array(lit(1L), lit(10L), lit(50L)), col("id").cast("int") + 1)
          .as("k"))
        .join(stops, Seq("k"), "left")
        .join(perDepth.select(col("d").as("stop_depth"), col("t").as("threshold_at_stop"),
          col("n_seen").as("n_seen_at_stop")), Seq("stop_depth"), "left")
      full.select(col("k"),
        coalesce(col("stop_depth"), lit(-1L)).as("stop_depth"),
        coalesce(col("threshold_at_stop"), lit(-1L)).as("threshold_at_stop"),
        coalesce(col("n_seen_at_stop"), lit(-1L)).as("n_seen_at_stop"))
        .orderBy(col("k"))
    },
    Some("""
      WITH li AS (
        SELECT l_partkey AS pk, year(l_shipdate) AS yr,
          CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)),
      scores AS (
        SELECT pk,
          CAST(sum(CASE WHEN yr = 1995 THEN c ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN yr = 1996 THEN c ELSE 0 END) AS BIGINT) AS b
        FROM li GROUP BY pk),
      l1 AS (
        SELECT pk, a AS s1,
          CAST(row_number() OVER (ORDER BY a DESC, pk) AS BIGINT) AS r1
        FROM scores ORDER BY a DESC, pk LIMIT 256),
      l2 AS (
        SELECT pk, b AS s2,
          CAST(row_number() OVER (ORDER BY b DESC, pk) AS BIGINT) AS r2
        FROM scores ORDER BY b DESC, pk LIMIT 256),
      depths AS (
        SELECT l1.r1 AS d, l1.s1 + l2.s2 AS t
        FROM l1 JOIN l2 ON l1.r1 = l2.r2),
      cand AS (
        SELECT coalesce(l1.pk, l2.pk) AS pk,
          least(coalesce(l1.r1, 9999), coalesce(l2.r2, 9999)) AS m
        FROM l1 FULL JOIN l2 ON l1.pk = l2.pk),
      cs AS (
        SELECT c.pk, c.m, s.a + s.b AS s
        FROM cand c JOIN scores s ON c.pk = s.pk),
      per_depth AS (
        SELECT d.d, d.t, CAST(count(*) AS BIGINT) AS n_seen,
          CAST(sum(CASE WHEN cs.s >= d.t THEN 1 ELSE 0 END) AS BIGINT)
            AS n_qualified
        FROM cs CROSS JOIN depths d
        WHERE cs.m <= d.d
        GROUP BY d.d, d.t),
      ks AS (SELECT unnest([1, 10, 50]) AS k),
      stops AS (
        SELECT k.k, min(p.d) AS stop_depth
        FROM ks k JOIN per_depth p ON p.n_qualified >= k.k
        GROUP BY k.k)
      SELECT CAST(k.k AS BIGINT) AS k,
        CAST(coalesce(s.stop_depth, -1) AS BIGINT) AS stop_depth,
        coalesce(p.t, -1) AS threshold_at_stop,
        coalesce(p.n_seen, -1) AS n_seen_at_stop
      FROM ks k
      LEFT JOIN stops s ON k.k = s.k
      LEFT JOIN per_depth p ON p.d = s.stop_depth
      ORDER BY k
    """))

  override def defs: Seq[QueryDef] = Seq(q428, q429, q430)
}
