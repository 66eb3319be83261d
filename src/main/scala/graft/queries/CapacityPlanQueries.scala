package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.SqlMacros._

/** Round-6 batch 4: capacity/quality analytics — Kingman's VUT queueing
  * formula from measured variability, class-balanced effective-number
  * weighting (integer exp-by-squaring), and a kNN label-noise census.
  * All outputs integers / strings with total ORDER BYs for the oracle
  * gate.
  */
object CapacityPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q546

  /** Kingman (VUT) queue-wait planner: W_q ≈ ρ/(1−ρ) · (C_a²+C_s²)/2 · τ
    * says waiting explodes with UTILIZATION times VARIABILITY — both
    * measured here per event type: C_a² from inter-arrival gaps (lag
    * within (type, day) partitions), C_s² from the value column as the
    * service-size proxy, every CV² as the integer n·Σx²·1000/(Σx)² − 1000
    * (milli, division-last so ~10¹⁷ stays in range). Swept over target
    * utilizations {0.5, 0.8, 0.95} to show the hockey stick. q522 sizes
    * pools by Little's law (means only); this adds the variability term
    * that actually bites.
    *
    * Scale shape: gaps ship from a (type, day)-partitioned lag — the
    * stream's natural shard, never a global window; the 3-row ρ grid
    * broadcasts onto the per-type CV table. */
  private val q546 = QueryDef(
    "q546_kingman_queue_wait",
    (spark, dir) => {
      import graft.functions.Deterministic.epochS
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(500L, 800L, 950L).toDF("rho_milli")
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), epochS(col("ts")).as("ts_s"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("svc"),
          col("event_id"))
      val gaps = ev
        .withColumn("day", expr("ts_s div 86400"))
        .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(
          Window.partitionBy(col("event_type"), col("day"))
            .orderBy(col("ts_s"), col("event_id"))))
        .filter(col("gap").isNotNull && col("gap") >= 0L)
      // CV² = n·Σx²/(Σx)² − 1, staged division-FIRST: Σx² div Σx is at
      // most max(x) (≤ 86400 s / 10⁴ cents), so n·that·1000 ≤ ~10¹³ —
      // the naive n·Σx²·1000 crosses 2⁶³ on sparse streams
      val ca = gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
          sum(expr("gap * gap")).as("sg2"))
        .select(col("event_type"), col("n_gaps"),
          expr("n_gaps * (sg2 div greatest(sg, 1)) * 1000" +
            " div greatest(sg, 1) - 1000").as("ca2_milli"))
      val cs = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("svc")).as("sv"),
          sum(expr("svc * svc")).as("sv2"))
        .select(col("event_type"), col("n_events"),
          expr("n_events * (sv2 div greatest(sv, 1)) * 1000" +
            " div greatest(sv, 1) - 1000").as("cs2_milli"))
      ca.join(cs, Seq("event_type"))
        .crossJoin(broadcast(grid))
        .select(col("event_type"), col("rho_milli"), col("n_gaps"),
          col("ca2_milli"), col("cs2_milli"),
          expr("rho_milli * (ca2_milli + cs2_milli) div (2 * (1000 - rho_milli))")
            .as("wq_per_service_milli"))
        .orderBy(col("event_type"), col("rho_milli"))
    },
    Some("""
      WITH grid(rho_milli) AS (VALUES (CAST(500 AS BIGINT)),
        (CAST(800 AS BIGINT)), (CAST(950 AS BIGINT))),
      ev AS (
        SELECT event_type, epoch_ms(ts) // 1000 AS ts_s,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS svc, event_id
        FROM events),
      g AS (
        SELECT event_type,
          ts_s - lag(ts_s, 1) OVER (PARTITION BY event_type, ts_s // 86400
            ORDER BY ts_s, event_id) AS gap
        FROM ev),
      ca AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(count(*) * (sum(gap * gap) // greatest(sum(gap), 1)) * 1000
            // greatest(sum(gap), 1) - 1000 AS BIGINT) AS ca2_milli
        FROM g WHERE gap IS NOT NULL AND gap >= 0 GROUP BY event_type),
      cs AS (
        SELECT event_type,
          CAST(count(*) * (sum(svc * svc) // greatest(sum(svc), 1)) * 1000
            // greatest(sum(svc), 1) - 1000 AS BIGINT) AS cs2_milli
        FROM ev GROUP BY event_type)
      SELECT ca.event_type, rho_milli, n_gaps, ca2_milli, cs2_milli,
        CAST(rho_milli * (ca2_milli + cs2_milli) // (2 * (1000 - rho_milli))
          AS BIGINT) AS wq_per_service_milli
      FROM ca JOIN cs USING (event_type) CROSS JOIN grid
      ORDER BY event_type, rho_milli
    """))

  // ---------------------------------------------------------------- q547

  /** Class-balanced weighting by effective number (Cui et al.): a class
    * with n samples has effective number (1−βⁿ)/(1−β) (β = 0.999), and
    * re-weighting by its inverse stops huge classes from drowning rare
    * ones while not over-boosting singletons the way plain 1/n does.
    * βⁿ is computed by integer EXP-BY-SQUARING: β^(2ⁱ) ships as ten ppm
    * literals (computed once at plan build, identical in both engines)
    * and each row multiplies the constants for its n's set bits with
    * ppm truncation per step — bit-identical everywhere, no pow().
    * The ten set-bit steps chain through ten NAMED columns (bp0..bp9,
    * each referencing its predecessor exactly once — the q549 linear
    * pattern), not a nested fold: a fold that embeds the accumulator
    * in both CASE branches doubles the expression per level, and ten
    * levels is a 2¹⁰-leaf, ~87 KB expression both engines must parse
    * and codegen (measured: that compile bomb, not data, made the
    * round-6 form the suite's slowest query at 9.85 s).
    *
    * Scale shape: one per-label count, ten linear scalar steps,
    * one-row weight-total broadcast for normalization. */
  private val q547 = QueryDef(
    "q547_class_balanced_weights",
    (spark, dir) => {
      val betaPow: IndexedSeq[Long] = (0 until 10).map { i =>
        math.round(math.pow(0.999, math.pow(2.0, i.toDouble)) * 1e6)
      }
      // p = β^min(n,1023) in ppm via set-bit product, truncating per step
      val base = Tables.embeddings(spark, dir)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vectors"))
        .withColumn("nc", expr("least(n_vectors, 1023)"))
        .withColumn("bp0", expr(
          s"CASE WHEN nc % 2 >= 1 THEN (CAST(1000000 AS BIGINT) * ${betaPow(0)}) " +
            "div 1000000 ELSE CAST(1000000 AS BIGINT) END"))
      val counts = (1 until 10).foldLeft(base) { (df, i) =>
        df.withColumn(s"bp$i", expr(
          s"CASE WHEN nc % ${1L << (i + 1)} >= ${1L << i} " +
            s"THEN (bp${i - 1} * ${betaPow(i)}) div 1000000 ELSE bp${i - 1} END"))
      }
        .withColumn("beta_pow_ppm", col("bp9"))
        .withColumn("eff_number_milli", expr("1000000 - beta_pow_ppm"))
        .withColumn("raw_w", expr("1000000000 div greatest(eff_number_milli, 1)"))
      val tot = counts.agg(sum(col("raw_w")).as("wt"))
      counts.crossJoin(broadcast(tot))
        .select(col("label"), col("n_vectors"), col("beta_pow_ppm"),
          col("eff_number_milli"),
          expr("raw_w * 1000000 div wt").as("weight_ppm"))
        .orderBy(col("label"))
    },
    Some {
      val betaPow: IndexedSeq[Long] = (0 until 10).map { i =>
        math.round(math.pow(0.999, math.pow(2.0, i.toDouble)) * 1e6)
      }
      // ten-step CTE chain mirroring the ten named columns: each step
      // references its predecessor ONCE, so the SQL stays linear too
      val steps = (1 until 10).map { i =>
        s"""s$i AS (SELECT * REPLACE (
             CAST(CASE WHEN nc % ${1L << (i + 1)} >= ${1L << i}
               THEN (bp * ${betaPow(i)}) // 1000000 ELSE bp END AS BIGINT)
             AS bp) FROM s${i - 1})"""
      }.mkString(",\n      ")
      s"""
      WITH counts AS (
        SELECT CAST(label AS BIGINT) AS label,
          CAST(count(*) AS BIGINT) AS n_vectors
        FROM embeddings GROUP BY label),
      c2 AS (SELECT *, least(n_vectors, 1023) AS nc FROM counts),
      s0 AS (SELECT *,
          CAST(CASE WHEN nc % 2 >= 1
            THEN (CAST(1000000 AS BIGINT) * ${betaPow(0)}) // 1000000
            ELSE CAST(1000000 AS BIGINT) END AS BIGINT) AS bp
        FROM c2),
      $steps,
      p AS (SELECT label, n_vectors, bp AS beta_pow_ppm FROM s9),
      e AS (
        SELECT *, 1000000 - beta_pow_ppm AS eff_number_milli,
          1000000000 // greatest(1000000 - beta_pow_ppm, 1) AS raw_w
        FROM p),
      t AS (SELECT sum(raw_w) AS wt FROM e)
      SELECT label, n_vectors, beta_pow_ppm, eff_number_milli,
        CAST(raw_w * 1000000 // wt AS BIGINT) AS weight_ppm
      FROM e CROSS JOIN t ORDER BY label
    """
    })

  // ---------------------------------------------------------------- q548

  /** kNN label-noise census (confident-learning's neighborhood form):
    * for a FIXED 64-probe panel (the hash-smallest vec_ids — the same
    * probes at every scale factor and on every engine), find each
    * probe's exact 5 nearest neighbors by quantized cosine and count
    * how many share its label — a label whose neighborhoods disagree
    * with it is either noisy or genuinely overlapping, and its
    * consensus ppm is the cleaning budget's target order. q137 scores
    * CLUSTER purity around learned centroids; this scores the raw
    * metric neighborhoods.
    *
    * Scale shape: q25/q495's broadcast-probe pattern with a fixed probe
    * BUDGET, not a fraction (a 2% sample grows candidate pairs as
    * N²/50 — quadratic; 64 probes keep the pair count linear in N).
    * The probe panel itself is a bounded-heap top-k over the key hash
    * (≤64 rows cross the shuffle), and top-5-per-probe is the
    * [[graft.functions.TopKPairs]] bounded-heap aggregate — map-side
    * partials carry ≤5 rows per probe into the exchange, never a
    * corpus-sized window partition. Neighbor label agreement rides in
    * the heap id's low bit (id = vec_id·2 + agree, monotone in vec_id,
    * so ties still break by vec_id exactly like the oracle's
    * row_number). */
  private val q548 = QueryDef(
    "q548_knn_label_noise",
    (spark, dir) => {
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 512 + 0.5) AS BIGINT))")
            .as("qv"))
        .withColumn("nsq", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
        .filter(col("nsq") > 0L)
      val probeIds = vecs
        .agg(graft.functions.TopKAggregate.topk_pairs(
          -graft.operators.Sampling.keyHash(col("vec_id")).cast("double"),
          col("vec_id"), 64).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t").getField("id").as("p_id"))
      val probes = vecs
        .join(broadcast(probeIds), col("vec_id") === col("p_id"))
        .select(col("p_id"), col("label").as("p_label"),
          col("qv").as("p_qv"), col("nsq").as("p_nsq"))
      vecs.join(broadcast(probes), col("vec_id") =!= col("p_id"))
        .withColumn("dot",
          expr("aggregate(zip_with(qv, p_qv, (a, b) -> a * b), 0L, (a, x) -> a + x)"))
        .withColumn("cos_milli", expr(
          "CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE)" +
            " * CAST(p_nsq AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
        .groupBy(col("p_id"), col("p_label"))
        .agg(graft.functions.TopKAggregate.topk_pairs(
          col("cos_milli").cast("double"),
          col("vec_id") * lit(2L) +
            when(col("label") === col("p_label"), 1L).otherwise(0L),
          5).as("top5"))
        .select(col("p_id"), col("p_label"),
          expr("CAST(size(filter(top5, e -> e.id % 2 = 1)) AS BIGINT)")
            .as("agree"))
        .groupBy(col("p_label"))
        .agg(count(lit(1)).as("n_probes"), sum(col("agree")).as("agree_total"))
        .select(col("p_label").as("label"), col("n_probes"),
          expr("agree_total * 1000000 div (n_probes * 5)").as("consensus_ppm"),
          expr("1000000 - agree_total * 1000000 div (n_probes * 5)")
            .as("noise_estimate_ppm"))
        .orderBy(col("label"))
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          $duckQuantVec AS qv
        FROM embeddings),
      n AS (
        SELECT vec_id, label, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nsq
        FROM v),
      nn AS (SELECT * FROM n WHERE nsq > 0),
      probes AS (
        SELECT vec_id AS p_id, label AS p_label, qv AS p_qv, nsq AS p_nsq
        FROM nn
        ORDER BY (vec_id % 2147483648) * 2654435761 % 4294967296, vec_id
        LIMIT 64),
      s AS (
        SELECT p.p_id, p.p_label, nn.label,
          row_number() OVER (PARTITION BY p.p_id ORDER BY
            CAST(floor(CAST(list_sum(list_transform(range(1, len(nn.qv) + 1),
                i -> nn.qv[i] * p.p_qv[i])) AS DOUBLE)
              / sqrt(CAST(nn.nsq AS DOUBLE) * CAST(p.p_nsq AS DOUBLE)) * 1000
              + 0.5) AS BIGINT) DESC, nn.vec_id) AS rk
        FROM nn JOIN probes p ON nn.vec_id <> p.p_id),
      a AS (
        SELECT p_id, p_label,
          CAST(sum(CASE WHEN label = p_label THEN 1 ELSE 0 END) AS BIGINT)
            AS agree
        FROM s WHERE rk <= 5 GROUP BY p_id, p_label)
      SELECT p_label AS label, CAST(count(*) AS BIGINT) AS n_probes,
        CAST(sum(agree) * 1000000 // (count(*) * 5) AS BIGINT)
          AS consensus_ppm,
        CAST(1000000 - sum(agree) * 1000000 // (count(*) * 5) AS BIGINT)
          AS noise_estimate_ppm
      FROM a GROUP BY p_label ORDER BY label
    """))

  // ---------------------------------------------------------------- q549

  /** Speculative-decoding draft-length sweep (Leviathan et al.'s
    * planning equation): with per-source acceptance rate a measured the
    * q483 way (bigram-argmax draft vs actual next token), a draft of
    * length k yields E[tokens/step] = Σᵢ₌₀..k aⁱ but costs k draft
    * passes at ~10% of a target pass — so the NET speedup
    * E_k/(1 + 0.1·k) peaks at a k that depends on a. Swept over
    * k ∈ {2, 4, 8} per source; aⁱ accumulates by repeated milli
    * truncation, identically in both engines. q483 fixes k = 4; this
    * finds the k worth running.
    *
    * Scale shape: q483's digest-pair machinery
    * ([[PretrainPlanQueries.draftAcceptance]]: vocabulary-sized draft
    * table, corpus-row join) feeding a per-source scalar sweep. */
  private val q549 = QueryDef(
    "q549_specdec_draft_length_sweep",
    (spark, dir) => {
      val spark0 = spark
      import spark0.implicits._
      val grid = Seq(2L, 4L, 8L).toDF("k")
      val acc = PretrainPlanQueries.draftAcceptance(spark, dir)
        .select(col("source"), col("n_transitions"),
          expr("n_accepted * 1000 div n_transitions").as("a_milli"))
      // E_k·1000 = 1000 + a + a² + … + a^k, powers by milli truncation
      val e = (1 to 8).foldLeft(acc.withColumn("p1", col("a_milli"))
          .withColumn("e1", expr("1000 + a_milli"))) { (df, i) =>
        if (i == 1) df
        else df.withColumn(s"p$i", expr(s"p${i - 1} * a_milli div 1000"))
          .withColumn(s"e$i", expr(s"e${i - 1} + p$i"))
      }
      e.crossJoin(broadcast(grid))
        .select(col("source"), col("k"), col("a_milli"),
          expr("CASE k WHEN 2 THEN e2 WHEN 4 THEN e4 ELSE e8 END")
            .as("tokens_per_step_milli"))
        .select(col("source"), col("k"), col("a_milli"),
          col("tokens_per_step_milli"),
          expr("tokens_per_step_milli * 1000 div (1000 + k * 100)")
            .as("net_speedup_milli"))
        .orderBy(col("source"), col("k"))
    },
    Some {
      s"""
      WITH grid(k) AS (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT)),
        (CAST(8 AS BIGINT))),
      trans AS (
        SELECT source, md5(tk[i]) AS h, md5(tk[i + 1]) AS n
        FROM (SELECT source,
                $duckTokens AS tk
              FROM documents),
          LATERAL (SELECT unnest(range(1, len(tk))) AS i) g
        WHERE len(tk) >= 2),
      counts AS (
        SELECT h, n, count(*) AS c FROM trans GROUP BY h, n),
      draft AS (
        SELECT h, n AS n_star FROM (
          SELECT h, n, row_number() OVER (PARTITION BY h
            ORDER BY c DESC, n) AS rk
          FROM counts)
        WHERE rk = 1),
      acc AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_transitions,
          CAST(sum(CASE WHEN t.n = d.n_star THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS a_milli
        FROM trans t JOIN draft d USING (h)
        GROUP BY source),
      p1 AS (SELECT source, a_milli, CAST(1000 + a_milli AS BIGINT) AS e1,
               a_milli AS p1 FROM acc),
      ${(2 to 8).map(i =>
        s"p$i AS (SELECT *, p${i - 1} * a_milli // 1000 AS p$i," +
          s" e${i - 1} + p${i - 1} * a_milli // 1000 AS e$i" +
          s" FROM p${i - 1})").mkString(",\n      ")}
      SELECT source, k, a_milli,
        CAST(CASE k WHEN 2 THEN e2 WHEN 4 THEN e4 ELSE e8 END AS BIGINT)
          AS tokens_per_step_milli,
        CAST((CASE k WHEN 2 THEN e2 WHEN 4 THEN e4 ELSE e8 END) * 1000
          // (1000 + k * 100) AS BIGINT) AS net_speedup_milli
      FROM p8 CROSS JOIN grid ORDER BY source, k
    """
    })

  // ---------------------------------------------------------------- q550

  /** Training shuffle-quality audit: a data loader reading a
    * source-CLUSTERED layout (how crawl corpora arrive on disk) feeds
    * batches of 32 that see 1–2 sources each — gradient steps whip
    * between domains; a hash-shuffled order restores per-batch source
    * diversity. Both policies priced exactly: mean and worst distinct-
    * source count per batch, per shard. The number that justifies the
    * shuffle stage every training pipeline pays for.
    *
    * Scale shape: q491's shard discipline — batch ranks run WITHIN
    * doc_id%4 hash shards under both orderings; per-batch distinct
    * counts are keyed aggregates. */
  private val q550 = QueryDef(
    "q550_shuffle_quality_audit",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), (col("doc_id") % 4L).as("shard"),
          graft.operators.Sampling.keyHash(col("doc_id")).as("hh"))
      def policy(tag: String, order: Seq[org.apache.spark.sql.Column]) = docs
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("shard")).orderBy(order: _*)).cast("long"))
        .select(col("shard"), col("source"), expr("(rn - 1) div 32").as("batch"))
        .groupBy(col("shard"), col("batch"))
        .agg(countDistinct(col("source")).as("ds"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_batches"), sum(col("ds")).as("sds"),
          min(col("ds")).as("min_distinct_sources"))
        .select(lit(tag).as("policy"), col("shard"), col("n_batches"),
          expr("sds * 1000 div n_batches").as("mean_distinct_sources_milli"),
          col("min_distinct_sources"))
      policy("clustered", Seq(col("source"), col("doc_id")))
        .unionAll(policy("hashed", Seq(col("hh"), col("doc_id"))))
        .orderBy(col("policy"), col("shard"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, source, doc_id % 4 AS shard,
          (doc_id % 2147483648) * 2654435761 % 4294967296 AS hh
        FROM documents),
      c AS (
        SELECT shard, source,
          (row_number() OVER (PARTITION BY shard ORDER BY source, doc_id) - 1)
            // 32 AS batch
        FROM docs),
      h AS (
        SELECT shard, source,
          (row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1)
            // 32 AS batch
        FROM docs),
      cb AS (
        SELECT shard, batch, CAST(count(DISTINCT source) AS BIGINT) AS ds
        FROM c GROUP BY shard, batch),
      hb AS (
        SELECT shard, batch, CAST(count(DISTINCT source) AS BIGINT) AS ds
        FROM h GROUP BY shard, batch)
      SELECT 'clustered' AS policy, shard, CAST(count(*) AS BIGINT) AS n_batches,
        CAST(sum(ds) * 1000 // count(*) AS BIGINT)
          AS mean_distinct_sources_milli,
        min(ds) AS min_distinct_sources
      FROM cb GROUP BY shard
      UNION ALL
      SELECT 'hashed', shard, CAST(count(*) AS BIGINT),
        CAST(sum(ds) * 1000 // count(*) AS BIGINT), min(ds)
      FROM hb GROUP BY shard
      ORDER BY policy, shard
    """))

  // ---------------------------------------------------------------- q551

  /** AGM worst-case join-bound audit: for the triangle query on the
    * co-supply graph, the AGM bound says NO instance exceeds m^{3/2}
    * results, while the binary-join plan materializes the wedge
    * intermediate Σ C(d,2) — this audit reports all three (wedges,
    * AGM ceiling via exact isqrt of m³, actual triangles) and their
    * ratios, i.e. exactly how much a worst-case-optimal join would save
    * over the pairwise plan on THIS graph. The theory-to-practice
    * readout behind WCOJ engines; q95 counts the triangles, this prices
    * the plan that finds them.
    *
    * Scale shape: one distinct-edge build (the q95 co-supply pairs),
    * a degree fold, scalar bound math — wedges come from ΣC(d,2), never
    * from materializing wedge rows. */
  private val q551 = QueryDef(
    "q551_agm_bound_audit",
    (spark, dir) => {
      // r13: pairs/degrees/triangles from the memoized graph.Backbone
      // builds — the wedge semi-join runs once per run, shared with q95.
      val pairs = graft.graph.Backbone.coSupplyCanon(spark, dir)
        .select(col("u").as("a"), col("v").as("b"))
      val deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val tri = graft.graph.Backbone.coSupplyTriangleCount(spark, dir)
      val stats = pairs.agg(count(lit(1)).as("m"))
        .crossJoin(deg.agg(sum(expr("d * (d - 1) div 2")).as("wedges")))
        .crossJoin(broadcast(tri))
      stats
        .withColumn("m3", expr("m * m * m"))
        .withColumn("s0", expr("CAST(floor(sqrt(CAST(m3 AS DOUBLE))) AS BIGINT)"))
        .withColumn("agm_bound", expr(
          "CASE WHEN (s0 + 1) * (s0 + 1) <= m3 THEN s0 + 1" +
            " WHEN s0 * s0 > m3 THEN s0 - 1 ELSE s0 END"))
        .select(col("m"), col("wedges"), col("agm_bound"), col("n_triangles"),
          expr("wedges * 1000 div greatest(agm_bound, 1)")
            .as("wedge_over_agm_milli"),
          expr("n_triangles * 1000000 div greatest(wedges, 1)")
            .as("triangle_per_wedge_ppm"))
    },
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'),
      pairs AS (
        SELECT DISTINCT x.sk AS a, y.sk AS b
        FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
      deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
        GROUP BY node),
      oriented AS (
        SELECT CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.a ELSE p.b END AS u,
          CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.b ELSE p.a END AS v
        FROM pairs p
        JOIN deg da ON da.node = p.a
        JOIN deg db ON db.node = p.b),
      wedges AS (
        SELECT o1.v AS u, o2.v AS v
        FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.v <> o2.v),
      tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM wedges w
        WHERE EXISTS (SELECT 1 FROM oriented o
                      WHERE o.u = w.u AND o.v = w.v)),
      stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS m,
          (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS wedges,
          (SELECT n_triangles FROM tri) AS n_triangles),
      b AS (
        SELECT *, m * m * m AS m3,
          CAST(floor(sqrt(CAST(m * m * m AS DOUBLE))) AS BIGINT) AS s0
        FROM stats),
      agm AS (
        SELECT m, wedges, n_triangles,
          CASE WHEN (s0 + 1) * (s0 + 1) <= m3 THEN s0 + 1
               WHEN s0 * s0 > m3 THEN s0 - 1 ELSE s0 END AS agm_bound
        FROM b)
      SELECT m, wedges, agm_bound, n_triangles,
        CAST(wedges * 1000 // greatest(agm_bound, 1) AS BIGINT)
          AS wedge_over_agm_milli,
        CAST(n_triangles * 1000000 // greatest(wedges, 1) AS BIGINT)
          AS triangle_per_wedge_ppm
      FROM agm
    """))

  def defs: Seq[QueryDef] = Seq(q546, q547, q548, q549, q550, q551)
}
