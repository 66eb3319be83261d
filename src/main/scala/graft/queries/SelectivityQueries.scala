package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic.cents
import graft.functions.expressions.poly_hash
import graft.queries.SqlMacros._

/** Round-4 selectivity/storage operators: equi-width vs equi-depth
  * histogram selectivity q-errors, content-defined chunking dedup
  * census, and the sort-key zone-map advisor — what the cheap statistics
  * actually cost, deterministic for the oracle gate.
  */
object SelectivityQueries extends QueryGroup {

  /** The literal range-predicate workload (cent bounds, [lo, hi)). */
  private val Bands: Seq[(String, Long, Long)] = Seq(
    ("lt_50k", 0L, 5000000L),
    ("50k_100k", 5000000L, 10000000L),
    ("100k_200k", 10000000L, 20000000L),
    ("200k_300k", 20000000L, 30000000L),
    ("tail_450k_550k", 45000000L, 55000000L))

  // ---------------------------------------------------------------- q443

  /** Histogram selectivity q-error bake-off: 64-bucket equi-WIDTH vs
    * equi-DEPTH histograms of order totals, each estimating five range
    * predicates by uniform-within-bucket interpolation, scored by
    * q-error max(est,exact)/min(est,exact) — the planner-statistics
    * decision (q434 scores quantiles; this scores WHERE-clause
    * cardinality, where equi-depth's bounded-mass buckets should win
    * the tail). Equi-depth buckets get their ACTUAL value ranges
    * (per-bucket min/max), exactly as engine statistics store them.
    *
    * Scale shape: ONE orders scan folds to the distinct-cents
    * histogram; both histograms, the exact per-band masses, and the
    * estimates all derive from that (≤ distinct-values rows); bands are
    * a 5-row literal broadcast. */
  private val q443 = QueryDef(
    "q443_histogram_selectivity_qerror",
    (spark, dir) => {
      val vhist = Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .persist() // one scan feeds both histograms and the exact masses
      val stats = vhist.agg(sum(col("cnt")).as("n"), min(col("v")).as("vmin"),
        max(col("v")).as("vmax"))
      val bands = Bands.map { case (nm, lo, hi) =>
        struct(lit(nm).as("band"), lit(lo).as("lo"), lit(hi).as("hi"))
      }
      val bandDf = stats.select(explode(array(bands: _*)).as("b")).select(col("b.*"))
      // equi-width buckets: theoretical edges
      val ew = vhist.crossJoin(broadcast(stats))
        .withColumn("w", expr("(vmax - vmin) div 64 + 1"))
        .groupBy(expr("(v - vmin) div w").as("bkt"), col("w"), col("vmin"))
        .agg(sum(col("cnt")).as("bcnt"))
        .select(lit("equi_width").as("hist"), col("bkt"),
          (col("vmin") + col("bkt") * col("w")).as("bmin"),
          (col("vmin") + (col("bkt") + 1L) * col("w") - 1L).as("bmax"),
          col("bcnt"))
      // equi-depth buckets: rank-derived edges with ACTUAL value ranges
      val ed = vhist.crossJoin(broadcast(stats))
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))))
        .withColumn("depth", expr("greatest(n div 64, 1L)"))
        .groupBy(expr("least((cum - cnt) div depth, 63L)").as("bkt"))
        .agg(min(col("v")).as("bmin"), max(col("v")).as("bmax"),
          sum(col("cnt")).as("bcnt"))
        .select(lit("equi_depth").as("hist"), col("bkt"), col("bmin"),
          col("bmax"), col("bcnt"))
      val est = ew.unionAll(ed)
        .join(broadcast(bandDf),
          col("lo") <= col("bmax") && col("hi") > col("bmin"))
        .withColumn("overlap", expr(
          "least(hi - 1, bmax) - greatest(lo, bmin) + 1"))
        .groupBy(col("hist"), col("band"))
        .agg(sum(expr("bcnt * overlap div (bmax - bmin + 1)")).as("est_rows"))
      val exact = vhist.crossJoin(broadcast(bandDf))
        .filter(col("v") >= col("lo") && col("v") < col("hi"))
        .groupBy(col("band")).agg(sum(col("cnt")).as("exact_rows"))
      est.join(broadcast(exact), Seq("band"), "left")
        .select(col("hist"), col("band"), col("est_rows"),
          coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
        .withColumn("qerror_milli", expr(
          """1000 * greatest(est_rows, exact_rows)
             div greatest(least(est_rows, exact_rows), 1)"""))
        .orderBy(col("hist"), col("band"))
    },
    Some {
      val bandsSql = Bands.map { case (nm, lo, hi) => s"('$nm', $lo, $hi)" }
        .mkString(", ")
      s"""
      WITH vhist AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
      stats AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n, min(v) AS vmin, max(v) AS vmax
        FROM vhist),
      bands AS (SELECT * FROM (VALUES $bandsSql) AS t(band, lo, hi)),
      ew AS (
        SELECT 'equi_width' AS hist, (v - vmin) // w AS bkt,
          min(vmin + ((v - vmin) // w) * w) AS bmin,
          min(vmin + ((v - vmin) // w + 1) * w - 1) AS bmax,
          CAST(sum(cnt) AS BIGINT) AS bcnt
        FROM (SELECT v, cnt, vmin, (vmax - vmin) // 64 + 1 AS w
              FROM vhist CROSS JOIN stats)
        GROUP BY 2, w, vmin),
      ed AS (
        SELECT 'equi_depth' AS hist,
          least((cum - cnt) // depth, 63) AS bkt,
          min(v) AS bmin, max(v) AS bmax, CAST(sum(cnt) AS BIGINT) AS bcnt
        FROM (
          SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum,
            greatest(n // 64, 1) AS depth
          FROM vhist CROSS JOIN stats)
        GROUP BY 2),
      est AS (
        SELECT h.hist, b.band,
          CAST(sum(h.bcnt * (least(b.hi - 1, h.bmax) - greatest(b.lo, h.bmin) + 1)
            // (h.bmax - h.bmin + 1)) AS BIGINT) AS est_rows
        FROM (SELECT * FROM ew UNION ALL SELECT * FROM ed) h
        JOIN bands b ON b.lo <= h.bmax AND b.hi > h.bmin
        GROUP BY 1, 2),
      exact AS (
        SELECT b.band, CAST(sum(v.cnt) AS BIGINT) AS exact_rows
        FROM vhist v JOIN bands b ON v.v >= b.lo AND v.v < b.hi
        GROUP BY 1)
      SELECT e.hist, e.band, e.est_rows, coalesce(x.exact_rows, 0) AS exact_rows,
        1000 * greatest(e.est_rows, coalesce(x.exact_rows, 0))
          // greatest(least(e.est_rows, coalesce(x.exact_rows, 0)), 1)
          AS qerror_milli
      FROM est e LEFT JOIN exact x ON e.band = x.band
      ORDER BY e.hist, e.band
    """
    })

  // ---------------------------------------------------------------- q444

  /** Content-defined chunking (the rsync/backup-dedup boundary scheme):
    * an 8-char rolling window's mixed hash marks a chunk boundary
    * wherever it lands ≡ 0 (mod 64), so chunk edges follow CONTENT, not
    * offsets — an insertion re-chunks only its neighborhood, unlike
    * fixed blocks where everything downstream shifts. Per source:
    * chunks, distinct chunk hashes, and the byte-dedup ratio if equal
    * chunks are stored once (q425 fingerprints for SEARCH; this chunks
    * for STORAGE).
    *
    * Scale shape (r13): boundary detection is an in-row
    * transform+filter (no per-character rows); only ~len/64 boundary
    * rows reach the per-document assembly window; dedup is one
    * hash-keyed distinct. */
  private val q444 = QueryDef(
    "q444_content_defined_chunking",
    (spark, dir) => {
      val docs = Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"), col("text"),
          length(col("text")).cast("long").as("len"))
      // r13: boundary detection runs inside the row (one codegen'd
      // transform+filter per document — the former plan exploded one row
      // PER CHARACTER through the Generate), so only the ~len/64
      // boundary rows reach the per-doc assembly window. Same boundary
      // test, same sentinel/empty-doc semantics, identical chunk rows.
      // (First attempt assembled chunks in-row too, but every
      // element_at(bArr, k) re-inlined — and re-evaluated — the whole
      // boundary scan per chunk element: O(len·chunks) per doc, measured
      // 1.8 s → 25 s at sf0.1. Explode the array once instead; the
      // window input is boundary-sized, which was the actual win.)
      val boundSeq = when(col("len") >= 8L, sequence(lit(8L), col("len")))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))
      val internal = filter(
        transform(boundSeq, i => struct(i.as("i"),
          poly_hash(substring(col("text"), (i - 7L).cast("int"), lit(8))).as("h"))),
        s => (s("h") % 2147483648L * 2654435761L % 4294967296L % 64L === 0L)
          && s("i") < col("len"))
      val bArr = concat(transform(internal, s => s("i")), array(col("len")))
      val bounds = docs
        .select(col("doc_id"), col("source"), col("text"), explode(bArr).as("i"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val chunks = bounds
        .withColumn("start", coalesce(lag(col("i"), 1).over(wDoc) + 1L, lit(1L)))
        .filter(col("i") >= col("start")) // guards empty docs
        .withColumn("clen", col("i") - col("start") + 1L)
        .withColumn("chash",
          poly_hash(expr("substring(text, CAST(start AS INT), CAST(clen AS INT))")))
        .select(col("source"), col("chash"), col("clen"))
      val base = chunks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("chars_total"))
      val uniq = chunks.groupBy(col("source"), col("chash"))
        .agg(min(col("clen")).as("clen"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct_chunks"), sum(col("clen")).as("chars_unique"))
      base.join(uniq, Seq("source"))
        .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
          col("chars_total"), col("chars_unique"),
          expr("(chars_total - chars_unique) * 1000000 div chars_total")
            .as("dedup_savings_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, source, text, len(text)::BIGINT AS len FROM documents),
      cand AS (
        SELECT doc_id, source, text, i,
          ${duckPolyHashOf("substring(text, CAST(i - 7 AS INTEGER), 8)")} AS h
        FROM docs, LATERAL (SELECT unnest(range(8, len + 1)) AS i) g),
      bounds AS (
        SELECT c.doc_id, c.source, c.text, c.i
        FROM cand c JOIN docs d ON c.doc_id = d.doc_id
        WHERE (((c.h % 2147483648) * 2654435761) % 4294967296) % 64 = 0
          AND c.i < d.len
        UNION ALL
        SELECT doc_id, source, text, len AS i FROM docs),
      chunks AS (
        SELECT source,
          i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 1) + 1
            AS clen,
          ${duckPolyHashOf("substring(text, CAST(coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 1) AS INTEGER), CAST(i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 1) + 1 AS INTEGER))")} AS chash,
          i, doc_id
        FROM bounds),
      ck AS (SELECT source, chash, clen FROM chunks WHERE clen >= 1),
      base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(sum(clen) AS BIGINT) AS chars_total
        FROM ck GROUP BY source),
      uniq AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_chunks,
          CAST(sum(clen) AS BIGINT) AS chars_unique
        FROM (SELECT source, chash, min(clen) AS clen FROM ck GROUP BY 1, 2)
        GROUP BY source)
      SELECT b.source, b.n_chunks, u.n_distinct_chunks, b.chars_total,
        u.chars_unique,
        (b.chars_total - u.chars_unique) * 1000000 // b.chars_total
          AS dedup_savings_ppm
      FROM base b JOIN uniq u ON b.source = u.source
      ORDER BY b.source
    """))

  // ---------------------------------------------------------------- q445

  /** Sort-key zone-map advisor: orders sorted by each candidate key
    * (date / price / custkey) and cut into 64 equal-row zones; each
    * zone keeps min/max of the two predicate columns, and each workload
    * predicate skips every zone whose range misses it — the
    * cluster-by decision measured on real data (q331 audits one layout;
    * q123/q431 pick multi-dim orders; this picks the single sort key),
    * with the frequency-weighted winner flagged.
    *
    * Scale shape: zones come from ntile over the sort order (at scale:
    * range-partitioned write, zone stats are parquet row-group metadata
    * — the measurement here IS the metadata build); per-(key, zone)
    * min/max fold map-side; the skip test is 12 literal predicates ×
    * 192 zone rows, broadcast. */
  private val q445 = QueryDef(
    "q445_sortkey_zonemap_advisor",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(expr("CAST(o_orderdate AS DATE)").as("od"),
          cents(col("o_totalprice")).as("pc"), col("o_custkey").as("ck"),
          col("o_orderkey").as("ok"))
        .select(datediff(col("od"), lit("1995-01-01").cast("date")).cast("long")
          .as("d_epoch"), col("pc"), col("ck"), col("ok"))
      val keyed = o.select(col("*"), explode(array(
        struct(lit("by_date").as("sort_key"), col("d_epoch").as("sv")),
        struct(lit("by_price").as("sort_key"), col("pc").as("sv")),
        struct(lit("by_custkey").as("sort_key"), col("ck").as("sv")))).as("s"))
        .select(col("s.sort_key"), col("s.sv"), col("d_epoch"), col("pc"), col("ok"))
      val zones = keyed
        .withColumn("zone", ntile(64).over(
          Window.partitionBy(col("sort_key")).orderBy(col("sv"), col("ok")))
          .cast("long"))
        .groupBy(col("sort_key"), col("zone"))
        .agg(min(col("pc")).as("pc_min"), max(col("pc")).as("pc_max"),
          min(col("d_epoch")).as("d_min"), max(col("d_epoch")).as("d_max"))
      // predicates: (name, freq, column tag, lo, hi) over price cents or day epoch
      val preds = Seq(
        ("price_lt_50k", 7L, "pc", 0L, 5000000L),
        ("price_100k_200k", 8L, "pc", 10000000L, 20000000L),
        ("price_tail", 5L, "pc", 45000000L, 56000000L),
        ("date_1995", 20L, "d", 0L, 365L),
        ("date_1998h1", 10L, "d", 1095L, 1276L),
        ("date_2000plus", 12L, "d", 1826L, 100000L))
      val predDf = spark.range(1).select(explode(array(preds.map {
        case (nm, f, c, lo, hi) => struct(lit(nm).as("pred"), lit(f).as("freq"),
          lit(c).as("pcol"), lit(lo).as("lo"), lit(hi).as("hi"))
      }: _*)).as("p")).select(col("p.*"))
      val skip = zones.crossJoin(broadcast(predDf))
        .withColumn("zmin", when(col("pcol") === "pc", col("pc_min"))
          .otherwise(col("d_min")))
        .withColumn("zmax", when(col("pcol") === "pc", col("pc_max"))
          .otherwise(col("d_max")))
        .withColumn("skipped",
          (col("zmax") < col("lo") || col("zmin") >= col("hi")).cast("long"))
        .groupBy(col("sort_key"), col("pred"), col("freq"))
        .agg(count(lit(1)).as("n_zones"), sum(col("skipped")).as("zones_skipped"))
        .withColumn("skip_ppm", expr("zones_skipped * 1000000 div n_zones"))
      val weighted = skip.groupBy(col("sort_key"))
        .agg(sum(expr("freq * zones_skipped")).as("weighted_skip"))
      val best = weighted.agg(max(col("weighted_skip")).as("best_w"))
      skip.join(broadcast(weighted), Seq("sort_key"))
        .crossJoin(broadcast(best))
        .select(col("sort_key"), col("pred"), col("zones_skipped"),
          col("skip_ppm"), col("weighted_skip"),
          (col("weighted_skip") === col("best_w")).cast("long").as("is_best_key"))
        .orderBy(col("sort_key"), col("pred"))
    },
    Some {
      val predsSql = Seq(
        ("price_lt_50k", 7L, "pc", 0L, 5000000L),
        ("price_100k_200k", 8L, "pc", 10000000L, 20000000L),
        ("price_tail", 5L, "pc", 45000000L, 56000000L),
        ("date_1995", 20L, "d", 0L, 365L),
        ("date_1998h1", 10L, "d", 1095L, 1276L),
        ("date_2000plus", 12L, "d", 1826L, 100000L))
        .map { case (nm, f, c, lo, hi) => s"('$nm', $f, '$c', $lo, $hi)" }
        .mkString(", ")
      s"""
      WITH o AS (
        SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            AS d_epoch,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
          o_custkey AS ck, o_orderkey AS ok
        FROM orders),
      keyed AS (
        SELECT s.sort_key,
          CASE s.sort_key WHEN 'by_date' THEN d_epoch
            WHEN 'by_price' THEN pc ELSE ck END AS sv,
          d_epoch, pc, ok
        FROM o, (SELECT unnest(['by_date', 'by_price', 'by_custkey'])
          AS sort_key) s),
      zones AS (
        SELECT sort_key, zone, min(pc) AS pc_min, max(pc) AS pc_max,
          min(d_epoch) AS d_min, max(d_epoch) AS d_max
        FROM (SELECT sort_key, d_epoch, pc,
                ntile(64) OVER (PARTITION BY sort_key ORDER BY sv, ok) AS zone
              FROM keyed)
        GROUP BY 1, 2),
      preds AS (SELECT * FROM (VALUES $predsSql) AS t(pred, freq, pcol, lo, hi)),
      skip AS (
        SELECT z.sort_key, p.pred, p.freq,
          CAST(count(*) AS BIGINT) AS n_zones,
          CAST(sum(CASE WHEN
            (CASE WHEN p.pcol = 'pc' THEN z.pc_max ELSE z.d_max END) < p.lo
            OR (CASE WHEN p.pcol = 'pc' THEN z.pc_min ELSE z.d_min END) >= p.hi
            THEN 1 ELSE 0 END) AS BIGINT) AS zones_skipped
        FROM zones z CROSS JOIN preds p
        GROUP BY 1, 2, 3),
      weighted AS (
        SELECT sort_key, CAST(sum(freq * zones_skipped) AS BIGINT)
          AS weighted_skip
        FROM skip GROUP BY 1),
      best AS (SELECT max(weighted_skip) AS best_w FROM weighted)
      SELECT s.sort_key, s.pred, s.zones_skipped,
        s.zones_skipped * 1000000 // s.n_zones AS skip_ppm,
        w.weighted_skip,
        CAST(CASE WHEN w.weighted_skip = b.best_w THEN 1 ELSE 0 END AS BIGINT)
          AS is_best_key
      FROM skip s JOIN weighted w ON s.sort_key = w.sort_key
      CROSS JOIN best b
      ORDER BY s.sort_key, s.pred
    """
    })

  override def defs: Seq[QueryDef] = Seq(q443, q444, q445)
}
