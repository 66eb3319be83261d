package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TopKAggregate.topk_pairs
import graft.functions.expressions.long_dot
import graft.multimodal.Multimodal
import graft.queries.SqlMacros._

/** Round-8 batch 6: the multimodal column family beyond q30's decode —
  * the STUB feature extractor feeding the similarity stack (the
  * "embed image/audio, then ANN" pipeline with the codec stubbed and
  * every Spark-side shape real), and frame-sample dedup (the chunked-
  * media storage estimate). The stub embedding is pure arithmetic on
  * the payload's polynomial hash, so DuckDB reproduces it bit-for-bit
  * (the q30 precedent); text payloads are pure ASCII in this corpus
  * (verified round 8: 500/500 docs match ^[ -~]*$), so byte slices
  * equal character slices on the oracle side.
  */
object MultimodalPlanQueries extends QueryGroup {

  // ---------------------------------------------------------------- q660

  /** Modality-bridged ANN: run the full "ingest → embed → quantize →
    * retrieve" pipeline on stub features — assets from the text corpus
    * (q30's synthesis), embeddings from
    * [[graft.multimodal.Multimodal.featureExtractStub]] (the per-
    * partition mapPartitions path a real vision/audio model rides),
    * int quantization, then per-KIND top-3 by integer dot to asset 0's
    * vector via the codegen long_dot kernel and a TopKPairs bounded
    * heap. Swapping the stub for a real encoder changes no plan shape.
    *
    * Float-parity note: the stub emits k/1000 as FLOAT (k integer in
    * [−1000, 1000]); quantize = ⌊0.512·k + 0.5⌋. 512·k + 500 ≡ 0
    * (mod 1000) has no solution (parity), so the nearest boundary is
    * ≥ 0.001 away — far beyond float32 error — and the float and
    * double paths round identically. The oracle computes
    * ⌊(512k + 500)/1000⌋ directly from the hash.
    *
    * Scale shape: embed + quantize are narrow per-row work; the probe
    * is a one-row broadcast; the top-3-per-kind is one bounded-heap
    * groupBy (≤ 3 rows per kind cross the shuffle); readout is 9
    * rows. */
  private val q660 = QueryDef(
    "q660_multimodal_feature_ann",
    (spark, dir) => {
      val assets = Multimodal.assetsFromText(
        Tables.documents(spark, dir), "doc_id", "text")
      val emb = Multimodal.featureExtractStub(assets, dim = 64)
        .select(col("asset_id"), col("kind"),
          expr("transform(embedding, x -> CAST(floor(x * 512 + 0.5) AS BIGINT))")
            .as("qv"))
      val probe = emb.filter(col("asset_id") === 0L)
        .select(col("qv").as("pv"))
      val top = emb.filter(col("asset_id") =!= 0L)
        .crossJoin(broadcast(probe))
        .select(col("kind"), col("asset_id"),
          long_dot(col("pv"), col("qv")).as("dot"))
        .groupBy(col("kind"))
        .agg(topk_pairs(col("dot").cast("double"), col("asset_id"), 3).as("top"))
      top.select(col("kind"), posexplode(col("top")).as(Seq("p", "e")))
        .select(col("kind"), (col("p") + 1L).as("rank"),
          col("e.id").as("asset_id"), col("e.score").cast("long").as("dot"))
        .orderBy(col("kind"), col("rank"))
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id AS asset_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
          ${duckPolyHashOf("text")} AS hv
        FROM documents),
      emb AS (
        SELECT asset_id, kind,
          list_transform(range(0, 64), d ->
            CAST(floor((512 * ((hv * (2 * d + 1) + 7919 * d) % 1000000007
              % 2001 - 1000) + 500) / 1000.0) AS BIGINT)) AS qv
        FROM h),
      probe AS (SELECT qv AS pv FROM emb WHERE asset_id = 0),
      scored AS (
        SELECT e.kind, e.asset_id,
          CAST(list_sum(list_transform(range(1, 65), t ->
            p.pv[CAST(t AS INTEGER)] * e.qv[CAST(t AS INTEGER)])) AS BIGINT)
            AS dot
        FROM emb e CROSS JOIN probe p WHERE e.asset_id <> 0),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY kind
          ORDER BY dot DESC, asset_id) AS rank
        FROM scored)
      SELECT kind, CAST(rank AS BIGINT) AS rank, asset_id, dot
      FROM ranked WHERE rank <= 3 ORDER BY kind, rank
    """))

  // ---------------------------------------------------------------- q661

  /** Frame-sample dedup census: chunk every payload into 32-byte
    * frames at stride 4 ([[Multimodal.sampleFrames]] — pure substr
    * expressions, stays in codegen) and measure per modality how many
    * frames are content-duplicates (md5 digest) — the chunk-level
    * dedup estimate that sizes content-addressed media storage, and
    * the frame-sampling plumbing a video pipeline exercises before any
    * real codec exists.
    *
    * Scale shape: the frame explode is narrow (≤ len/128 rows per
    * asset); the dedup fold groups on (kind, digest) — keyed hash agg,
    * the q20 class; readout is 3 kind rows. */
  private val q661 = QueryDef(
    "q661_frame_dedup_census",
    (spark, dir) => {
      val assets = Multimodal.assetsFromText(
        Tables.documents(spark, dir), "doc_id", "text")
      val frames = Multimodal.sampleFrames(assets, frameSize = 32, stride = 4)
        .select(col("kind"), md5(col("frame_bytes")).as("digest"),
          length(col("frame_bytes")).cast("long").as("fbytes"))
      val perDigest = frames.groupBy(col("kind"), col("digest"))
        .agg(count(lit(1)).as("c"), max(col("fbytes")).as("fb"))
      perDigest.groupBy(col("kind"))
        .agg(sum(col("c")).as("n_frames"),
          count(lit(1)).as("n_distinct"),
          sum(col("fb") * col("c")).as("raw_bytes"),
          sum(col("fb")).as("stored_bytes"))
        .select(col("kind"), col("n_frames"), col("n_distinct"),
          col("raw_bytes"), col("stored_bytes"),
          expr("(n_frames - n_distinct) * 1000000 div n_frames")
            .as("dup_frame_ppm"))
        .orderBy(col("kind"))
    },
    Some("""
      WITH a AS (
        SELECT doc_id AS asset_id,
          CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
          text, octet_length(encode(text)) AS n_bytes
        FROM documents),
      frames AS (
        SELECT kind,
          md5(substring(text, CAST(i * 128 + 1 AS INTEGER), 32)) AS digest,
          CAST(octet_length(encode(
            substring(text, CAST(i * 128 + 1 AS INTEGER), 32))) AS BIGINT)
            AS fbytes
        FROM a, unnest(range(0, CAST(floor((n_bytes - 1) / 128.0) AS BIGINT) + 1))
          AS t(i)),
      pd AS (
        SELECT kind, digest, CAST(count(*) AS BIGINT) AS c,
          CAST(max(fbytes) AS BIGINT) AS fb
        FROM frames GROUP BY kind, digest)
      SELECT kind, CAST(sum(c) AS BIGINT) AS n_frames,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(fb * c) AS BIGINT) AS raw_bytes,
        CAST(sum(fb) AS BIGINT) AS stored_bytes,
        CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT)
          AS dup_frame_ppm
      FROM pd GROUP BY kind ORDER BY kind
    """))

  override def defs: Seq[QueryDef] = Seq(q660, q661)
}
