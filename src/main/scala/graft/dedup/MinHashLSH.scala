package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions._

/** MinHash + banded LSH near-duplicate detection:
  * shingle → minhash signature → band buckets → bucket-join.
  *
  * Scale design (the point of this operator at 100 TB):
  *  - signatures are computed per-row with array higher-order functions —
  *    a single narrow projection, no explode of shingles, no shuffle
  *  - the only shuffle is the bucket self-join, keyed on (band, bucket);
  *    each document emits exactly `bands` rows, so shuffle volume is
  *    O(docs × bands), independent of document length
  *  - est. Jaccard is computed from the signatures carried through the
  *    join (8 longs/row) — no join-back to the corpus
  *  - pathological buckets (e.g. boilerplate shared by millions of docs)
  *    explode quadratically: cap them with `maxBucketSize` before the
  *    join (the dropped buckets are exactly the ones a dedup pipeline
  *    handles separately as templates)
  *
  * Hash family: h_j(x) = ((2j+1)·x + 7919j) mod P over the base shingle
  * hash — odd multipliers, engine-portable integer arithmetic (see
  * TextFunctions.Mod).
  */
object MinHashLSH {

  /** numHashes minhash values per doc, grouped into bands of rowsPerBand.
    * Band buckets are folded mod 2^31−1 so every intermediate stays in
    * portable 64-bit integer arithmetic for any band width. Word shingles
    * (shingleK tokens) rather than characters: on real corpora — and
    * especially small-vocabulary ones — they separate near-dups from
    * merely same-domain text. */
  final case class Config(numHashes: Int = 16, rowsPerBand: Int = 4, shingleK: Int = 3) {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    require(shingleK >= 1 && shingleK <= 7, "shingle fold overflows 64-bit beyond k=7")
    def bands: Int = numHashes / rowsPerBand
  }

  private val BucketMod = 2147483647L

  def minhashColumn(shingles: Column, j: Int): Column =
    array_min(transform(shingles, h => (h * lit(2L * j + 1) + lit(7919L * j)) % lit(Mod)))

  /** doc id + minhash signature (array<long>, length numHashes).
    * Documents with fewer than shingleK tokens are dropped (no shingles).
    * Computed by the `minhash_signature` kernel — one fused pass per
    * document, a static call to graft.functions.GraftHash.minhashSig
    * from generated code; the
    * HOF composition below (signaturesHof) is the executable spec it is
    * tested against. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 cfg: Config = Config()): DataFrame =
    docs
      .select(
        col(idCol),
        graft.functions.expressions.minhash_signature(col(textCol), cfg.numHashes, cfg.shingleK).as("sig"))
      .filter(col("sig").isNotNull)

  /** Reference implementation of `signatures` in pure higher-order
    * functions (slower: interpreted). The shingle set is projected once
    * and shared by all numHashes hashes: Catalyst does not collapse a
    * non-cheap alias referenced more than once, so each document is
    * tokenized once, not once per hash. */
  def signaturesHof(docs: DataFrame, idCol: String, textCol: String,
                    cfg: Config = Config()): DataFrame =
    docs
      .filter(size(tokensHof(col(textCol))) >= cfg.shingleK)
      .select(col(idCol), wordShingleSetHof(col(textCol), cfg.shingleK).as("sh"))
      .select(
        col(idCol),
        array((0 until cfg.numHashes).map(j => minhashColumn(col("sh"), j)): _*).as("sig"))

  /** Candidate near-duplicate pairs: docs sharing ≥1 band bucket, with
    * the signature-estimated Jaccard similarity. Output:
    * (doc_a, doc_b, est_jaccard), doc_a < doc_b, one row per pair. */
  def candidatePairs(sigs: DataFrame, idCol: String,
                     cfg: Config = Config(),
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val buckets = array((0 until cfg.bands).map { b =>
      (0 until cfg.rowsPerBand).foldLeft(lit(0L): Column)((acc, r) =>
        ((acc * lit(Mod)) % lit(BucketMod) + col("sig").getItem(b * cfg.rowsPerBand + r)) % lit(BucketMod))
    }: _*)
    val exploded = sigs
      .select(col(idCol).as("doc"), col("sig"), posexplode(buckets).as(Seq("band", "bucket")))
    val capped = maxBucketSize match {
      case Some(cap) =>
        // Drop template buckets before the quadratic join.
        val hot = exploded.groupBy("band", "bucket").count().filter(col("count") > cap)
          .select(col("band"), col("bucket"))
        exploded.join(hot, Seq("band", "bucket"), "left_anti")
      case None => exploded
    }
    val a = capped.select(col("band"), col("bucket"), col("doc").as("doc_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"), col("doc").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // codegen'd kernel: the interpreted zip_with form would re-run
        // per band-duplicated pair (KernelParitySpec asserts equality)
        (graft.functions.expressions.sig_match_count(col("sig_a"), col("sig_b"))
          .cast("double") / lit(cfg.numHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** End-to-end: corpus → candidate near-dup pairs above a similarity
    * floor. */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double = 0.5,
                     cfg: Config = Config(),
                     maxBucketSize: Option[Int] = None): DataFrame =
    candidatePairs(signatures(docs, idCol, textCol, cfg), idCol, cfg, maxBucketSize)
      .filter(col("est_jaccard") >= minJaccard)

  /** Per-(application, session, dir, params) memo of the corpus
    * candidate-pair set (r13, the graph.Backbone discipline): nine
    * queries consume `nearDuplicates(documents, "doc_id", "text",
    * minJaccard = 0.0, maxBucketSize = Some(2))` VERBATIM, so the
    * signature pass + bucket join runs once per run and every consumer
    * reads the checkpointed bucket-capped pair list (bounded ≪ corpus²
    * by the cap). Self-healing [[graft.CkptMemo]]: an entry whose
    * checkpoint blocks were dropped is rebuilt, never returned dead. */
  private val pairMemo = new graft.CkptMemo[DataFrame]()

  def corpusNearDuplicates(spark: org.apache.spark.sql.SparkSession, dir: String,
                           minJaccard: Double = 0.0,
                           maxBucketSize: Int = 2): DataFrame =
    pairMemo.getOrBuild(spark, s"$dir|$minJaccard|$maxBucketSize")(
      nearDuplicates(graft.Tables.fanOut(graft.Tables.documents(spark, dir)), "doc_id", "text",
        minJaccard, Config(), Some(maxBucketSize)).localCheckpoint(true))(Seq(_))
}
