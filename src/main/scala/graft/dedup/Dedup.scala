package graft.dedup

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions._

/** Exact and n-gram-Jaccard deduplication.
  *
  * Exact dedup at scale groups on a content hash, never on the content
  * itself — the shuffle carries a 16-byte digest + id instead of the
  * document body, and the canonical representative (min id) is chosen
  * deterministically.
  */
object Dedup {

  /** One row per distinct content: (content md5, kept id = min id, number
    * of copies). Input rows with identical `textCol` collapse. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), col(textCol), md5(col(textCol)).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus: keeps the min-id row of each content group.
    * Equivalent to dropDuplicates(textCol) but with a deterministic
    * survivor. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact n-gram Jaccard similarity between candidate pairs, candidates
    * blocked on a shared text prefix. Blocking keeps the self-join keyed
    * (shuffle on the prefix) instead of a cross product; prefix blocking
    * is the cheapest useful blocker for corpora where near-dups share
    * their opening (crawl boilerplate, versioned docs). Blocks larger
    * than `maxBlockSize` are dropped before the quadratic join — on
    * crawl corpora one shared boilerplate prefix otherwise makes a
    * single block O(n²); the dropped blocks are exactly the template
    * clusters a dedup pipeline handles separately. Output:
    * (doc_a, doc_b, jaccard) for pairs ≥ minJaccard. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, prefixLen: Int = 24,
                        minJaccard: Double = 0.0,
                        maxBlockSize: Option[Int] = None): DataFrame = {
    blockedPairs(docs, idCol, textCol, prefixLen, maxBlockSize)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.expressions.ngram_jaccard(col("t_a"), col("t_b"), n).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Directional n-gram containment over the same prefix-blocked
    * candidate pairs as ngramJaccardPairs: for each pair, the fraction
    * of A's grams found in B and vice versa. Containment ≈ 1 in ONE
    * direction flags quotes/excerpts/supersets that symmetric Jaccard
    * misses when lengths differ. Same blocking, cap, and kernel
    * economics as ngramJaccardPairs. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, prefixLen: Int = 24,
                       minContainment: Double = 0.0,
                       maxBlockSize: Option[Int] = None): DataFrame = {
    blockedPairs(docs, idCol, textCol, prefixLen, maxBlockSize)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.expressions.ngram_containment(col("t_a"), col("t_b"), n)
          .as("containment_a_in_b"),
        graft.functions.expressions.ngram_containment(col("t_b"), col("t_a"), n)
          .as("containment_b_in_a"))
      .filter(col("containment_a_in_b") >= minContainment ||
        col("containment_b_in_a") >= minContainment)
  }

  /** The candidate pairs both n-gram measures score, `(block, doc_a,
    * t_a, doc_b, t_b)` with doc_a < doc_b: two documents pair when they
    * share their first `prefixLen` characters, after blocks larger than
    * `maxBlockSize` are dropped. */
  private def blockedPairs(docs: DataFrame, idCol: String, textCol: String,
                           prefixLen: Int, maxBlockSize: Option[Int]): DataFrame = {
    val prepared = docs.select(
      col(idCol).as("doc"),
      substring(col(textCol), 1, prefixLen).as("block"),
      col(textCol).as("t"))
    val capped = maxBlockSize match {
      case Some(cap) =>
        val hot = prepared.groupBy("block").count().filter(col("count") > cap)
          .select(col("block"))
        prepared.join(hot, Seq("block"), "left_anti")
      case None => prepared
    }
    val a = capped.select(col("block"), col("doc").as("doc_a"), col("t").as("t_a"))
    val b = capped.select(col("block"), col("doc").as("doc_b"), col("t").as("t_b"))
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-duplicate PAIRS (minhash/simhash/jaccard candidates)
    * into duplicate CLUSTERS with one canonical survivor per cluster.
    * Returns (vertex, component) where component = the minimum vertex id
    * reachable from the vertex; `vertex == component` marks the
    * deterministic survivor. Vertices appearing in no pair are trivially
    * their own singleton cluster and are NOT emitted — callers union
    * them back (left_anti on the pair ids) when materializing a corpus.
    *
    * Algorithm: min-label propagation to a fixpoint — every iteration
    * each vertex takes the min of its own label and its neighbors'
    * labels. Iterations = graph diameter; dedup graphs are
    * near-clique-shaped (diameter a few hops), so this converges in a
    * handful of rounds even at corpus scale. Each round is ONE shuffle
    * keyed by vertex (the edge list is re-used, cached); labels are
    * localCheckpoint'ed every round to truncate lineage, and the
    * convergence probe rides the same materialization. Labels only ever
    * decrease, so the fixpoint is order- and partitioning-independent —
    * bit-deterministic on any cluster size.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 30): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("component", col("v"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // neighbor messages: label(src) offered to dst, then keep the min
      // of (own label, best offer) per vertex — one keyed shuffle. Each
      // vertex's own (unique) label is tagged so the aggregation emits
      // the PREVIOUS label alongside the new min: the convergence check
      // is then a narrow scan of the already-checkpointed result instead
      // of a second join job per iteration.
      val msgs = edges.join(labels.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), col("component"), lit(false).as("own"))
      val next = labels.withColumn("own", lit(true))
        .union(msgs)
        .groupBy("v").agg(min(col("component")).as("component"),
          min(when(col("own"), col("component"))).as("prev"))
        .localCheckpoint(true)
      converged = next.filter(col("component") =!= col("prev")).isEmpty
      labels = next.select(col("v"), col("component"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations iterations " +
          "(graph diameter exceeds the bound — raise maxIterations)")
    labels
  }

  /** Reference HOF implementation of ngramJaccardPairs (interpreted
    * array_intersect over materialized gram arrays) — the executable spec
    * the NGramJaccard kernel is tested against. */
  def ngramJaccardPairsHof(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, prefixLen: Int = 24,
                           minJaccard: Double = 0.0): DataFrame = {
    val prepared = docs.select(
      col(idCol).as("doc"),
      substring(col(textCol), 1, prefixLen).as("block"),
      ngramSet(col(textCol), n).as("grams"))
    val a = prepared.select(col("block"), col("doc").as("doc_a"), col("grams").as("g_a"))
    val b = prepared.select(col("block"), col("doc").as("doc_b"), col("grams").as("g_b"))
    val inter = size(array_intersect(col("g_a"), col("g_b")))
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") / (size(col("g_a")) + size(col("g_b")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
