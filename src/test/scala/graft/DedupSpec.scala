package graft

import graft.dedup.{Dedup, MinHashLSH, SimHash}

/** Behavioral checks for the dedup family on crafted near-duplicates
  * (the DuckDB oracle checks determinism; these check the *semantics*:
  * near-dups pair up, unrelated docs don't). */
class DedupSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog while the cat watches the birds sing in the morning light"
  private val nearDup = base.replace("morning", "evening")
  private val unrelated = "completely different words appear here with zero overlap among any shingles of this sentence at all"

  private def docs = {
    import spark.implicits._
    Seq((0L, base), (1L, nearDup), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
  }

  test("minhash LSH pairs near-duplicates, not unrelated docs") {
    import spark.implicits._
    val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.3)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) === 1.0) // exact copy
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) >= 0.3)  // near dup
    assert(!pairs.keys.exists { case (a, b) => b == 2L || a == 2L }) // unrelated never pairs
  }

  test("simhash: identical docs hash equal; near-dups within small Hamming distance") {
    import spark.implicits._
    val fps = SimHash.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(0L) === fps(3L))
    val hamming01 = java.lang.Long.bitCount(fps(0L) ^ fps(1L))
    val hamming02 = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    assert(hamming01 < hamming02, s"near-dup $hamming01 should beat unrelated $hamming02")
    val pairs = SimHash.pairsWithinHamming(
      SimHash.fingerprints(docs, "doc_id", "text"), "doc_id", maxHamming = hamming01)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)))
  }

  test("exact dedup keeps the min-id survivor of each content group") {
    import spark.implicits._
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 1L, 2L)) // 3 is the dup of 0
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(groups(0L) === 2L)
  }

  test("ngram jaccard: identical docs = 1.0, near-dups high, blocking works") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, prefixLen = 24)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((0L, 3L)) === 1.0)
    assert(pairs((0L, 1L)) > 0.8 && pairs((0L, 1L)) < 1.0)
    // unrelated doc shares no 24-char prefix → never a candidate
    assert(!pairs.keys.exists { case (a, b) => b == 2L || a == 2L })
  }

  test("ngram jaccard block cap drops oversized boilerplate blocks only") {
    import spark.implicits._
    // docs 0,1,3 share the 24-char prefix (block of 3); doc 2 is alone.
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, prefixLen = 24, maxBlockSize = Some(2))
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(capped.isEmpty) // the only candidate block exceeded the cap
    val roomy = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, prefixLen = 24, maxBlockSize = Some(3))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(roomy === Set((0L, 1L), (0L, 3L), (1L, 3L))) // cap ≥ block size: unchanged
  }

  test("ngram containment: a quote is contained one way; block cap and " +
    "either-direction threshold hold") {
    import spark.implicits._
    val quote = base.take(60) // shares base's 24-char prefix
    val other = "an entirely separate opening line that starts its own block"
    val docs = Seq((10L, base), (11L, quote), (12L, nearDup),
      (20L, other), (21L, other + " and then runs on a little longer"))
      .toDF("doc_id", "text")
    def pairs(cap: Option[Int], minContainment: Double) =
      Dedup.containmentPairs(docs, "doc_id", "text", n = 3, prefixLen = 24,
        minContainment = minContainment, maxBlockSize = cap)
        .select("doc_a", "doc_b", "containment_a_in_b", "containment_b_in_a")
        .as[(Long, Long, Double, Double)].collect()
        .map { case (a, b, ab, ba) => (a, b) -> (ab, ba) }.toMap
    val all = pairs(None, 0.0)
    assert(all.keySet === Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    // the quote's grams all occur in base, not the other way round
    val (baseInQuote, quoteInBase) = all((10L, 11L))
    assert(quoteInBase === 1.0)
    assert(baseInQuote < 0.7)
    // block {10, 11, 12} exceeds a cap of 2 and goes; block {20, 21} stays
    assert(pairs(Some(2), 0.0).keySet === Set((20L, 21L)))
    // a pair stays when EITHER direction clears the bar: (10, 11) only
    // through quote-in-base; (10, 12) clears it in neither direction
    val (ab, ba) = all((10L, 12L))
    assert(ab < 0.95 && ba < 0.95)
    assert(pairs(None, 0.95).keySet === Set((10L, 11L), (11L, 12L), (20L, 21L)))
  }

  test("connected components: transitive chains merge, disjoint clusters don't") {
    import spark.implicits._
    // chain 1-2, 2-3 merges transitively (1-3 never paired directly);
    // 10-11 is a separate cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // survivor (vertex == component) is the min id of each cluster
    assert(comps.count { case (v, c) => v == c } === 2)
  }

  test("connected components converge on a long path and respect the iteration bound") {
    import spark.implicits._
    // path 0-1-...-19: diameter 19, min label must walk the whole chain
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(path, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(comps.size === 20 && comps.values.forall(_ == 0L))
    // a bound below the diameter fails loudly instead of returning
    // half-merged clusters
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, "doc_a", "doc_b", maxIterations = 3)
    }
    assert(e.getMessage.contains("converge"))
  }

  // ---------------------------------------------------------------- q157

  test("dup weights: every doc weighted, clusters sum to ~1 doc, matches q56") {
    val sfDir = "/root/testdata/sf0.001"
    val weights = SparkEntry.queries("q157_dup_weight")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(weights.length.toLong == nDocs)
    for ((_, sz, w) <- weights) {
      assert(sz >= 1 && w == 1000000L / sz && w >= 1 && w <= 1000000L)
    }
    // cluster sizes agree with q56's clusters for every clustered doc
    val q56Sizes = SparkEntry.queries("q56_dup_clusters")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    for ((doc, sz, _) <- weights)
      assert(sz == q56Sizes.getOrElse(doc, 1L), s"doc $doc")
  }

  // ---------------------------------------------------------------- q165

  test("minhash fidelity census matches per-pair est-vs-true errors") {
    import org.apache.spark.sql.functions._
    val sfDir01 = "/root/testdata/sf0.01" // candidates exist at this SF
    val docs = Tables.documents(spark, sfDir01)
    val cand = MinHashLSH.nearDuplicates(docs, "doc_id", "text",
      minJaccard = 0.0, maxBucketSize = Some(2))
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), (r.getDouble(2) * 16).round * 62500L))
    assert(cand.nonEmpty)
    val sh = docs.select(col("doc_id"),
        graft.text.TextFunctions.wordShingleSet(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val errs = cand.map { case (a, b, est) =>
      val (sa, sb) = (sh(a), sh(b))
      val i = (sa & sb).size.toLong
      val u = sa.size + sb.size - i
      (est - i * 1000000L / u).abs
    }
    def bucket(e: Long) = if (e <= 62500) "a_le_1_hash" else if (e <= 125000) "b_le_2_hash"
      else if (e <= 250000) "c_le_4_hash" else "d_gt_4_hash"
    val expected = errs.groupBy(bucket).view
      .mapValues(v => (v.length.toLong, v.max)).toMap
    val got = SparkEntry.queries("q165_minhash_fidelity")(spark, sfDir01).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  // ---------------------------------------------------------------- q172

  test("dup-cluster split leaks zero candidate pairs; doc split matches brute force") {
    val sfDir01 = "/root/testdata/sf0.01" // candidates exist at this SF
    val corpus = Tables.documents(spark, sfDir01)
    val nDocs = corpus.count()
    val got = SparkEntry.queries("q172_dup_split_leakage")(spark, sfDir01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((mode, (train, test, _)) <- got)
      assert(train + test == nDocs, s"$mode covers the corpus")
    assert(got("cluster_hash")._3 == 0L, "cluster-keyed split must never split a cluster")
    // doc-hash leak count equals the driver-side brute force over the pairs
    def side(k: Long): Boolean = // true = test
      ((k % 2147483648L) * 1779033703L) % 4294967296L % 10000L < 2000L
    val pairs = MinHashLSH.nearDuplicates(corpus, "doc_id", "text",
      minJaccard = 0.0, maxBucketSize = Some(2))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val expLeaks = pairs.count { case (a, b) => side(a) != side(b) }.toLong
    assert(got("doc_hash")._3 == expLeaks)
  }

  // ---------------------------------------------------------------- q182

  test("cross-doc shingle mass matches driver-side shingle brute force") {
    val sfDir = "/root/testdata/sf0.001"
    val mod = 1000000007L
    def tokHash(t: String): Long =
      t.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % mod)
    def shingles(text: String): Set[Long] = {
      val th = text.split(" ").filter(_.nonEmpty).map(tokHash)
      if (th.length < 3) Set.empty
      else th.sliding(3).map(w => ((w(0) * 31 + w(1)) * 31 + w(2)) % mod).toSet
    }
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), shingles(r.getString(1))))
    val docfreq = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val expected = docs.groupBy(_._1).view.mapValues { xs =>
      val nPairs = xs.map(_._2.size.toLong).sum
      val dupPairs = xs.map(_._2.count(s => docfreq(s) >= 2).toLong).sum
      (nPairs, dupPairs, dupPairs * 1000000L / nPairs)
    }.toMap
    val got = SparkEntry.queries("q182_crossdoc_shingle_mass")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    assert(got.toMap == expected)
    // every source has some cross-doc repetition mass to audit
    assert(got.exists(_._2._2 > 0))
  }
}
