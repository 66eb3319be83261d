package graft

import org.apache.spark.sql.Row

/** Semantics of the variable-length maximal-repeat family
  * (q742/q743/q744, queries.SuffixDedupQueries) — the suffix-array-grade
  * exact-substring dedup:
  *
  *  1. STRICT DOMINANCE over q476's fixed-block pass: a duplicated span
  *     that does not tile 8-token block boundaries is invisible to the
  *     block ledger (zero deleted blocks) but fully recovered by the
  *     sorted k-gram extension.
  *  2. EXACTNESS: on a constructed corpus the whole census matches a
  *     brute-force longest-duplicated-prefix computation.
  *  3. The M = 24 extension cap is honored identically on repeats
  *     longer than the cap.
  */
class SuffixDedupSpec extends SparkSpec {

  private val K = 8
  private val M = 24

  private def writeDocs(dir: String, docs: Seq[(Long, Seq[String], String)]): Unit = {
    val spark0 = spark
    import spark0.implicits._
    docs.map { case (id, tk, src) =>
      val text = tk.mkString(" ")
      (id, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `n` documents of six pieces each: one of six shared 10-token
    * phrases, or (one time in three) a token unique to the corpus. */
  private def phraseDocs(n: Int): Seq[(Long, Seq[String], String)] = {
    val rnd = new scala.util.Random(42)
    val phrases = (0 until 6).map(p => (0 until 10).map(i => s"ph${p}_$i"))
    var uid = 0
    (0L until n.toLong).map { id =>
      val tk = (0 until 6).flatMap { _ =>
        if (rnd.nextInt(3) == 0) { uid += 1; Seq(s"uniq$uid") }
        else phrases(rnd.nextInt(phrases.length))
      }
      (id, tk.toSeq, s"s${id % 2}")
    }
  }

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir).collect()

  /** Brute-force census: per source → (repeat_starts, maximal_occurrences,
    * distinct_repeats, dup_tokens, max_repeat_len). */
  private def bruteCensus(docs: Seq[(Long, Seq[String], String)])
      : Map[String, (Long, Long, Long, Long, Long)] = {
    val counts = scala.collection.mutable.Map[String, Int]()
    for ((_, tk, _) <- docs; p <- tk.indices; l <- K to math.min(M, tk.length - p))
      { val g = tk.slice(p, p + l).mkString(" "); counts(g) = counts.getOrElse(g, 0) + 1 }
    // lenP(doc, 1-based pos) = longest duplicated prefix length in [K, M]
    val lenP = (for ((id, tk, _) <- docs; p <- tk.indices) yield {
      val ls = (K to math.min(M, tk.length - p))
        .filter(l => counts(tk.slice(p, p + l).mkString(" ")) >= 2)
      ((id, p + 1), if (ls.isEmpty) 0L else ls.max.toLong)
    }).filter(_._2 >= K).toMap
    docs.groupBy(_._3).map { case (src, srcDocs) =>
      val starts = srcDocs.flatMap { case (id, tk, _) =>
        tk.indices.map(p => (id, p + 1)).filter(lenP.contains)
      }
      val maximal = starts.filterNot { case (id, pos) =>
        lenP.get((id, pos - 1)).exists(_ - 1 >= lenP((id, pos)))
      }
      val docsById = docs.map(d => d._1 -> d._2).toMap
      val distinct = maximal.map { case (id, pos) =>
        docsById(id).slice(pos - 1, pos - 1 + lenP((id, pos)).toInt).mkString(" ")
      }.distinct.size.toLong
      val coverage = srcDocs.map { case (id, tk, _) =>
        tk.indices.map(_ + 1).filter(p => lenP.contains((id, p)))
          .flatMap(p => p until (p + lenP((id, p)).toInt))
          .distinct.size.toLong
      }.sum
      val maxLen = if (starts.isEmpty) 0L else starts.map(lenP).max
      src -> (starts.size.toLong, maximal.size.toLong, distinct, coverage, maxLen)
    }
  }

  test("q742/q744 strictly dominate the block ledger on a misaligned " +
    "duplicate: blocks delete nothing, the span pass recovers all 12 tokens") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx1").toString
    val shared = (0 until 12).map(i => s"shared$i")
    val docs = Seq(
      (0L, (0 until 3).map(i => s"ua$i") ++ shared ++ (0 until 4).map(i => s"ub$i"), "s0"),
      (1L, (0 until 5).map(i => s"va$i") ++ shared ++ (0 until 4).map(i => s"vb$i"), "s0"))
    writeDocs(dir, docs)

    val block = run("q476_block_dedup_ledger", dir)
    assert(block.length == 1)
    assert(block.head.getAs[Long]("n_deleted") == 0L,
      "the misaligned duplicate must be INVISIBLE to fixed blocks")

    val census = run("q742_maximal_repeat_census", dir)
    assert(census.length == 1)
    val r = census.head
    // 12-token span → 5 duplicated 8-gram starts per doc, one maximal
    // start per doc, ONE distinct repeat, 12 covered tokens per doc
    assert(r.getAs[Long]("repeat_starts") == 10L)
    assert(r.getAs[Long]("maximal_occurrences") == 2L)
    assert(r.getAs[Long]("distinct_repeats") == 1L)
    assert(r.getAs[Long]("dup_tokens") == 24L)
    assert(r.getAs[Long]("max_repeat_len") == 12L)

    val recall = run("q744_block_vs_span_recall", dir)
    assert(recall.head.getAs[Long]("block_dup_tokens") == 0L)
    assert(recall.head.getAs[Long]("var_dup_tokens") == 24L)
    assert(recall.head.getAs[Long]("recall_gain_tokens") == 24L,
      "strict dominance: the span pass must recover what blocks cannot")

    // the inventory names exactly that one repeat
    val inv = run("q743_maximal_repeat_inventory", dir)
    assert(inv.length == 1)
    assert(inv.head.getAs[Long]("repeat_len") == 12L)
    assert(inv.head.getAs[Long]("n_occurrences") == 2L)
    assert(inv.head.getAs[Long]("deletable_tokens") == 24L)
  }

  test("the M=24 extension cap binds: a 30-token duplicate reports " +
    "max_repeat_len = 24 and full 30-token coverage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx2").toString
    val shared = (0 until 30).map(i => s"long$i")
    val docs = Seq(
      (0L, (0 until 3).map(i => s"wa$i") ++ shared, "s0"),
      (1L, (0 until 7).map(i => s"xa$i") ++ shared ++ Seq("tail0"), "s0"))
    writeDocs(dir, docs)
    val r = run("q742_maximal_repeat_census", dir).head
    assert(r.getAs[Long]("max_repeat_len") == 24L, "the cap must bind at 24")
    // every window of the 30-token span is duplicated → coverage is the
    // full 30 tokens per doc even though no single reported repeat
    // exceeds 24
    assert(r.getAs[Long]("dup_tokens") == 60L)
  }

  test("census matches a brute-force longest-duplicated-prefix " +
    "computation on a phrase-structured corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx3").toString
    val docs = phraseDocs(14)
    writeDocs(dir, docs)
    val expected = bruteCensus(docs)
    val got = run("q742_maximal_repeat_census", dir)
    assert(got.length == expected.size)
    for (row <- got) {
      val src = row.getAs[String]("source")
      val (starts, maximal, distinct, cov, maxLen) = expected(src)
      assert(row.getAs[Long]("repeat_starts") == starts, s"$src starts")
      assert(row.getAs[Long]("maximal_occurrences") == maximal, s"$src maximal")
      assert(row.getAs[Long]("distinct_repeats") == distinct, s"$src distinct")
      assert(row.getAs[Long]("dup_tokens") == cov, s"$src coverage")
      assert(row.getAs[Long]("max_repeat_len") == maxLen, s"$src max len")
    }
    // inventory invariants on the same corpus: mass = occurrences × len,
    // deterministic descending order
    val inv = run("q743_maximal_repeat_inventory", dir).toSeq
    assert(inv.nonEmpty && inv.length <= 15)
    for (r <- inv)
      assert(r.getAs[Long]("deletable_tokens") ==
        r.getAs[Long]("n_occurrences") * r.getAs[Long]("repeat_len"))
    val masses = inv.map(_.getAs[Long]("deletable_tokens"))
    assert(masses == masses.sortBy(-_), "inventory must be sorted by mass")
  }

  test("one cold memo build stays within its job budget and hands out " +
    "checkpoint-backed frames") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx4").toString
    writeDocs(dir, phraseDocs(400))
    // a new session is a new memo key, so the build below is cold
    val s2 = spark.newSession()
    Tables.documents(s2, dir).schema // load the table outside the count
    val group = "suffix-memo-build"
    val buildJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          buildJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "cold SuffixDedupQueries memo build")
      val (docStats, tot, maxdig) = queries.SuffixDedupQueries.repeatFrames(s2, dir)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      // measured at 8 jobs on 4 cores, here and on the sf0.01 and sf0.1
      // corpora; one job of slack, since adaptive plans have moved one
      // job between runs
      assert(buildJobs.get() <= 9,
        s"cold suffix memo build launched ${buildJobs.get()} jobs (budget 9)")
      for (f <- Seq(docStats, tot, maxdig))
        assert(f.queryExecution.logical.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
          "memo frames must read the checkpoint, not recompute the corpus")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("the memo's consumers survive a blanket unpersist between reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx5").toString
    writeDocs(dir, phraseDocs(40))
    val c1 = run("q742_maximal_repeat_census", dir).toSeq
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(run("q742_maximal_repeat_census", dir).toSeq === c1,
      "rebuilt suffix memo diverged from the original")
  }

  test("the memo build plans no generator-keyed window") {
    // the memo's consumers read its checkpoint, so no query's final plan
    // shows the build: record its plans. Each duplicate test must stay a
    // hash aggregate and a keyed semi join, not a window partitioned by
    // the exploded digest
    import org.apache.spark.sql.execution.QueryExecution
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx6").toString
    writeDocs(dir, phraseDocs(8))
    // a new session is a new memo key, so the build below is cold
    val s2 = spark.newSession()
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val recorder = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = steps.add(qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s2.listenerManager.register(recorder)
    try {
      queries.SuffixDedupQueries.repeatFrames(s2, dir)
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally s2.listenerManager.unregister(recorder)
    val plans = steps.toArray(Array.empty[QueryExecution]).map(_.optimizedPlan)
    assert(plans.nonEmpty, "the cold memo build recorded no plan")
    assert(plans.map(PlanShapes.keyedWindows(_, PlanShapes.generatorOutput)).sum === 0)
  }
}
