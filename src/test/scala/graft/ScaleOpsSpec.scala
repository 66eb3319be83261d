package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.similarity.{Ivf, Knn}

/** IVF index semantics and salted-join equivalence. */
class ScaleOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("IVF probe results are a subset-ranking of the exact scan; self-cell always probed") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val (assignments, centroids) = Ivf.build(emb, "vec_id", "embedding", k = 8)
    assert(assignments.count() === emb.count())
    assert(centroids.count() === 8)

    val ivf = Ivf.probeTopK(assignments, centroids, queryId = 0L, k = 10, nprobe = 8)
    val exact = Knn.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
    // probing ALL cells must equal the exact scan
    assert(ivf.as[(Long, Double)].collect().toSeq === exact.as[(Long, Double)].collect().toSeq)

    // narrow probe returns k results ranked by the same cosine
    val narrow = Ivf.probeTopK(assignments, centroids, queryId = 0L, k = 10, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(narrow.length === 10)
    assert(narrow.map(_._2).toSeq === narrow.map(_._2).sorted(Ordering[Double].reverse).toSeq)
  }

  test("IVF recall@10 at nprobe=2 with a second Lloyd iteration") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Knn.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val (a2, c2) = Ivf.build(emb, "vec_id", "embedding", k = 8, iterations = 2)
    val got = Ivf.probeTopK(a2, c2, queryId = 0L, k = 10, nprobe = 2)
      .select("id").as[Long].collect().toSet
    val recall = exact.intersect(got).size / 10.0
    info(s"recall@10 = $recall")
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("IVF build on empty input fails with a clear error, not an index crash") {
    val empty = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException] {
      Ivf.build(empty, "vec_id", "embedding", k = 8)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("IVF build assignment is a narrow projection: no join, no shuffle") {
    val emb = Tables.embeddings(spark, sfDir)
    val (assignments, _) = Ivf.build(emb, "vec_id", "embedding", k = 8)
    val plan = assignments.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment plan should not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"assignment plan should not join:\n$plan")
  }

  test("bloom semi join == plain semi join; probe is a scan-side pre-filter") {
    import spark.implicits._
    import graft.operators.BloomJoin
    val fact = spark.range(20000).select((col("id") % 5000).as("k"), col("id").as("v"))
    val dim = spark.range(400).select((col("id") * 13).as("dk")) // 400 keys, some ≥5000 absent
    val bloomed = BloomJoin.preFilteredSemiJoin(fact, "k", dim, "dk")
    val plain = fact.join(dim.withColumnRenamed("dk", "k"), Seq("k"), "left_semi")
    assert(bloomed.as[(Long, Long)].collect().toSet === plain.as[(Long, Long)].collect().toSet)
    // the bloom probe must appear in the plan as a filter (pre-join, narrow)
    val plan = bloomed.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bloomcontains"), s"bloom pre-filter missing from plan:\n$plan")
  }

  test("bloom bitset: zero false negatives, false-positive rate near design fpp") {
    import spark.implicits._
    import graft.functions.expressions.bloom_contains
    import graft.operators.BloomJoin
    val members = spark.range(1000).select((col("id") * 7).as("k"))
    val (m, h) = BloomJoin.optimalBits(1000, 0.01)
    val bits = BloomJoin.buildBits(members, "k", m, h)
    val probe = bloom_contains(typedLit(bits.toSeq), col("k"), h)
    assert(members.filter(!probe).count() === 0, "bloom produced a false negative")
    // non-members: 7000..70000 not divisible by 7 — pass rate ≈ fpp
    val nonMembers = spark.range(7001, 70000).filter(col("id") % 7 =!= 0)
      .select(col("id").as("k"))
    val fpRate = nonMembers.filter(probe).count().toDouble / nonMembers.count()
    assert(fpRate < 0.05, s"false-positive rate $fpRate far above the 1% design point")
  }

  test("salted join result == plain join result on a hot key") {
    import spark.implicits._
    val hotKey = when(pmod(col("user_id"), lit(10L)) < 9, lit(0L)).otherwise(col("user_id"))
    val facts = Tables.events(spark, sfDir).select(hotKey.as("k"), col("event_id").as("v"))
    val dim = facts.select(col("k")).distinct().withColumn("tier", pmod(col("k"), lit(7L)))
    val salted = Skew.saltedJoin(facts, dim, "k", salts = 8).groupBy("tier").count()
    val plain = facts.join(dim, "k").groupBy("tier").count()
    val s = salted.as[(Long, Long)].collect().toMap
    val p = plain.as[(Long, Long)].collect().toMap
    assert(s === p)
  }

  test("salting spreads a hot key's rows across shuffle partitions") {
    import spark.implicits._
    // 90% of rows share key 0: a hash repartition on the bare key puts
    // them all in ONE partition no matter how many there are; adding the
    // row-hash salt spreads them ~uniformly. Deterministic balance check.
    val large = spark.range(100000L).select(
      when(pmod(col("id"), lit(10L)) < 9, lit(0L)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id()).count().agg(max("count")).as[Long].head()
    val plainMax = maxPartRows(large.repartition(16, col("k")))
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(struct(col("k"), col("v"))), lit(8L)))
    val saltedMax = maxPartRows(saltedLarge.repartition(16, col("k"), col("__salt")))
    assert(plainMax >= 90000L)            // hot key concentrated in one task
    // 8 salt groups hash into 16 partitions, so a partition can collect
    // 2 of them (birthday collision) — assert a ≥3× spread, not the ideal 8×
    assert(saltedMax <= plainMax / 3)
  }

  test("AQE splits skewed partitions at runtime (the pre-salting defense)") {
    // Skew.saltedJoin's scaladoc claims AQE's skew splitting handles most
    // hot keys before explicit salting is warranted — demonstrate it:
    // with skew-join enabled and a hot key too big for one task, the
    // final adaptive plan marks the sort-merge join skew=true.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // left: 90% of 2M rows on key 0 (one oversized shuffle partition);
      // right: UNIQUE keys (a dim too large to broadcast with the
      // threshold off) — so the join is 1:N, not an M×N hot-key blowup
      // the payload must be high-entropy and actually consumed, or the
      // all-constant hot partition compresses under the skew threshold
      val hotLeft = spark.range(2000000L).select(
        when(pmod(col("id"), lit(100L)) < 90, lit(0L)).otherwise(col("id")).as("k"),
        xxhash64(col("id")).as("v"))
      val right = spark.range(2000000L).select(
        col("id").as("k"), xxhash64(col("id"), lit(7)).as("w"))
      val joined = hotLeft.join(right, "k").agg(sum(col("v") + col("w")))
      joined.collect() // execute THIS queryExecution so AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the skewed join:\n${plan.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join shrinks the critical-path task on a hot key") {
    // Simulates the case salting exists for: both sides too big to
    // broadcast (threshold off) and AQE's skew splitting unavailable
    // (disabled here), so the plain sort-merge join processes the hot
    // key's 99% of rows in a single straggler task while the salted join
    // spreads it 8 ways. Compared on the LARGEST PER-TASK SHUFFLE READ
    // (records) in the join stage — the deterministic proxy for the
    // critical-path task: row routing is fixed by hash partitioning, so
    // unlike task wall-clock this cannot flake on scheduler luck.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val n = 2000000L
    val large = spark.range(n).select(
      when(pmod(col("id"), lit(100L)) < 99, lit(0L)).otherwise(pmod(col("id"), lit(10000L))).as("k"),
      col("id").as("v"))
    val dim = spark.range(10000L).select(col("id").as("k"), pmod(col("id"), lit(7L)).as("tier"))
    def maxTaskShuffleRows(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val maxRows = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            maxRows.getAndAccumulate(te.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val s = df.agg(sum(col("v") + col("tier"))).head().getLong(0)
        org.apache.spark.TestBus.drain(spark.sparkContext)
        (s, maxRows.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (plainSum, plainMax) = maxTaskShuffleRows(large.join(dim, "k"))
      val (saltedSum, saltedMax) = maxTaskShuffleRows(Skew.saltedJoin(large, dim, "k", salts = 8))
      info(s"max task shuffle read: plain ${plainMax} rows vs salted ${saltedMax} rows")
      assert(plainSum === saltedSum)
      // plain: one task reads the hot key's ~1.98M rows; salted: the hot
      // key spreads over 8 salt groups. Murmur3 routing packs 3 of the 8
      // groups into one partition here (observed 2.6× spread) — assert
      // ≥2×, which the deterministic routing always clears
      assert(plainMax >= (n * 99 / 100))
      assert(saltedMax <= plainMax / 2,
        s"salted max task read ($saltedMax rows) should spread plain's ($plainMax rows) ≥2× on 99%-hot key")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("asof join: latest at-or-before match per key, >= tie semantics, null when none") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:30")), // after p1 → 100
      (2L, "u1", ts("2024-01-01 10:01:00")), // exactly at p2 → 200 (>= semantics)
      (3L, "u1", ts("2024-01-01 09:59:00")), // before any → null
      (4L, "u2", ts("2024-01-01 10:05:00"))  // other key, no purchases → null
    ).toDF("id", "k", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 100L),
      ("u1", ts("2024-01-01 10:01:00"), 200L)
    ).toDF("k", "rt", "v")
    val got = graft.operators.AsofJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(200L), 3L -> None, 4L -> None))
  }

  test("round-3 plan shapes: broadcast decontamination, 2-scan mixture, kernelized repetition") {
    val docs = Tables.documents(spark, sfDir)
    // decontamination: the benchmark gram set must be the BROADCAST side
    // (the corpus side is never sort-merge shuffled against it)
    val decon = graft.dedup.Decontaminate.overlap(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5).queryExecution.executedPlan.toString
    assert(decon.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n${decon.take(800)}")
    assert(!decon.contains("SortMergeJoin"), "corpus side must not sort-merge against the benchmark")

    // mixture sampling: census + filter = exactly 2 corpus scans
    val mix = graft.operators.Mixture.sample(docs, "source", col("doc_id"), 50L)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(mix).length
    assert(scans === 2, s"expected census + sample = 2 corpus scans, got $scans")

    // repetition stats: the bigram build is the codegen'd kernel, not an
    // interpreted HOF transform over token arrays
    val rep = graft.text.TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(rep.contains("bigramhashes"), "bigram kernel missing from plan")
    assert(!rep.contains("transform("), "interpreted HOF in the repetition hot path")
  }

  test("round-4 plan shapes: codegen z-order, top-k sampling, kernel shingles, broadcast quartiles") {
    val queries = SparkEntry.queries

    // q123: the 32-term Morton interleave must be pure shift/add
    // expression arithmetic projected straight off a PRUNED scan (only
    // the two key columns read) — no UDF, no extra exchange before the
    // aggregate. (AQE's plan string doesn't expose codegen spans, so
    // assert the properties that imply codegen eligibility instead.)
    val z = queries("q123_zorder_layout")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(z.contains("shiftleft"), "z expression missing from the plan")
    assert(z.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      s"z-order scan must prune to the two key columns:\n${z.takeRight(400)}")
    assert(!z.toLowerCase.contains("batchevalpython") && !z.contains("UDF"),
      "z-order must be pure expression arithmetic")

    // q125: weighted top-k must plan as TakeOrderedAndProject (bounded
    // per-partition heaps), never a global Sort + Limit
    val wsPlan = queries("q125_weighted_sampling")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(wsPlan.contains("TakeOrderedAndProject"),
      s"weighted sampling must plan a bounded top-k:\n${wsPlan.take(800)}")

    // q114: shingles must come from the fused kernel, not the quadratic
    // HOF pipeline (transform + substr re-seek)
    val nov = queries("q114_ngram_novelty")(spark, sfDir)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(nov.contains("charshingleset"), "novelty must use the fused shingle kernel")
    assert(!nov.contains("transform("), "interpreted HOF in the novelty hot path")

    // q116: all three quartile maps join back by BROADCAST — the
    // customer table is never sort-merge shuffled against a histogram
    val rfm = queries("q116_rfm_segmentation")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!rfm.contains("SortMergeJoin"),
      s"RFM quartile maps must broadcast, not sort-merge:\n${rfm.take(800)}")
  }

  test("key histogram surfaces the heaviest keys") {
    val h = Skew.keyHistogram(Tables.lineitem(spark, sfDir), col("l_returnflag"), topN = 3)
    assert(h.count() === 3)
  }
}
