package graft

import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, Sampling}

/** Semantics of the round-2 pipeline operators: binned range join
  * (equivalence with the naive theta join + equi-join plan shape) and
  * deterministic sampling/splitting (key consistency, reproducibility).
  */
class PipelineOpsSpec extends SparkSpec {

  test("binned range join == naive theta join, for every binWidth") {
    import spark.implicits._
    // points at 0..999, intervals of assorted lengths incl. bin-straddling
    val points = spark.range(1000).select(col("id").as("pid"), (col("id") * 7 % 997).as("t"))
    val intervals = spark.range(100).select(
      col("id").as("iid"),
      (col("id") * 13 % 800).as("lo"),
      (col("id") * 13 % 800 + col("id") % 50 * 3).as("hi"))
    val naive = points.join(intervals, col("t") >= col("lo") && col("t") < col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    for (bw <- Seq(1L, 7L, 64L, 1000L)) {
      val binned = RangeJoin.pointInInterval(points, intervals, "t", "lo", "hi", binWidth = bw)
        .select("pid", "iid").as[(Long, Long)].collect()
      assert(binned.length === binned.toSet.size, s"bw=$bw produced duplicate pairs")
      assert(binned.toSet === naive, s"bw=$bw mismatch")
    }
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    val points = spark.range(1000).select(col("id").as("pid"), col("id").as("t"))
    val intervals = spark.range(100).select(
      col("id").as("iid"), (col("id") * 10).as("lo"), (col("id") * 10 + 10).as("hi"))
    val plan = RangeJoin.pointInInterval(points, intervals, "t", "lo", "hi", binWidth = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"range join fell back to nested loop:\n$plan")
    val naivePlan = points.join(intervals, col("t") >= col("lo") && col("t") < col("hi"))
      .queryExecution.executedPlan.toString
    assert(naivePlan.contains("NestedLoop"), "control: the naive form IS a nested loop")
  }

  test("sampleByKey is deterministic, key-consistent, and ~fraction sized") {
    import spark.implicits._
    val df = spark.range(10000).toDF("k")
    val a = Sampling.sampleByKey(df, col("k"), 0.3).as[Long].collect().toSet
    val b = Sampling.sampleByKey(df, col("k"), 0.3).as[Long].collect().toSet
    assert(a === b, "same keys every run")
    assert(math.abs(a.size - 3000) < 300, s"got ${a.size}, expected ~3000")
    // a smaller fraction selects a subset of the larger one (nested samples)
    val c = Sampling.sampleByKey(df, col("k"), 0.1).as[Long].collect().toSet
    assert(c.subsetOf(a), "threshold sampling nests: 10% ⊂ 30%")
  }

  test("train/test split is key-consistent and exhaustive") {
    import spark.implicits._
    // multiple rows per key must all land on the same side
    val df = spark.range(30000).select((col("id") % 1000).as("k"), col("id").as("v"))
    val (train, test) = Sampling.trainTestSplit(df, col("k"), testFraction = 0.2)
    val trainKeys = train.select("k").as[Long].collect().toSet
    val testKeys = test.select("k").as[Long].collect().toSet
    assert(trainKeys.intersect(testKeys).isEmpty, "no key on both sides")
    assert(trainKeys.size + testKeys.size === 1000, "every key lands somewhere")
    assert(train.count() + test.count() === 30000)
    assert(math.abs(testKeys.size - 200) < 60, s"test keys ${testKeys.size}, expected ~200")
  }

  test("typed Welford aggregator matches exact integer-moment variance") {
    import spark.implicits._
    import graft.functions.TypedStats
    val qc = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select((col("l_quantity") * 100 + 0.5).cast("long").cast("double").as("q"))
      .as[Double]
    val welford = qc.select(TypedStats.WelfordVariance.toColumn).head()
    val moments = qc.agg(
      count(lit(1)).cast("double").as("n"), sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
      .select(col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")))
      .as[Double].head()
    assert(math.abs(welford - moments) / moments < 1e-9,
      s"welford=$welford vs exact=$moments")
  }

  test("approx percentile lands within rank tolerance of exact (sketch path)") {
    import spark.implicits._
    // percentile_approx is the sketch (KLL/GK-style) scale path next to
    // q36's exact histogram selection; assert the sketch answer's RANK is
    // within the documented accuracy bound of the true median rank.
    val quantities = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_quantity")).as[Double].collect().sorted
    val n = quantities.length
    val approx = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p"))
      .as[Double].head()
    val rank = quantities.count(_ <= approx).toDouble / n
    assert(math.abs(rank - 0.5) <= 0.05, s"approx median $approx sits at rank $rank")
  }

  test("stratified sample respects per-stratum fractions") {
    import spark.implicits._
    val df = spark.range(20000).select(
      when(col("id") % 2 === 0, "A").otherwise("B").as("s"), col("id").as("k"))
    val got = Sampling.stratifiedSample(df, col("s"), col("k"),
      Map("A" -> 0.5, "B" -> 0.05))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(math.abs(got("A") - 5000) < 400, s"A=${got("A")}, expected ~5000")
    assert(math.abs(got("B") - 500) < 150, s"B=${got("B")}, expected ~500")
    // a stratum absent from the map is dropped entirely
    val dropped = Sampling.stratifiedSample(df, col("s"), col("k"), Map("A" -> 0.5))
    assert(dropped.filter(col("s") === "B").count() === 0)
  }

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    import graft.operators.SnapshotDiff
    val v1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "s", "v")
    val v2 = Seq((2L, "b", 20L), (3L, "c", 99L), (4L, "d", 40L)).toDF("k", "s", "v")
    val got = SnapshotDiff.diff(v1, v2, "k").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 3L -> "changed", 4L -> "added")) // 2 unchanged
    // the join shuffles (key, digest) projections, not the payload
    val plan = SnapshotDiff.diff(v1, v2, "k").queryExecution.optimizedPlan.toString
    assert(!plan.contains("'s") || plan.contains("md5"), plan)
  }

  test("space-saving heavy hitters: hot items survive a tiny capacity, within error bounds") {
    import spark.implicits._
    import graft.functions.HeavyHitters.heavy_hitters
    val n = 20000
    // skew: item 1 = 50%, item 2 = 25%, 500-key uniform tail
    val df = spark.range(n).select(
      when(col("id") % 2 === 0, 1L)
        .when(col("id") % 4 === 1, 2L)
        .otherwise(col("id") % 500 + 100).as("item"))
    val res = df.agg(heavy_hitters(col("item"), k = 4, capacity = 16).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt", "h.err").as[(Long, Long, Long)].collect()
    val m = res.map(r => r._1 -> ((r._2, r._3))).toMap
    // items above n/capacity are guaranteed present
    assert(m.contains(1L) && m.contains(2L), s"hot items evicted: $res")
    // space-saving counts overestimate: true ∈ [cnt - err, cnt]
    for ((item, truth) <- Seq(1L -> n / 2, 2L -> n / 4)) {
      val (cnt, err) = m(item)
      assert(cnt >= truth && cnt - err <= truth,
        s"item $item: reported $cnt (err $err) vs true $truth")
    }
    // exact regime: capacity >= distinct ⇒ sketch == plain group counts
    val exact = df.groupBy("item").count().orderBy(col("count").desc, col("item"))
      .limit(4).as[(Long, Long)].collect().toSeq
    val sketch = df.agg(heavy_hitters(col("item"), k = 4, capacity = 1000).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt").as[(Long, Long)].collect().toSeq
    assert(sketch === exact)
  }

  test("space-saving heavy hitters: merging a full partial credits what it may have evicted") {
    import spark.implicits._
    import graft.functions.HeavyHitters.heavy_hitters
    // partition 1 = [1, 2, 3, 3] evicts item 1 at capacity 2; partition 2
    // = [1, 1, 1, 1]. Item 1 occurs 5 times, item 3 twice.
    val df = spark.sparkContext.parallelize(Seq(1L, 2L, 3L, 3L, 1L, 1L, 1L, 1L), 2).toDF("item")
    val res = df.agg(heavy_hitters(col("item"), k = 2, capacity = 2).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt", "h.err").as[(Long, Long, Long)].collect()
    val truth = Map(1L -> 5L, 2L -> 1L, 3L -> 2L)
    assert(res.map(_._1).toSeq === Seq(1L, 3L))
    for ((item, cnt, err) <- res)
      assert(cnt - err <= truth(item) && truth(item) <= cnt,
        s"item $item: reported $cnt (err $err) vs true ${truth(item)}")
  }

  test("train/test split routes null keys to train (train ∪ test = df)") {
    import spark.implicits._
    val df = spark.range(100).select(
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).cast("long").as("k"),
      col("id").as("v"))
    val (train, test) = Sampling.trainTestSplit(df, col("k"), testFraction = 0.2)
    assert(train.count() + test.count() === 100, "no row may vanish from both splits")
    assert(test.filter(col("k").isNull).count() === 0, "null keys never land in test")
    // splitColumn agrees with trainTestSplit on the null-key side
    val labels = df.filter(col("k").isNull)
      .select(Sampling.splitColumn(col("k"), 0.2)).as[String].collect()
    assert(labels.forall(_ == "train"))
  }

  test("keyHash is overflow-free across the full long range") {
    import spark.implicits._
    val extremes = Seq(Long.MaxValue, 3500000000L, 2147483647L, 0L, -17L, Long.MinValue + 1)
    val hs = extremes.toDF("k")
      .select(Sampling.keyHash(col("k")).as("h")).as[Long].collect()
    assert(hs.forall(h => h >= 0L && h < 4294967296L), s"hash out of [0,2^32): ${hs.toSeq}")
    // for keys < 2^31 the mask is the identity: hashes match the historic
    // unmasked formula, so existing samples/splits/oracles are unchanged
    val df = spark.range(100000).toDF("k")
    val changed = df.select(
      Sampling.keyHash(col("k")).as("masked"),
      pmod(col("k") * lit(2654435761L), lit(4294967296L)).as("unmasked"))
      .filter(col("masked") =!= col("unmasked")).count()
    assert(changed === 0)
  }

  // ---------------------------------------------------------------- q177

  test("boilerplate prefix census matches driver-side prefix grouping") {
    val sfDir = "/root/testdata/sf0.001"
    val texts = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0))
    // group by the RAW 64-char prefix: collision-free ground truth the
    // hashed query must reproduce exactly (any kernel collision would
    // merge clusters and break this)
    val sizes = texts.groupBy(_.take(64)).map(_._2.length.toLong)
    val expected = sizes.groupBy(identity).map { case (sz, xs) =>
      (sz, xs.size.toLong, sz * xs.size)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q177_boilerplate_prefixes")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected)
  }

  // ---------------------------------------------------------------- q179

  test("ordered string_agg: top-5 ids per source in rank order") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).view.mapValues { xs =>
      xs.sortBy { case (_, id, n) => (-n, id) }.take(5)
        .map(_._2).mkString(",")
    }.toMap
    val got = SparkEntry.queries("q179_source_top_docs_csv")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    assert(got.toMap == expected)
  }
}
