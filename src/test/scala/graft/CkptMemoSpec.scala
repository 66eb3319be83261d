package graft

import org.apache.spark.sql.functions._

/** Round-13: the self-healing checkpoint memo (graph.Backbone /
  * SuffixDedupQueries) and the bench cleanup contract around it.
  *
  * Background (r12 ADVICE, high): unpersisting a locally-checkpointed
  * RDD deletes its blocks irrecoverably, so a memo that kept returning
  * the dead frame poisoned every later consumer with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — and the bench recorded
  * time-to-failure as the query time. Two defenses, both tested here:
  * the memo validates a hit's storage level and rebuilds a dead entry,
  * and Bench.cleanup spares only the checkpointed RDDs that live memo
  * entries own (CkptMemo.liveRddIds).
  */
class CkptMemoSpec extends SparkSpec {

  test("a memo entry whose checkpoint blocks were unpersisted is rebuilt, " +
    "not returned dead") {
    val memo = new CkptMemo[org.apache.spark.sql.DataFrame]()
    var builds = 0
    def build() = {
      builds += 1
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
        .localCheckpoint(true)
    }
    val a = memo.getOrBuild(spark, "t")(build())(Seq(_))
    assert(a.count() === 100 && builds === 1)
    // warm hit: same frame, no rebuild
    val b = memo.getOrBuild(spark, "t")(build())(Seq(_))
    assert(b.count() === 100 && builds === 1)
    // simulate the r12 bench sweep: blanket-unpersist every persistent RDD
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // the memo must detect the dead checkpoint and rebuild — and the
    // rebuilt frame must be fully consumable
    val c = memo.getOrBuild(spark, "t")(build())(Seq(_))
    assert(builds === 2, "dead entry was returned instead of rebuilt")
    assert(c.count() === 100)
  }

  test("distinct sessions/keys never share entries") {
    val memo = new CkptMemo[org.apache.spark.sql.DataFrame]()
    val a = memo.getOrBuild(spark, "k1")(
      spark.range(5).toDF.localCheckpoint(true))(Seq(_))
    val b = memo.getOrBuild(spark, "k2")(
      spark.range(7).toDF.localCheckpoint(true))(Seq(_))
    assert(a.count() === 5 && b.count() === 7)
    // session isolation (r13 ADVICE low): the SAME key in a different
    // SparkSession must build its own entry, not read this session's
    val s2 = spark.newSession()
    var builds2 = 0
    val c = memo.getOrBuild(s2, "k1") {
      builds2 += 1
      s2.range(9).toDF.localCheckpoint(true)
    }(Seq(_))
    assert(builds2 === 1, "a second session shared the first session's entry")
    assert(c.count() === 9 && a.count() === 5)
  }

  test("nested getOrBuild on one memo never deadlocks or throws " +
    "(builds run outside the map — the r13 ADVICE-high recursive-update " +
    "hazard; exercised across many keys so bin co-location is hit)") {
    val memo = new CkptMemo[org.apache.spark.sql.DataFrame]()
    // Backbone's nesting shape: outer build calls getOrBuild for its
    // dependency on the SAME map. Under computeIfAbsent this throws
    // IllegalStateException("Recursive update") whenever outer and
    // inner keys land in one bin — 64 pairs make that near-certain.
    (1 to 64).foreach { i =>
      val outer = memo.getOrBuild(spark, s"outer$i") {
        val dep = memo.getOrBuild(spark, s"inner$i")(
          spark.range(i).toDF.localCheckpoint(true))(Seq(_))
        dep.select((col("id") + 1).as("id")).localCheckpoint(true)
      }(Seq(_))
      assert(outer.count() === i)
    }
  }

  test("liveRddIds tracks entries and invalidateAll drops them " +
    "(the bench cleanup/recheck ownership contract)") {
    val memo = new CkptMemo[org.apache.spark.sql.DataFrame]()
    val a = memo.getOrBuild(spark, "owned")(
      spark.range(11).toDF.localCheckpoint(true))(Seq(_))
    val ids = CkptMemo.liveRddIds
    val aLeafIds = a.queryExecution.logical.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(aLeafIds.nonEmpty && aLeafIds.forall(ids.contains),
      "memo entry's checkpoint RDD not registered as owned")
    var rebuilds = 0
    CkptMemo.invalidateAll()
    assert(aLeafIds.forall(!CkptMemo.liveRddIds.contains(_)),
      "invalidateAll left the entry registered")
    val b = memo.getOrBuild(spark, "owned") {
      rebuilds += 1
      spark.range(11).toDF.localCheckpoint(true)
    }(Seq(_))
    assert(rebuilds === 1, "invalidateAll did not force a rebuild")
    assert(b.count() === 11)
  }

  test("Backbone memo consumers survive a blanket unpersist between reads " +
    "(the r12 bench failure mode, end to end)") {
    val dir = "/root/testdata/sf0.001"
    val e1 = graph.Backbone.coPurchase(spark, dir)
    val n1 = e1.count()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val e2 = graph.Backbone.coPurchase(spark, dir)
    assert(e2.count() === n1, "rebuilt backbone diverged from the original")
  }
}
