package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{max, struct}

import graft.streaming.Stateful

/** Stateful streaming operators: watermark-bounded streaming dedup and
  * custom session state (flatMapGroupsWithState + EventTimeTimeout). */
class StatefulStreamingSpec extends SparkSpec {

  case class Evt(order_id: String, user_id: String, total_amount: Double,
                 event_timestamp: Timestamp)

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    import spark.implicits._
    val input = MemoryStream[Evt](spark)
    val q = Stateful.dedupStream(input.toDF(), Seq("order_id"), "event_timestamp", "30 seconds")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(
        Evt("a", "u1", 10.0, ts("2024-01-01 10:00:00")),
        Evt("a", "u1", 10.0, ts("2024-01-01 10:00:05")), // dup within horizon
        Evt("b", "u2", 20.0, ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("order_id").as[String].collect().sorted.toSeq === Seq("a", "b"))

      // same key again within the same batch horizon → still dropped
      input.addData(Evt("a", "u1", 10.0, ts("2024-01-01 10:00:12")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("streaming session_window honors a DYNAMIC per-event gap " +
    "(views cool off in 5 min, purchases hold 30) — q730's batch twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    case class TEvt(user_id: String, event_type: String, t: Timestamp)
    val input = MemoryStream[(String, String, Timestamp)](spark)
    val gap = when(col("event_type") === "view", lit("5 minutes"))
      .otherwise(lit("30 minutes"))
    val q = input.toDF().toDF("user_id", "event_type", "t")
      .withWatermark("t", "10 seconds")
      .groupBy(session_window(col("t"), gap), col("user_id"))
      .agg(count(lit(1)).as("sz"))
      .select(col("user_id"), col("sz"))
      .writeStream.format("memory").queryName("dyn_sessions")
      .outputMode("append").start()
    try {
      input.addData(
        // u1 views: 4-min gap merges (< 5), 6-min gap splits (> 5)
        ("u1", "view", ts("2024-01-01 10:00:00")),
        ("u1", "view", ts("2024-01-01 10:04:00")),
        ("u1", "view", ts("2024-01-01 10:10:00")),
        // u2 purchases: a 20-min gap would have split under the view
        // gap but merges under the 30-min purchase gap
        ("u2", "purchase", ts("2024-01-01 10:00:00")),
        ("u2", "purchase", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // advance the watermark far past every session end so append emits
      input.addData(("u9", "view", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val out = spark.table("dyn_sessions")
        .filter(col("user_id") =!= "u9")
        .as[(String, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(out("u1") === Seq(1L, 2L),
        "view gap (5 min) should merge the 4-min pair and split the 6-min")
      assert(out("u2") === Seq(2L),
        "purchase gap (30 min) should merge the 20-min pair")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions close on event-time gap and emit one summary") {
    import spark.implicits._
    val input = MemoryStream[Evt](spark)
    val q = Stateful.userSessions(input.toDF(), gapSeconds = 60)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      input.addData(
        Evt("o1", "u1", 10.0, ts("2024-01-01 10:00:00")),
        Evt("o2", "u1", 15.0, ts("2024-01-01 10:00:30")),
        Evt("o3", "u2", 99.0, ts("2024-01-01 10:00:40")))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // sessions still open

      // event time jumps far ahead → watermark passes both timeouts
      input.addData(Evt("o9", "u3", 1.0, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      input.addData(Evt("o10", "u3", 1.0, ts("2024-01-01 10:31:00")))
      q.processAllAvailable()

      val sessions = spark.table("sessions_out")
        .select("user_id", "n_events", "total_amount", "duration_s")
        .as[(String, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
      assert(sessions("u1") === (("u1", 2L, 25.0, 30L)))
      assert(sessions("u2") === (("u2", 1L, 99.0, 0L)))
    } finally q.stop()
  }

  case class Act(user_id: String, event_type: String, amount_cents: Long)

  test("state-v2: ValueState + ListState + MapState all survive a " +
    "stop → restart from the same checkpoint") {
    import spark.implicits._
    import graft.streaming.Stateful.ActivitySnapshot
    val cp = java.nio.file.Files.createTempDirectory("graft-sv2-cp").toString
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    val input = MemoryStream[Act](spark)
    // memory sink cannot recover a checkpoint (update mode); foreachBatch
    // can — collect every emitted snapshot
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[ActivitySnapshot]()
    def start() = Stateful.userActivity(input.toDF(), recentCap = 3)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[ActivitySnapshot], _: Long) =>
        df.collect().foreach(buf.add))
      .option("checkpointLocation", cp).outputMode("update").start()
    try {
      val q1 = start()
      try {
        input.addData(Act("u1", "view", 100L), Act("u1", "view", 200L),
          Act("u1", "purchase", 1000L), Act("u2", "view", 7L))
        q1.processAllAvailable()
      } finally q1.stop()

      // restart from the SAME checkpoint: every state variable must
      // come back — the counter, the trimmed list, and the type map
      val q2 = start()
      try {
        input.addData(Act("u1", "purchase", 3000L))
        q2.processAllAvailable()
        val u1 = buf.toArray(Array.empty[ActivitySnapshot])
          .filter(_.user_id == "u1").maxBy(_.n_orders)
        assert(u1.n_orders === 4L, "ValueState count must include pre-restart batches")
        assert(u1.recent_kept === 3L, "ListState must stay trimmed to the cap")
        assert(u1.recent_sum_cents === 200L + 1000L + 3000L,
          "ListState must hold the last 3 amounts across the restart")
        assert(u1.n_types === 2L, "MapState must still know both event types")
        assert(u1.type_total === 4L, "MapState totals must include pre-restart counts")
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("state-v2 TTL: the TTL'd ValueState expires while the non-TTL " +
    "list and map states persist") {
    import spark.implicits._
    import graft.streaming.Stateful.ActivitySnapshot
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    val input = MemoryStream[Act](spark)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[ActivitySnapshot]()
    // TTL ⇒ TimeMode.ProcessingTime ⇒ the operator requests a batch after
    // EVERY batch (to advance expiry), so noNewData never latches and
    // processAllAvailable would block forever — poll the sink instead
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond) {
        assert(System.nanoTime() < deadline, "timed out waiting for a snapshot")
        Thread.sleep(50)
      }
    }
    val q = Stateful.userActivity(input.toDF(), recentCap = 5,
        countTtl = Some(java.time.Duration.ofMillis(300)))
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[ActivitySnapshot], _: Long) =>
        df.collect().foreach(buf.add))
      .outputMode("update").start()
    try {
      input.addData(Act("u1", "view", 10L))
      await(buf.size() >= 1)
      Thread.sleep(1500) // processing time passes the 300 ms TTL
      input.addData(Act("u1", "purchase", 20L))
      await(buf.size() >= 2)
      val last = buf.toArray(Array.empty[ActivitySnapshot])
        .maxBy(_.recent_sum_cents) // sums grow monotonically: 10 then 30
      assert(last.n_orders === 1L,
        "the TTL'd counter must have expired between the batches")
      assert(last.recent_kept === 2L && last.recent_sum_cents === 30L,
        "the non-TTL ListState must retain both amounts")
      assert(last.n_types === 2L && last.type_total === 2L,
        "the non-TTL MapState must retain both event types")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("transformWithState keeps per-key running totals across batches") {
    import spark.implicits._
    // graft pins the reference's HDFS-backed provider globally;
    // runningTotals itself must re-pin RocksDB (transformWithState
    // supports only RocksDB) — start the query with NO manual override
    // so this test fails if the operator stops doing that.
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    val input = MemoryStream[Evt](spark)
    val totals = Stateful.runningTotals(input.toDF())
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val q = totals
      .writeStream.format("memory").queryName("running_out").outputMode("update").start()
    try {
      input.addData(
        Evt("o1", "u1", 10.0, ts("2024-01-01 10:00:00")),
        Evt("o2", "u1", 15.0, ts("2024-01-01 10:00:10")),
        Evt("o3", "u2", 50.0, ts("2024-01-01 10:00:20")))
      q.processAllAvailable()
      input.addData(Evt("o4", "u1", 5.0, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // update mode: latest row per (user, batch); final running totals win
      val latest = spark.table("running_out")
        .groupBy($"user_id").agg(max(struct($"n_orders", $"total_amount")).as("s"))
        .select($"user_id", $"s.n_orders", $"s.total_amount")
        .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(latest("u1") === ((3L, 30.0))) // state survived across batches
      assert(latest("u2") === ((1L, 50.0)))
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("configure restores the HDFS-backed provider after runningTotals re-pinned RocksDB") {
    import spark.implicits._
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(provider)
    try {
      Stateful.runningTotals(MemoryStream[Evt](spark).toDF())
      GraftSession.configure(spark)
      assert(spark.conf.get(provider).contains("HDFSBackedStateStoreProvider"),
        "configure must re-apply graft's confs to a session it has configured before")
    } finally spark.conf.set(provider, prev)
  }
}
