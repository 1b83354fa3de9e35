package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.EventStreams.Event

/** Batch/stream parity: the streaming windowed-count pipeline over a
  * MemoryStream must produce exactly the batch result on the same data. */
class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  private val sample = Seq(
    ev(0, "2024-01-01 10:05:00", 1, "click", 1.0),
    ev(1, "2024-01-01 10:45:00", 1, "click", 2.0),
    ev(2, "2024-01-01 11:05:00", 2, "view", 3.0),
    ev(3, "2024-01-01 11:20:00", 1, "click", 4.0),
    ev(4, "2024-01-01 13:00:00", 2, "view", 5.0))

  test("windowed counts: streaming result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = EventStreams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wc_test")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    val batch = EventStreams.windowedCounts(sample.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    assert(batch.map(_._3).sum == sample.size)
  }

  test("session_window: streaming sessions equal batch sessions, exact gap merges") {
    implicit val sqlCtx = spark.sqlContext
    // gap 30min: 10:00+10:20 merge; 10:20 -> 10:50 lands EXACTLY on the
    // session end and still merges (the end bound is inclusive — a new
    // session needs a gap STRICTLY greater); 11:20:01 is 1s past and splits
    val pts = Seq(
      ev(0, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:20:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:50:00", 1, "click", 4.0),
      ev(4, "2024-01-01 11:20:01", 1, "click", 16.0),
      ev(3, "2024-01-01 09:00:00", 2, "view", 8.0))
    val mem = MemoryStream[Event]
    mem.addData(pts: _*)
    val q = EventStreams.sessionWindowCounts(mem.toDF())
      .writeStream.format("memory").queryName("sw_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sw_test").orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, "2024-01-01 10:00:00.0", 3L, 7.0),   // exact-gap 10:50 merged in
      (1L, "2024-01-01 11:20:01.0", 1L, 16.0),  // 1s past the gap: new session
      (2L, "2024-01-01 09:00:00.0", 1L, 8.0)))
    // batch path produces the identical frame
    val batch = EventStreams.sessionWindowCounts(pts.toDF())
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSeq
    assert(batch == got)
  }

  test("session_window: out-of-order arrival across micro-batches converges") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // the bridge event (10:20) arrives LAST, merging two separate sessions
    mem.addData(ev(0, "2024-01-01 10:00:00", 1, "click", 1.0))
    mem.addData(ev(2, "2024-01-01 10:40:00", 1, "click", 4.0))
    mem.addData(ev(1, "2024-01-01 10:20:00", 1, "click", 2.0))
    val q = EventStreams.sessionWindowCounts(mem.toDF())
      .writeStream.format("memory").queryName("sw_merge_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sw_merge_test").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1L, "2024-01-01 10:00:00.0", 3L, 7.0)))
  }

  test("watermark finalizes windows and drops late events in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedCounts(mem.toDF(), watermark = "2 hours")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      mem.addData(sample: _*) // max ts 13:00 -> watermark 11:00
      q.processAllAvailable()
      mem.addData(ev(99, "2024-01-01 13:30:00", 9, "view", 0.0)) // advance batch
      q.processAllAvailable()
      val emitted = spark.table("wm_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      // the 10:00 window (2 clicks) is below the watermark -> finalized
      assert(emitted.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      // a late event for the already-finalized 10:00 window is dropped
      mem.addData(ev(100, "2024-01-01 10:10:00", 1, "click", 1.0))
      q.processAllAvailable()
      val after = spark.table("wm_test").collect()
        .filter(_.getTimestamp(0).toString == "2024-01-01 10:00:00.0")
        .map(_.getLong(2)).toSeq
      assert(after == Seq(2L), "late data must not reopen a finalized window")
    } finally q.stop()
  }

  test("curated stream sink: drift-guarded landing, idempotent batch replay") {
    val dir = tempDir("graft-curated-stream")
    val path = s"$dir/curated"
    // end-to-end: file-source stream -> foreachBatch -> curated tree
    sample.take(3).toDF().write.parquet(s"$dir/in/b1.parquet")
    val schema = spark.read.parquet(s"$dir/in/b1.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in/*.parquet")
    val q = EventStreams.writeCuratedStream(stream, path,
      Seq("event_type"), s"$dir/ckpt")
    try {
      q.processAllAvailable()
      sample.drop(3).toDF().write.parquet(s"$dir/in/b2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(path)
    assert(back.count() == 5)
    assert(back.select("event_id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 4L))
    // replaying an already-landed batch id REPLACES its partitions —
    // exactly-once contents under foreachBatch's at-least-once retries
    val replayedId = back.select("_batch_id").as[Long].head()
    val replay = back.filter($"_batch_id" === replayedId)
      .drop("_batch_id", "event_type")
      .join(sample.toDF().select("event_id", "event_type"), "event_id")
    EventStreams.landCuratedBatch(replay, replayedId, path, Seq("event_type"))
    assert(spark.read.parquet(path).count() == 5, "replay duplicated rows")
    // a silently drifted upstream batch is refused, not landed
    val drifted = sample.take(1).toDF()
      .drop("value").withColumn("score", lit(1.0))
    intercept[IllegalStateException] {
      EventStreams.landCuratedBatch(drifted, 99L, path, Seq("event_type"))
    }
    assert(spark.read.parquet(path).count() == 5, "drifted batch landed")
  }

  test("windowed counts recover exactly from the checkpoint across a restart") {
    import spark.implicits._
    val dir = tempDir("graft-restart")
    sample.take(3).toDF().write.parquet(s"$dir/in/b1.parquet")
    val schema = spark.read.parquet(s"$dir/in/b1.parquet").schema
    def start(name: String) =
      EventStreams.windowedCounts(
          spark.readStream.schema(schema).parquet(s"$dir/in/*.parquet"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("complete").start()
    val q1 = start("restart_a")
    try q1.processAllAvailable() finally q1.stop()
    // new data lands while the query is DOWN; the restarted query must
    // resume from checkpointed state and source offsets, not reprocess
    // or drop anything
    sample.drop(3).toDF().write.parquet(s"$dir/in/b2.parquet")
    val q2 = start("restart_b")
    try {
      q2.processAllAvailable()
      val streamed = spark.table("restart_b").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = EventStreams.windowedCounts(sample.toDF()).collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        s"restart diverged from batch: $streamed vs $batch")
    } finally {
      q2.stop()
      spark.catalog.dropTempView("restart_a")
      spark.catalog.dropTempView("restart_b")
    }
  }

  test("streaming dedup drops in-horizon duplicates and bounds state by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF(), keyCols = Seq("user_id", "value"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(
        ev(0, "2024-01-01 10:00:00", 1, "click", 7.0),
        ev(1, "2024-01-01 10:05:00", 1, "click", 7.0), // dup within horizon
        ev(2, "2024-01-01 10:10:00", 2, "view", 7.0))  // different key
      q.processAllAvailable()
      // advance watermark far past 10:00 so key (1, 7.0) is evicted
      mem.addData(ev(3, "2024-01-01 15:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      // the key recurs after eviction -> emitted again (bounded state,
      // horizon-scoped dedup semantics)
      mem.addData(ev(4, "2024-01-01 14:30:00", 1, "click", 7.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getAs[Long]("event_id")).toSet
      assert(ids == Set(0L, 2L, 3L, 4L), s"got $ids")
    } finally q.stop()

    // batch twin: plain global dedup
    val batch = EventStreams.dedupStream(sample.toDF(), keyCols = Seq("event_type"))
    assert(batch.count() == 2)
  }

  test("stream-stream join pairs errors with preceding clicks of same user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.clicksBeforeErrors(mem.toDF())
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      mem.addData(
        ev(0, "2024-01-01 10:00:00", 1, "click", 1.0),  // within 1h of error
        ev(1, "2024-01-01 08:00:00", 1, "click", 2.0),  // too old
        ev(2, "2024-01-01 10:20:00", 2, "click", 3.0),  // other user
        ev(3, "2024-01-01 10:30:00", 1, "error", 0.0),
        ev(4, "2024-01-01 11:00:00", 1, "click", 4.0))  // after the error
      q.processAllAvailable()
      // advance both watermarks so results are emitted
      mem.addData(ev(9, "2024-01-01 15:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      val pairs = spark.table("ssj_test").collect()
        .map(r => (r.getAs[Long]("err_id"), r.getAs[Long]("clk_id"))).toSet
      assert(pairs == Set((3L, 0L)), s"got $pairs")
    } finally q.stop()
  }

  test("checkpointed dedup stream recovers state across restart") {
    val base = tempDir("graft-ckpt")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    // single part-file per batch: with multiple files in one micro-batch
    // WHICH of two in-batch duplicates survives is a task-order race
    Seq(
      ev(0, "2024-01-01 10:00:00", 1, "click", 7.0),
      ev(1, "2024-01-01 10:05:00", 1, "click", 7.0), // dup, same run
      ev(2, "2024-01-01 10:10:00", 2, "view", 1.0))
      .toDF().coalesce(1).write.parquet(s"$in/b1.parquet")
    val schema = spark.read.parquet(s"$in/b1.parquet").schema
    def start() = EventStreams.dedupStream(
        spark.readStream.schema(schema).parquet(s"$in/*.parquet"),
        keyCols = Seq("user_id", "value"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).toSet
    assert(afterB1.size == 2 && afterB1.contains(2L) &&
      (afterB1 - 2L).subsetOf(Set(0L, 1L)), s"got $afterB1")

    // new file lands while the query is DOWN; the restarted query must
    // drop the cross-restart duplicate — dedup state came back from the
    // checkpoint, not from reprocessing batch 1
    Seq(
      ev(3, "2024-01-01 10:20:00", 1, "click", 7.0), // dup of pre-restart key
      ev(4, "2024-01-01 10:25:00", 3, "view", 2.0))
      .toDF().coalesce(1).write.parquet(s"$in/b2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val finalIds = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).toSet
    assert(finalIds == afterB1 + 4L, s"got $finalIds (3 must be state-deduped)")
  }

  test("throughStream: Complete-mode aggregate equals the batch result") {
    val batch = sample.toDF()
    val viaStream = EventStreams.throughStream(spark, batch,
        org.apache.spark.sql.streaming.OutputMode.Complete(), inputFiles = 3)(
        df => EventStreams.windowedCounts(df))
      .orderBy("window_start", "event_type")
    val direct = EventStreams.windowedCounts(batch)
      .orderBy("window_start", "event_type")
    assert(viaStream.collect().toSeq == direct.collect().toSeq)
  }

  test("throughStream: wide-watermark stream-stream join equals batch join") {
    val data = Seq(
      ev(0, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:30:00", 1, "error", 0.0), // pairs with 0
      ev(2, "2024-01-01 12:00:00", 1, "error", 0.0), // no click in window
      ev(3, "2024-01-01 12:30:00", 2, "click", 1.0),
      ev(4, "2024-01-01 12:45:00", 2, "error", 0.0), // pairs with 3
      ev(5, "2024-01-01 13:50:00", 2, "error", 0.0)) // 3 is >1h before
    val pairs = EventStreams.throughStream(spark, data.toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append(), inputFiles = 3)(
        df => EventStreams.clicksBeforeErrors(df, watermark = "365 days"))
      .select("err_id", "clk_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 0L), (4L, 3L)))
  }

  test("throughStream: stream-static enrichment join equals batch join") {
    // dim covers users 1 and 2 with distinct segments; user 3's events
    // must drop out of the inner join on both paths
    val dim = Seq((1L, "AUTOMOBILE"), (2L, "BUILDING"), (9L, "FURNITURE"))
      .toDF("c_custkey", "c_mktsegment")
    val data = sample :+ ev(5, "2024-01-01 14:00:00", 3, "click", 6.0)
    val viaStream = EventStreams.throughStream(spark, data.toDF(),
        org.apache.spark.sql.streaming.OutputMode.Complete(), inputFiles = 3)(
        df => EventStreams.enrichedSegmentCounts(df, dim))
      .orderBy("c_mktsegment")
    val direct = EventStreams.enrichedSegmentCounts(data.toDF(), dim)
      .orderBy("c_mktsegment")
    assert(viaStream.collect().toSeq == direct.collect().toSeq)
    // the unmatched user and unmatched dim row are both absent
    assert(viaStream.select("c_mktsegment").as[String].collect().toSeq
      == Seq("AUTOMOBILE", "BUILDING"))
  }

  test("stateful sessionization emits closed sessions with correct sizes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 1: two events 10 min apart (one session), then 2h gap, one more
    mem.addData(
      ev(0, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:10:00", 1, "click", 1.0),
      ev(2, "2024-01-01 12:30:00", 1, "click", 1.0))
    val q = EventStreams.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sess_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      // first session (2 events) closed by the 2h gap; second still open
      assert(closed.toSeq == Seq((1L, 2L)))
      // watermark passes 12:30 + gap -> the idle user's open session is
      // emitted by the event-time timeout and its state evicted
      mem.addData(ev(9, "2024-01-01 16:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(ev(10, "2024-01-01 16:00:01", 9, "view", 0.0)) // extra batch
      q.processAllAvailable()
      val after = spark.table("sess_test").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => r.getAs[Long]("n_events")).sorted.toSeq
      assert(after == Seq(1L, 2L), s"timed-out open session must flush, got $after")
    } finally q.stop()

    // batch twin flushes the trailing session too
    val batch = EventStreams.sessionizeStream(Seq(
      ev(0, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:10:00", 1, "click", 1.0),
      ev(2, "2024-01-01 12:30:00", 1, "click", 1.0)).toDS())
      .collect().map(s => s.n_events).sorted.toSeq
    assert(batch == Seq(1L, 2L))
  }

  test("runningUserStats: Update-mode final state equals the batch aggregate") {
    val batchStats = EventStreams.runningUserStats(sample.toDS())
      .collect().map(s => s.user_id -> s).toMap
    // user 1: events 0,1,3 → n=3, max=4.0, sum=7.0; user 2: n=2, max=5, sum=8
    assert(batchStats(1L).n_events == 3L && batchStats(1L).max_value == 4.0
      && batchStats(1L).value_sum == 7.0)
    assert(batchStats(2L).n_events == 2L && batchStats(2L).value_sum == 8.0)
    // through the real runtime: last emission per user (max n_events)
    // must equal the batch aggregate however the micro-batches split
    val viaStream = EventStreams.throughStream(spark, sample.toDF(),
        org.apache.spark.sql.streaming.OutputMode.Update(), inputFiles = 3)(
        df => EventStreams.runningUserStats(df.as[Event]).toDF())
    val finals = viaStream
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("max_value"), col("value_sum")))
        .as("f"))
      .select(col("user_id"), col("f.n_events"), col("f.max_value"),
        col("f.value_sum"))
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(finals(1L) == ((3L, 4.0, 7.0)) && finals(2L) == ((2L, 5.0, 8.0)))
    // intermediate emissions exist when a user spans micro-batches:
    // every emission's n_events is a distinct prefix count
    val perUser = viaStream.select("user_id", "n_events")
      .as[(Long, Long)].collect().groupBy(_._1)
    perUser.values.foreach { rows =>
      val ns = rows.map(_._2).toSeq
      assert(ns.distinct.size == ns.size)
    }
  }

  test("keyed-table merge: latest wins, replay idempotent, buckets pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_spec")
    try {
      val table = s"$dir/table"
      val b1 = Seq(ev(0, "2024-01-01 10:00:00", 1, "a", 1.0),
        ev(1, "2024-01-01 11:00:00", 2, "b", 2.0)).toDF()
      val b2 = Seq(ev(2, "2024-01-01 12:00:00", 1, "c", 3.0), // newer u1
        ev(3, "2024-01-01 09:00:00", 2, "d", 4.0)).toDF()     // older u2
      EventStreams.mergeBatchIntoKeyedTable(b1, table, Seq("user_id"),
        Seq("ts", "event_id"), buckets = 8)
      EventStreams.mergeBatchIntoKeyedTable(b2, table, Seq("user_id"),
        Seq("ts", "event_id"), buckets = 8)
      def state() = spark.read.parquet(table)
        .select("user_id", "event_id").as[(Long, Long)].collect().toSet
      assert(state() == Set((1L, 2L), (2L, 1L))) // u1 updated, u2 kept
      // replaying batch 2 must not change anything (at-least-once safety)
      EventStreams.mergeBatchIntoKeyedTable(b2, table, Seq("user_id"),
        Seq("ts", "event_id"), buckets = 8)
      assert(state() == Set((1L, 2L), (2L, 1L)))
      // bucket layout: table is partitioned by _kb on disk
      assert(new java.io.File(table).listFiles()
        .exists(_.getName.startsWith("_kb=")))
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("upsertThroughStream drains to the batch latest-per-key result") {
    val out = EventStreams.upsertThroughStream(spark, sample.toDF(),
      keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"),
      inputFiles = 3, buckets = 4)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (2L, 4L)))
  }
}
