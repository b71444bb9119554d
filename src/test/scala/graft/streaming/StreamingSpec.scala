package graft.streaming

import graft.{Fixtures, SparkTestSession}
import graft.streaming.EventStreams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def unixMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  test("windowedCounts aggregates per tumbling window with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams
      .windowedCounts(in.toDF(), windowLength = "1 hour", watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    in.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:15:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 10:20:00"), 1, "view", 5.0))
    q.processAllAvailable()
    // advance the watermark past 11:00 + 1h so the 10:00 window closes
    in.addData(Event(4, ts("2024-01-01 13:00:00"), 3, "click", 1.0))
    q.processAllAvailable()
    in.addData(Event(5, ts("2024-01-01 14:00:00"), 3, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("wc")
      .select($"window_start", $"event_type", $"n_events", $"total_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L, 5.0)))
  }

  test("dedupStream emits each distinct key once; withinWatermark bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams
      .dedupStream(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    in.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:15:00"), 1, "click", 2.0), // dup of (1, click)
      Event(3, ts("2024-01-01 10:20:00"), 1, "view", 5.0))
    q.processAllAvailable()
    in.addData(Event(4, ts("2024-01-01 11:00:00"), 1, "click", 9.0)) // still a dup
    q.processAllAvailable()
    val rows = spark.table("dd").select($"user_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    q.stop()
    assert(rows.sorted == Seq((1L, "click"), (1L, "view")))

    // watermark-bounded variant: a duplicate arriving AFTER the watermark
    // passed the first occurrence is re-emitted (state was evicted)
    val in2 = MemoryStream[Event]
    val q2 = EventStreams
      .dedupStream(in2.toDF(), Seq("user_id", "event_type"), tsCol = "ts",
        watermarkDelay = "10 minutes", withinWatermark = true)
      .writeStream.format("memory").queryName("ddw").outputMode("append").start()
    in2.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
    q2.processAllAvailable()
    in2.addData(Event(2, ts("2024-01-01 12:00:00"), 7, "other", 1.0)) // advance watermark
    q2.processAllAvailable()
    in2.addData(Event(3, ts("2024-01-01 12:01:00"), 7, "click", 1.0)) // same key, state evicted
    q2.processAllAvailable()
    val n = spark.table("ddw").where($"event_type" === "click").count()
    q2.stop()
    assert(n == 2, "evicted key must be re-emitted after the watermark passes it")
  }

  test("sessionize emits gap-separated sessions via flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams
      .sessionize(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // user 1: two events 10 min apart (one session)
    in.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // advance watermark beyond 10:40 (session end + gap)
    in.addData(Event(3, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
    q.processAllAvailable()
    // one more batch so the event-time timeout fires
    in.addData(Event(4, ts("2024-01-01 12:30:00"), 2, "view", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sess").as[Session].collect().filter(_.user_id == 1)
    q.stop()
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.n_events == 2 && s.total_value == 3.0)
    assert(s.session_start == ts("2024-01-01 10:00:00") && s.session_end == ts("2024-01-01 10:10:00"))
  }

  test("sessionize: cross-batch out-of-order events match batch (pre-start merge and split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // watermarkDelay (2h) > gap (30min) is the regime where pre-start
    // late events exist: they can precede the open session's start —
    // within the gap (must MERGE and lower session_start) or beyond it
    // (must close as their OWN session, exactly like batch) — while
    // still inside the watermark (VERDICT r16 #2)
    val q = EventStreams
      .sessionize(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sesslate").outputMode("append").start()
    in.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // 11:45 is BEFORE the open session's start but within the gap:
    // pre-fix, the merge arm kept s.start = 12:00 and the event's time
    // vanished from the session bounds
    in.addData(Event(2, ts("2024-01-01 11:45:00"), 1, "b", 2.0))
    q.processAllAvailable()
    // 10:30 is more than a gap before the (now 11:45) session start and
    // within the watermark (12:00 - 2h = 10:00): batch closes it as its
    // own session — pre-fix, `t - s.end <= gapUs` was trivially true
    // and it silently merged
    in.addData(Event(3, ts("2024-01-01 10:30:00"), 1, "c", 4.0))
    q.processAllAvailable()
    // flush twice so the open session's event-time timeout fires
    in.addData(Event(8, ts("2024-01-01 16:00:00"), 2, "x", 1.0))
    q.processAllAvailable()
    in.addData(Event(9, ts("2024-01-01 16:30:00"), 2, "x", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sesslate").as[Session].collect().filter(_.user_id == 1)
      .sortBy(_.session_start.getTime)
    q.stop()
    // batch oracle over the same (time-ordered) log
    val batch = graft.operators.Sessionize.assign(
      Seq((1L, unixMicros(ts("2024-01-01 12:00:00")), 1.0),
        (1L, unixMicros(ts("2024-01-01 11:45:00")), 2.0),
        (1L, unixMicros(ts("2024-01-01 10:30:00")), 4.0)).toDF("user_id", "ts_us", "value"),
      "user_id", "ts_us", "value", gapMicros = 30L * 60 * 1000000)
      .select($"session_start_us", $"session_end_us", $"n_events", $"sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = sessions.map(s =>
      (unixMicros(s.session_start), unixMicros(s.session_end), s.n_events.toLong, s.total_value)).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(sessions.length == 2, s"expected split + merged session: ${sessions.toSeq}")
    assert(sessions(1).session_start == ts("2024-01-01 11:45:00"),
      s"merge must lower session_start: ${sessions(1)}")
  }

  test("assembleConversations emits ordered transcripts on conversation close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams
      .assembleConversations(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("convs").outputMode("append").start()
    // user 1: three turns inside one conversation, delivered OUT OF
    // event-time order within the batch — transcript must still be in
    // time order
    in.addData(
      Event(2, ts("2024-01-01 10:10:00"), 1, "assistant", 1.0),
      Event(1, ts("2024-01-01 10:00:00"), 1, "user", 1.0),
      Event(3, ts("2024-01-01 10:20:00"), 1, "user", 1.0))
    q.processAllAvailable()
    // a late-but-within-watermark turn from another batch joins in order
    in.addData(Event(4, ts("2024-01-01 10:15:00"), 1, "system", 1.0))
    q.processAllAvailable()
    // advance the watermark past end + gap, then once more so the
    // event-time timeout fires and the conversation closes
    in.addData(Event(5, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
    q.processAllAvailable()
    in.addData(Event(6, ts("2024-01-01 12:30:00"), 2, "view", 1.0))
    q.processAllAvailable()
    val convs = spark.table("convs")
      .as[graft.streaming.EventStreams.Conversation].collect().filter(_.user_id == 1)
    q.stop()
    assert(convs.length == 1)
    val c = convs.head
    assert(c.n_turns == 4 && c.transcript == "user > assistant > system > user")
    assert(c.conv_start == ts("2024-01-01 10:00:00") && c.conv_end == ts("2024-01-01 10:20:00"))
  }

  test("assembleConversations: pre-start late turns lower conv_start; ties break by event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams
      .assembleConversations(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("convlate").outputMode("append").start()
    // batch 1: two turns at the SAME timestamp, delivered in reverse
    // event-id order (tie must break by event_id, not arrival)
    in.addData(
      Event(5, ts("2024-01-01 10:20:00"), 1, "tie-b", 1.0),
      Event(4, ts("2024-01-01 10:20:00"), 1, "tie-a", 1.0))
    q.processAllAvailable()
    // batch 2: a late turn EARLIER than the current conv start but at or
    // past the watermark (10:10) — must join AND lower conv_start
    in.addData(Event(6, ts("2024-01-01 10:12:00"), 1, "early-late", 1.0))
    q.processAllAvailable()
    // flush twice so the event-time timeout fires
    in.addData(Event(7, ts("2024-01-01 13:00:00"), 2, "x", 1.0))
    q.processAllAvailable()
    in.addData(Event(8, ts("2024-01-01 13:30:00"), 2, "x", 1.0))
    q.processAllAvailable()
    val convs = spark.table("convlate")
      .as[graft.streaming.EventStreams.Conversation].collect().filter(_.user_id == 1)
    q.stop()
    assert(convs.length == 1)
    val c = convs.head
    assert(c.transcript == "early-late > tie-a > tie-b", c.transcript)
    assert(c.conv_start == ts("2024-01-01 10:12:00"), s"conv_start ${c.conv_start}")
    assert(c.conv_end == ts("2024-01-01 10:20:00"))
  }

  test("assembleConversations: a late turn more than a gap before conv_start splits, like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // watermarkDelay (2h) > gap (30min) is the regime where the split
    // matters: a late arrival can precede the open conversation's start
    // by more than the gap and still be within the watermark
    val q = EventStreams
      .assembleConversations(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("convsplit").outputMode("append").start()
    in.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "opener", 1.0))
    q.processAllAvailable()
    // 11:00 is 60 min before the open conversation's start (> 30-min gap)
    // and within the watermark (12:00 - 2h = 10:00): batch, seeing full
    // time order, puts it in its OWN conversation — streaming must too,
    // not silently merge it because 11:00 - conv_end is negative
    in.addData(Event(2, ts("2024-01-01 11:00:00"), 1, "late-solo", 1.0))
    q.processAllAvailable()
    // flush twice so the open conversation's event-time timeout fires
    in.addData(Event(8, ts("2024-01-01 16:00:00"), 2, "x", 1.0))
    q.processAllAvailable()
    in.addData(Event(9, ts("2024-01-01 16:30:00"), 2, "x", 1.0))
    q.processAllAvailable()
    val convs = spark.table("convsplit")
      .as[graft.streaming.EventStreams.Conversation].collect().filter(_.user_id == 1)
      .sortBy(_.conv_start.getTime)
    q.stop()
    assert(convs.length == 2, s"expected a split, got ${convs.toSeq}")
    assert(convs(0).transcript == "late-solo" && convs(0).n_turns == 1)
    assert(convs(0).conv_start == ts("2024-01-01 11:00:00") &&
      convs(0).conv_end == ts("2024-01-01 11:00:00"))
    assert(convs(1).transcript == "opener" &&
      convs(1).conv_start == ts("2024-01-01 12:00:00"))
    // and it matches batch exactly on the same two-event log
    val batch = graft.operators.Conversations.assemble(
      Seq(Event(1, ts("2024-01-01 12:00:00"), 1, "opener", 1.0),
        Event(2, ts("2024-01-01 11:00:00"), 1, "late-solo", 1.0))
        .toDF().select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"event_type"),
      "user_id", "ts_us", "event_id", "event_type", gapMicros = 30L * 60 * 1000000)
      .select($"conv_start_us", $"conv_end_us", $"n_turns", $"transcript")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val streamed = convs.map(c =>
      (unixMicros(c.conv_start), unixMicros(c.conv_end), c.n_turns.toLong, c.transcript)).toSet
    assert(streamed == batch)
  }

  test("assembleConversations matches the batch operator on a replayed log") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic multi-user log: 40 events across 4 users with gaps
    val log = (0 until 40).map { i =>
      val user = i % 4L
      val us = (i / 4) * (if ((i / 4) % 3 == 0) 2000L * 1000000 else 60L * 1000000)
      Event(i.toLong, new java.sql.Timestamp(1704067200000L + us / 1000), user,
        if (i % 3 == 0) "user" else "assistant", 1.0)
    }
    val in = MemoryStream[Event]
    val q = EventStreams
      .assembleConversations(spark, in.toDS(), gapMinutes = 30, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("convtwin").outputMode("append").start()
    in.addData(log: _*)
    q.processAllAvailable()
    // flush: advance the watermark far past every event, twice
    in.addData(Event(998, new java.sql.Timestamp(1704067200000L + 10000000000L), 99, "x", 0.0))
    q.processAllAvailable()
    in.addData(Event(999, new java.sql.Timestamp(1704067200000L + 20000000000L), 99, "x", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("convtwin")
      .where($"user_id" < 99)
      .select($"user_id", unix_micros($"conv_start").as("s"), unix_micros($"conv_end").as("e"),
        $"n_turns".cast("long"), $"transcript")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    q.stop()
    val batch = graft.operators.Conversations.assemble(
      log.toDF().select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"event_type"),
      "user_id", "ts_us", "event_id", "event_type", gapMicros = 30L * 60 * 1000000)
      .select($"user_id", $"conv_start_us", $"conv_end_us", $"n_turns", $"transcript")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    assert(streamed == batch)
  }

  test("connector micro-batch stream replays cell versions in timestamp-stepped batches") {
    Fixtures.ensureSeeded()
    val stream = spark.readStream
      .format("bigtable")
      .option("store", Fixtures.StoreName)
      .option("table", "balloon_history")
      .option("columnFamily", "measurements")
      .option("qualifiers", "pressure:long,temperature:string")
      .option("onlyReadLatest", "false")
      .option("allowFullScan", "true")
      .option("streamStepMicros", "60000000") // 60s: forces one ts per batch
      .load()
    val q = stream.writeStream.format("memory").queryName("btstream").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("btstream")
      .select(col("_row_key"), unix_micros(col("_timestamp")), col("pressure"), col("temperature"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batchesWithRows = q.recentProgress.count(_.numInputRows > 0)
    assert(rows == Set(
      ("us-west2#3698#2021-03-05-1200", 1614945605100000L, 94000L, "9.1"),
      ("us-west2#3698#2021-03-05-1200", 1614945665200000L, 94558L, "9.6"),
      ("us-west2#3698#2021-03-05-1201", 1614945725300000L, 94122L, "9.7")))
    assert(batchesWithRows >= 2, s"expected stepped replay, got $batchesWithRows batches with rows")
  }

  test("checkpoint restart resumes from the committed offset: no replays, only new cells") {
    import graft.model.{BtCell, CellCodec}
    def seed(extra: Boolean): Unit = {
      val b = new graft.store.ConcurrentBigtable
      b.mutateRows("cp", Seq("k1" -> Seq(BtCell("f", "v", 1000000L, CellCodec.encodeString("a")))))
      b.mutateRows("cp", Seq("k1" -> Seq(BtCell("f", "v", 2000000L, CellCodec.encodeString("b")))))
      if (extra) {
        b.mutateRows("cp", Seq("k2" -> Seq(BtCell("f", "v", 3000000L, CellCodec.encodeString("c")))))
        b.mutateRows("cp", Seq("k2" -> Seq(BtCell("f", "v", 4000000L, CellCodec.encodeString("d")))))
      }
      graft.store.BigtableStores.register("cp-store", b)
    }
    // memory sink can't recover from a checkpoint — use a parquet sink
    def run(outDir: String, checkpoint: String): Unit = {
      val stream = spark.readStream.format("bigtable")
        .option("store", "cp-store").option("table", "cp")
        .option("columnFamily", "f").option("qualifiers", "v:string")
        .option("onlyReadLatest", "false").option("allowFullScan", "true")
        .load()
      val q = stream.select(col("_row_key"), col("v"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cp-out").toString
    seed(extra = false)
    run(outDir, checkpoint)
    assert(spark.read.parquet(outDir).count() == 2)
    // new cells arrive; restart against the SAME checkpoint — the stream
    // must resume past the committed TsOffset and deliver only k2's cells
    seed(extra = true)
    run(outDir, checkpoint)
    val all = spark.read.parquet(outDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(all.size == 4 && all.toSet == Set(("k1", "a"), ("k1", "b"), ("k2", "c"), ("k2", "d")),
      s"restart must deliver only cells past the committed offset (no replays), got $all")
  }

  test("a processing-time stream admits cells written after it started") {
    import graft.model.{BtCell, CellCodec}
    val b = new graft.store.ConcurrentBigtable
    b.mutateRows("live", Seq("k1" -> Seq(BtCell("f", "v", 1000000L, CellCodec.encodeString("a")))))
    graft.store.BigtableStores.register("live-store", b)
    val q = spark.readStream.format("bigtable")
      .option("store", "live-store").option("table", "live")
      .option("columnFamily", "f").option("qualifiers", "v:string")
      .option("onlyReadLatest", "false").option("allowFullScan", "true")
      .load().select(col("_row_key"), col("v"))
      .writeStream.format("memory").queryName("live_sink").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("live_sink").count() == 1)
      b.mutateRows("live", Seq("k2" -> Seq(BtCell("f", "v", 2000000L, CellCodec.encodeString("b")))))
      q.processAllAvailable()
      val rows = spark.table("live_sink").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("k1", "a"), ("k2", "b")), s"the later cell must stream in, got $rows")
    } finally {
      q.stop()
      graft.store.BigtableStores.unregister("live-store")
    }
  }

  test("multi-table change streams union with independent per-source offsets") {
    import graft.model.{BtCell, CellCodec}
    // two tables with DIFFERENT timestamp domains: each source must step
    // by its own TsOffset, not a shared watermark
    val b = new graft.store.ConcurrentBigtable
    b.mutateRows("t1", Seq("a" -> Seq(BtCell("f", "v", 1000000L, CellCodec.encodeString("t1-a")))))
    b.mutateRows("t1", Seq("b" -> Seq(BtCell("f", "v", 2000000L, CellCodec.encodeString("t1-b")))))
    b.mutateRows("t2", Seq("c" -> Seq(BtCell("f", "v", 900000000L, CellCodec.encodeString("t2-c")))))
    b.mutateRows("t2", Seq("d" -> Seq(BtCell("f", "v", 990000000L, CellCodec.encodeString("t2-d")))))
    graft.store.BigtableStores.register("union-store", b)
    def src(table: String) = spark.readStream.format("bigtable")
      .option("store", "union-store").option("table", table)
      .option("columnFamily", "f").option("qualifiers", "v:string")
      .option("onlyReadLatest", "false").option("allowFullScan", "true")
      .option("streamStepMicros", "1000000")
      .load().select(col("_row_key"), col("v"))
    val q = src("t1").unionByName(src("t2"))
      .writeStream.format("memory").queryName("mtu").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val rows = spark.table("mtu").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "t1-a"), ("b", "t1-b"), ("c", "t2-c"), ("d", "t2-d")),
      s"both sources must replay fully despite disjoint ts domains, got $rows")
  }

  test("streaming KMV sketch matches exact distinct users per event type") {
    // the gated stream_distinct_sketch path: a KMV aggregator inside a
    // streaming aggregation keeps <=k longs of state per group; below k
    // the final answer is the exact distinct count
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("stream_distinct_sketch")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the exact comparison reads through the connector so it sees the
    // same decoded fixture the streamed query does, independent of the
    // generator's ts physical type (which has drifted across rounds)
    graft.GraftTables.ensure(spark, dir)
    val want = spark.read.format("bigtable")
      .option("store", graft.GraftTables.storeName(dir))
      .option("table", "events")
      .option("columnFamily", "f")
      .option("partitionCols", "u_key")
      .option("qualifiers", "event_type:string,value:double")
      .option("onlyReadLatest", "false")
      .option("allowFullScan", "true")
      .load()
      .groupBy(col("event_type"))
      .agg(countDistinct(col("u_key")).as("n_users"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(want), s"got=${got.mkString(",")} want=${want.mkString(",")}")
  }

  test("streaming read with onlyReadLatest=true is rejected") {
    Fixtures.ensureSeeded()
    val e = intercept[Exception] {
      spark.readStream
        .format("bigtable")
        .option("store", Fixtures.StoreName)
        .option("table", "balloon_history")
        .option("columnFamily", "measurements")
        .option("qualifiers", "pressure:long,temperature:string")
        .option("allowFullScan", "true")
        .load()
        .writeStream.format("memory").queryName("btfail").trigger(Trigger.AvailableNow()).start()
        .awaitTermination(30000)
    }
    assert(e.getMessage != null)
  }
}
