package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StreamsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedCounts over a MemoryStream emits per-window aggregates") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedCounts(Streams.withBoundedLateness(events, "5 minutes"), "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "b", 3.0))
      q.processAllAvailable()
      // advance watermark past the first window to close it
      input.addData((ts(30), "c", 0.5))
      q.processAllAvailable()
      val out = spark.table("wc").select("event_type", "n").as[(String, Long)].collect().toMap
      assert(out("a") == 2L && out("b") == 1L)
    } finally q.stop()
  }

  test("windowedAggPartials: late rows land in their event-time window (X75)") {
    implicit val sq = spark.sqlContext
    val meas = Seq(graft.ops.AggView.Measure("cents", 2))
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "cents")
    val agg = Streams.windowedAggPartials(events, "ts",
      lateness = "5 minutes", window_ = "10 minutes", Seq("event_type"), meas)
    val q = agg.writeStream.format("memory").queryName("wap")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0))
      q.processAllAvailable()
      input.addData((ts(31), "b", 5.0)) // wm → 10:26, closes [10:00,10:10)
      q.processAllAvailable()
      // LATE: arrives after the 10:31 row, event time 10:25 — its window
      // [10:20,10:30) is still open (end > wm), so it lands there
      input.addData((ts(25), "a", 7.0))
      q.processAllAvailable()
      input.addData((ts(50), "c", 9.0)) // wm → 10:45: flushes 10:20, 10:30
      q.processAllAvailable()
      val out = spark.table("wap")
        .select(col("window_start").cast("string"), col("event_type"),
          col("cnt"), col("sum_cents").cast("double"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(out == Set(
        ("2024-01-01 10:00:00", "a", 2L, 3.0),
        ("2024-01-01 10:20:00", "a", 1L, 7.0), // the late row, right bucket
        ("2024-01-01 10:30:00", "b", 1L, 5.0)), s"got $out")
    } finally q.stop()
    // batch face: same plan minus the watermark — every window, no eviction
    val batch = Seq((ts(1), "a", 1.0), (ts(25), "a", 7.0))
      .toDF("ts", "event_type", "cents")
    assert(Streams.windowedAggPartials(batch, "ts", "5 minutes",
      "10 minutes", Seq("event_type"), meas).count() == 2)
    // reserved-name + measure-spec guards ride AggView's checkSpec
    intercept[IllegalArgumentException](Streams.windowedAggPartials(
      batch.withColumn("window_start", lit(1)), "ts", "5 minutes",
      "10 minutes", Seq("event_type"), meas))
    intercept[IllegalArgumentException](Streams.windowedAggPartials(
      batch, "ts", "5 minutes", "10 minutes", Seq("event_type"),
      Seq(graft.ops.AggView.Measure("nope"))))
  }

  test("sessionize groups events within the gap (batch = streaming plan)") {
    val events = Seq(
      (1L, ts(0), 1.0), (1L, ts(5), 2.0),   // session 1: gap < 10min
      (1L, ts(30), 3.0),                     // session 2
      (2L, ts(0), 4.0)
    ).toDF("user_id", "ts", "value")
    val out = Streams.sessionize(events, "10 minutes")
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("file-source streaming: parquet dir -> windowed counts -> sink") {
    val dir = graft.core.Scratch.workDir("stream").toString
    Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(40), "b", 3.0))
      .toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .parquet(dir)
    val q = Streams.windowedCounts(Streams.withBoundedLateness(stream, "5 minutes"), "10 minutes")
      .writeStream.format("memory").queryName("fc").outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // append a late file; watermark from the first batch closes window 1
      Seq((ts(55), "c", 1.0)).toDF("ts", "event_type", "value")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val out = spark.table("fc").select("event_type", "n").as[(String, Long)].collect().toMap
      assert(out("a") == 2L && out("b") == 1L)
    } finally q.stop()
  }

  test("intervalJoin attributes right events within the delay window (stream-stream)") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val views = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("user_id", "click_id", "ts_click"),
      views.toDF().toDF("user_id", "view_id", "ts_view"),
      Seq("user_id"), "ts_click", "ts_view", maxDelay = "10 minutes",
      lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData((1L, 100L, ts(0)), (1L, 101L, ts(25)), (2L, 102L, ts(1)))
      clicks.addData((1L, 200L, ts(5)), (1L, 201L, ts(30)), (2L, 202L, ts(20)))
      q.processAllAvailable()
      val out = spark.table("ij").select("click_id", "view_id")
        .as[(Long, Long)].collect().toSet
      // click 200 @10:05 <- view 100 @10:00 (5m); click 201 @10:30 <- view
      // 101 @10:25; user 2's view @10:01 is 19m before the click - outside
      assert(out == Set((200L, 100L), (201L, 101L)))
    } finally q.stop()
  }

  test("intervalJoin on BATCH frames runs the same plan as a plain interval join") {
    val clicks = Seq((1L, 200L, ts(5)), (2L, 202L, ts(20)))
      .toDF("user_id", "click_id", "ts_click")
    val views = Seq((1L, 100L, ts(0)), (2L, 102L, ts(15)), (2L, 103L, ts(21)))
      .toDF("user_id", "view_id", "ts_view")
    val out = Streams.intervalJoin(clicks, views, Seq("user_id"),
        "ts_click", "ts_view", "10 minutes")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    // view 103 is AFTER its click; view 100 is 5m before click 200
    assert(out == Set((200L, 100L), (202L, 102L)))
    intercept[IllegalArgumentException](Streams.intervalJoin(clicks,
      views.withColumnRenamed("view_id", "click_id"), Seq("user_id"),
      "ts_click", "ts_view", "10 minutes"))
  }

  test("streamingDedup drops duplicate keys across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "event_id", "value")
    val q = Streams.streamingDedup(events, "ts", "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("sd").outputMode(OutputMode.Append).start()
    try {
      input.addData((ts(1), 1L, 1.0), (ts(2), 2L, 2.0), (ts(3), 1L, 9.0))
      q.processAllAvailable()
      input.addData((ts(4), 2L, 9.0), (ts(5), 3L, 3.0)) // 2 is a cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("sd").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streamingDedup on a BATCH frame degrades to plain dropDuplicates") {
    // dropDuplicatesWithinWatermark is rejected for batch plans — the
    // operator must dispatch, or the batch/streaming parity contract is a lie
    val batch = Seq((ts(1), 1L, 1.0), (ts(2), 2L, 2.0), (ts(3), 1L, 9.0))
      .toDF("ts", "event_id", "value")
    val ids = Streams.streamingDedup(batch, "ts", "10 minutes", Seq("event_id"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("userRunningTotals accumulates per-user state across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Streams.UserEvent]
    val q = Streams.userRunningTotals(input.toDS())
      .writeStream.format("memory").queryName("urt").outputMode(OutputMode.Update).start()
    try {
      input.addData(Streams.UserEvent(1L, ts(0), 10.0), Streams.UserEvent(1L, ts(1), 5.0))
      q.processAllAvailable()
      input.addData(Streams.UserEvent(1L, ts(2), 1.0))
      q.processAllAvailable()
      val last = spark.table("urt").orderBy(col("n_events").desc)
        .as[Streams.UserSnapshot].head()
      assert(last == Streams.UserSnapshot(1L, 3L, 16.0))
    } finally q.stop()
  }

  test("sessionTranscripts (batch) agrees with TimeSeries.assembleSessions (X57)") {
    // the streaming and batch operators implement ONE contract: same gap
    // split, same (µs, event_id) order, same null-token empty slot —
    // divergence here would let q183 and q184 drift apart silently
    val ev = Seq(
      (1L, ts(0), 1L, "view"), (1L, ts(0), 3L, "buy"), (1L, ts(0), 2L, null),
      (1L, ts(5), 4L, "leave"),
      (1L, ts(20), 5L, "return"), // 15-min gap > 10 -> new session
      // EXACTLY 10 min later: touching sessions merge — the boundary both
      // operators must agree on (session_window's convention)
      (1L, ts(30), 7L, "rejoin"),
      (2L, ts(1), 6L, "solo")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val stream = Streams.sessionTranscripts(ev, "10 minutes", col("event_type"))
      .select("user_id", "n_events", "transcript")
      .as[(Long, Long, String)].collect().toSet
    val batch = graft.ops.TimeSeries.assembleSessions(ev, Seq("user_id"),
        "ts", gapSeconds = 600L, token = col("event_type"),
        tieBreak = Seq("event_id"))
      .select("user_id", "n_events", "transcript")
      .as[(Long, Long, String)].collect().toSet
    assert(stream == batch)
    assert(stream.contains((1L, 4L, "view >  > buy > leave")))
    assert(stream.contains((1L, 2L, "return > rejoin")),
      "exact-gap event must merge into the session on BOTH operators")
    assert(stream.contains((2L, 1L, "solo")))
  }
}
