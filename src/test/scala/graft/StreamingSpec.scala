package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Structured Streaming truth (SURVEY §5.2-4): watermark late-row drop and
  * session-window merging over MemoryStream replays with controlled
  * disorder. Not oracle-checkable — these tests ARE the gate for the
  * streaming ops.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** 1-hour tumbling counts + value sums per event_type, late rows beyond
    * the watermark dropped: the streaming form of `stream_tumbling`, whose
    * watermark `stream_watermark` projects onto a batch. */
  private def tumblingCounts(events: DataFrame, watermark: String) =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** 1-hour windows sliding every 30 minutes: the streaming form of
    * `stream_sliding`. */
  private def slidingCounts(events: DataFrame) =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  test("tumbling watermark: on-time rows aggregate, row behind watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = tumblingCounts(
      input.toDF().toDF("ts", "event_type", "value"), watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      // batch 1: two rows in the 10:00 window
      input.addData((ts("2024-01-01 10:10:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 2.0))
      q.processAllAvailable()
      // batch 2: advance event time far ahead → watermark passes 11:00,
      // the 10:00 window closes and emits
      input.addData((ts("2024-01-01 13:00:00"), "view", 5.0))
      q.processAllAvailable()
      val afterClose = spark.table("wm_out")
        .select("window_start", "event_type", "n", "sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(afterClose == Set((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))
      // batch 3: a late click at 10:30 — behind the ~12:00 watermark → dropped
      input.addData((ts("2024-01-01 10:30:00"), "click", 100.0))
      q.processAllAvailable()
      // batch 4: advance further so anything pending would flush
      input.addData((ts("2024-01-01 16:00:00"), "view", 1.0))
      q.processAllAvailable()
      val finalRows = spark.table("wm_out")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      // the late row produced no new/updated 10:00 window
      assert(finalRows.count(_._1 == ts("2024-01-01 10:00:00")) == 1)
      assert(finalRows.find(_._1 == ts("2024-01-01 10:00:00")).get._3 == 2L)
    } finally q.stop()
  }

  test("session_window: rows within gap merge into one session, across gap split") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val sess = StreamOps.sessionCounts(
      input.toDF().toDF("ts", "user_id").withColumn("value", lit(1.0)),
      gap = "30 minutes", watermark = "1 hour")
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:20:00"), 1L),  // merges (gap 20m < 30m)
        (ts("2024-01-01 11:30:00"), 1L),  // new session (gap 70m)
        (ts("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), 9L)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events", "t_start")
        .as[(Long, Long, java.sql.Timestamp)].collect().toSet
      assert(rows.contains((1L, 2L, ts("2024-01-01 10:00:00"))))
      assert(rows.contains((1L, 1L, ts("2024-01-01 11:30:00"))))
      assert(rows.contains((2L, 1L, ts("2024-01-01 10:05:00"))))
    } finally q.stop()
  }

  test("file-source streaming matches the batch analog on real events data") {
    // readStream over the sf0.001 events parquet (nanos → NTZ conversion,
    // as in Tables.events), complete-mode tumbling aggregation — must
    // reproduce the batch stream_tumbling relation exactly.
    val d = "/root/testdata/sf0.001"
    val raw = Tables.events(spark, d) // batch read fixes the post-conversion schema
    // FileStreamSource needs a directory — stage the single file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val rawSchema = spark.read
      .option("mergeSchema", "false").parquet(s"$d/events.parquet").schema
    // ts layout depends on the fixture writer (nanos BIGINT vs µs
    // timestamp) — branch exactly as Tables.events does
    val tsNorm: org.apache.spark.sql.Column =
      rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
        case _ => col("ts").cast("timestamp_ntz")
      }
    val streamed = spark.readStream.schema(rawSchema).parquet(dir)
      .withColumn("ts", tsNorm)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp").as("window_start"),
        col("event_type"), col("n"))
    val q = streamed.writeStream.format("memory").queryName("file_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_out")
        .orderBy("window_start", "event_type")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq
      val want = raw.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming session_window equals the batch stream_session relation on real events") {
    // the declared stream_session key claims its streaming variant is the
    // same operator — prove it: MemoryStream replay of the sf0.001 events
    // in one batch, complete-mode session aggregation, vs the batch key.
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, d)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val streamed = input.toDF().toDF("user_id", "ts")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))
    val q = streamed.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("user_id", "session_start")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
      val want = graft.ops.Events.streamSession.fn(spark, d)
        .select(col("user_id"), col("session_start").cast("timestamp"), col("n_events"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions equal batch sessionize on real events") {
    // feed the sf0.001 events through the CUSTOM-state sessionizer in two
    // micro-batches (split mid-stream to exercise cross-batch state),
    // then a far-future sentinel per user to close every tail session;
    // the closed sessions must be exactly the batch sessionize relation.
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, d)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("eus"))
      .as[(Long, Long)].collect().toSeq
      .sortBy(_._2) // time-respecting batch split — the ordering contract
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val sentinelEus = rows.map(_._2).max + 86400000000L // +1 day closes all
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.statefulSessions(input.toDS())
      .toDF("user_id", "s_eus", "e_eus", "n_events")
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(rows.map(_._1).distinct.map(u => (u, sentinelEus)))
      q.processAllAvailable()
      val got = spark.table("fmgws_out")
        .filter(col("s_eus") < sentinelEus) // drop the sentinel sessions themselves
        .orderBy("user_id", "s_eus")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = graft.ops.Events.sessionize(Tables.events(spark, d))
        .select(col("user_id"),
          unix_micros(col("t_start").cast("timestamp")).as("s_eus"),
          unix_micros(col("t_end").cast("timestamp")).as("e_eus"),
          col("n_events"))
        .orderBy("user_id", "s_eus")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("statefulSessions: cross-batch late events never corrupt the open session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.statefulSessions(input.toDS(), gapUs = 1800L)
      .toDF("user_id", "s", "e", "n")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 10000L)); q.processAllAvailable()
      // batch 2: one event 1000 before the open session's span (merges,
      // extending start backwards) and one far older (emitted as a
      // best-effort singleton — its session may already be gone)
      input.addData((1L, 9000L), (1L, 1L)); q.processAllAvailable()
      // close everything with a far-future event
      input.addData((1L, 100000L)); q.processAllAvailable()
      val got = spark.table("late_out")
        .filter(col("s") < 100000L).orderBy("s")
        .as[(Long, Long, Long, Long)].collect().toSeq
      // singleton for the very-late event; merged session (9000..10000, n=2)
      assert(got == Seq((1L, 1L, 1L, 1L), (1L, 9000L, 10000L, 2L)))
      got.foreach { case (_, s, e, _) => assert(s <= e) } // never inverted
    } finally q.stop()
  }

  test("statefulSessionsWatermarked: late-beyond-watermark dropped, timeout closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamOps.statefulSessionsWatermarked(
      input.toDF().toDF("user_id", "ts"),
      gapUs = 1800000000L, watermark = "1 hour")
      .toDF("user_id", "s_eus", "e_eus", "n")
      .writeStream.format("memory").queryName("wm_sess_out")
      .outputMode("append").start()
    def us(s: String) = ts(s).getTime * 1000L
    try {
      // batch 1: user 1 session of two events (20 min apart, gap 30 min)
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // batch 2: another user far ahead → watermark rises to 12:00, which
      // passes user 1's last+gap (10:50) → the session closes by TIMEOUT,
      // with no closing event from user 1 (the capability the best-effort
      // form lacks)
      input.addData((9L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val afterTimeout = spark.table("wm_sess_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterTimeout ==
        Set((1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"), 2L)))
      // batch 3: user 1 event at 10:30 — inside the emitted session's gap
      // reach but BEHIND the 12:00 watermark → deterministically dropped
      // (the best-effort form would emit a wrong singleton)
      input.addData((1L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // batch 4: advance far so anything pending would flush
      input.addData((9L, ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      val finalRows = spark.table("wm_sess_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      // no new user-1 output appeared; user 9's 13:00 session closed too
      assert(finalRows ==
        Set((1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00"), 2L),
          (9L, us("2024-01-01 13:00:00"), us("2024-01-01 13:00:00"), 1L)))
    } finally q.stop()
  }

  test("statefulSessionsWatermarked: admitted out-of-order event bridges two open sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamOps.statefulSessionsWatermarked(
      input.toDF().toDF("user_id", "ts"),
      gapUs = 1800000000L, watermark = "4 hours") // wide disorder horizon
      .toDF("user_id", "s_eus", "e_eus", "n")
      .writeStream.format("memory").queryName("bridge_out")
      .outputMode("append").start()
    def us(s: String) = ts(s).getTime * 1000L
    try {
      // batch 1: two sessions 50 min apart (> 30 min gap) — both stay
      // mutable because the 4h watermark hasn't passed their end+gap
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      // batch 2: 10:25 arrives late but above the watermark — it is within
      // gap of BOTH sessions, so batch semantics say ONE session 10:00..10:50
      input.addData((1L, ts("2024-01-01 10:25:00")))
      q.processAllAvailable()
      // batch 3: advance the watermark past 11:20 → the bridged session closes
      input.addData((9L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val got = spark.table("bridge_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got ==
        Set((1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:50:00"), 3L)))
      // the single-open-session best-effort form CANNOT produce this
      // bridge — it would have closed 10:00 on 10:50's arrival
    } finally q.stop()
  }

  test("statefulSessionsWatermarked equals batch sessionize on real events (timeout-closed)") {
    // replay the sf0.001 events in two time-respecting micro-batches, then
    // advance the watermark with one sentinel on an unused user: EVERY real
    // session must emit by timeout and equal the batch relation exactly —
    // no per-user closing sentinels (the best-effort test needs those).
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, d)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .as[(Long, java.sql.Timestamp)].collect().toSeq
      .sortBy(_._2.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val sentinel = new java.sql.Timestamp(rows.last._2.getTime + 30L * 86400000L)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamOps.statefulSessionsWatermarked(
      input.toDF().toDF("user_id", "ts"))
      .toDF("user_id", "s_eus", "e_eus", "n_events")
      .writeStream.format("memory").queryName("wm_parity_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData((-1L, sentinel)); q.processAllAvailable()
      val got = spark.table("wm_parity_out")
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "s_eus")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = graft.ops.Events.sessionize(Tables.events(spark, d))
        .select(col("user_id"),
          unix_micros(col("t_start").cast("timestamp")).as("s_eus"),
          unix_micros(col("t_end").cast("timestamp")).as("e_eus"),
          col("n_events"))
        .orderBy("user_id", "s_eus")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("dedupEvents: within-watermark re-delivery dropped, first arrival wins") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamOps.dedupEvents(
      input.toDF().toDF("event_id", "ts", "payload"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), "first"),
        (2L, ts("2024-01-01 10:05:00"), "other"))
      q.processAllAvailable()
      // batch 2: id 1 re-delivered (same ts and a different-ts replay) —
      // both inside the watermark window → dropped, "first" stands
      input.addData((1L, ts("2024-01-01 10:00:00"), "dup"),
        (1L, ts("2024-01-01 10:10:00"), "late-dup"))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select("event_id", "payload").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "first"), (2L, "other")))
    } finally q.stop()
  }

  test("sliding windows: an event lands in exactly two 1h/30min windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = slidingCounts(input.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:40:00"), "click", 1.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), "view", 1.0)) // close windows
      q.processAllAvailable()
      val starts = spark.table("slide_out")
        .filter(col("window_start") < ts("2024-01-01 12:00:00"))
        .select("window_start").as[java.sql.Timestamp].collect().toSet
      assert(starts == Set(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
    } finally q.stop()
  }

  test("stream-stream interval join equals batch intervalJoin; boundary = strictly-after, exact-gap inclusive") {
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts, user_id) per side
    val views = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (2L, ts("2024-01-01 10:02:00"), 1L),
      (3L, ts("2024-01-01 10:00:00"), 2L))
    val clicks = Seq(
      (11L, ts("2024-01-01 10:05:00"), 1L), // exactly 5 min after v1 → IN; 3 min after v2 → IN
      (12L, ts("2024-01-01 10:00:00"), 1L), // equal ts as v1 → OUT (strictly-after)
      (13L, ts("2024-01-01 10:10:30"), 1L), // > 5 min after both → OUT
      (14L, ts("2024-01-01 10:04:00"), 2L)) // 4 min after v3 → IN
    val expected = Set((1L, 11L), (2L, 11L), (3L, 14L))
    // batch form — the stream_join key's relation
    val batch = graft.ops.Events.intervalJoin(
      views.toDF("event_id", "tsr", "user_id")
        .select(col("event_id"), col("tsr").cast("timestamp_ntz").as("ts"), col("user_id")),
      clicks.toDF("event_id", "tsr", "user_id")
        .select(col("event_id"), col("tsr").cast("timestamp_ntz").as("ts"), col("user_id")),
      maxGapUs = 300000000L)
      .select("l_event_id", "r_event_id")
      .as[(Long, Long)].collect().toSet
    assert(batch == expected)
    // streaming form: two MemoryStreams, watermarked, time-bound condition
    val lIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamOps.streamIntervalJoin(
      lIn.toDF().toDF("event_id", "ts", "user_id"),
      rIn.toDF().toDF("event_id", "ts", "user_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      lIn.addData(views: _*)
      rIn.addData(clicks: _*)
      q.processAllAvailable()
      // advance BOTH watermarks (the join watermark is the min) → flush
      lIn.addData((99L, ts("2024-01-01 12:00:00"), 9L))
      rIn.addData((98L, ts("2024-01-01 12:00:00"), 8L))
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select("l_event_id", "r_event_id")
        .as[(Long, Long)].collect().toSet
      assert(streamed == expected,
        s"stream-stream join diverged from batch: $streamed vs $expected")
    } finally q.stop()
  }

  test("left-outer interval join: matched pair emits; unmatched view emits NULLS only after watermark proves absence") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamOps.streamIntervalJoinOuter(
      lIn.toDF().toDF("event_id", "ts", "user_id"),
      rIn.toDF().toDF("event_id", "ts", "user_id"))
    val q = joined.writeStream.format("memory").queryName("ssoj_out")
      .outputMode("append").start()
    try {
      // view 1 gets a click inside 5 min; view 2 never gets one
      lIn.addData((1L, ts("2024-01-01 10:00:00"), 1L),
        (2L, ts("2024-01-01 10:00:00"), 2L))
      rIn.addData((10L, ts("2024-01-01 10:03:00"), 1L))
      q.processAllAvailable()
      def rows() = spark.table("ssoj_out")
        .select("l_event_id", "r_event_id")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // the unmatched view 2 must NOT have emitted yet — its match window
      // is still open and absence is unproven
      assert(rows() == Set((1L, Some(10L))), s"premature null emit: ${rows()}")
      // advance BOTH watermarks far past view 2's window → null row lands
      lIn.addData((98L, ts("2024-01-01 12:00:00"), 9L))
      rIn.addData((99L, ts("2024-01-01 12:00:00"), 8L))
      q.processAllAvailable()
      lIn.addData((96L, ts("2024-01-01 14:00:00"), 9L))
      rIn.addData((97L, ts("2024-01-01 14:00:00"), 8L))
      q.processAllAvailable()
      assert(rows().contains((2L, None)),
        s"watermark passed but unmatched left row never emitted: ${rows()}")
    } finally q.stop()
  }

  test("foreachBatch parquet sink: batch crashed after write, before commit, replays exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val out = s"$dir/out"; val ckp = s"$dir/ckp"
    val input = MemoryStream[Long]
    val writer = StreamOps.parquetBatchWriter(out)
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start() = input.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        writer(b, id)
        // crash AFTER the sink write but BEFORE Spark commits the batch
        // to the checkpoint — the at-least-once window idempotence covers
        if (crashArmed.getAndSet(false))
          throw new RuntimeException("injected crash between write and commit")
      }.start()

    val q1 = start()
    input.addData(1L, 2L)
    q1.processAllAvailable()                  // batch 0 written + committed
    crashArmed.set(true)
    input.addData(3L, 4L)
    intercept[Exception] { q1.processAllAvailable() } // batch 1 dies post-write
    assert(!q1.isActive)
    // the crash DID land batch 1's rows — this is the duplicate window a
    // naive append sink would double on restart
    val afterCrash = spark.read.parquet(out)
      .select("v", "batch_id").as[(Long, Long)].collect().toSet
    assert(afterCrash == Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))

    val q2 = start()                           // same checkpoint → replay batch 1
    try {
      q2.processAllAvailable()
      input.addData(5L)                        // and the stream keeps going
      q2.processAllAvailable()
      val finalRows = spark.read.parquet(out)
        .select("v", "batch_id").as[(Long, Long)].collect().toSeq
      assert(finalRows.size == 5, s"replay duplicated rows: $finalRows")
      assert(finalRows.toSet ==
        Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L)))
    } finally q2.stop()
  }

  test("cdcMergeWriter: replay-idempotent, batch-order-insensitive, tombstone outranks older upsert") {
    def chg(rows: (Long, String, Double, Long)*): DataFrame =
      rows.toDF("k", "op", "v", "event_id")
    // the landed state as stream_upsert_sink reads it: the latest
    // version, tombstones filtered
    def state(root: String): Set[(Long, String, Double, Long)] =
      spark.read.parquet(StreamOps.FileSink.cdcMerge.landed(root))
        .filter(col("op") =!= "error")
        .as[(Long, String, Double, Long)].collect().toSet
    def rawLatest(root: String): Set[(Long, String, Double, Long)] = {
      val vs = new java.io.File(root).listFiles
        .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong)
      spark.read.parquet(s"$root/v=${vs.max}")
        .as[(Long, String, Double, Long)].collect().toSet
    }
    // tombstone with a HIGHER sequence arrives in an EARLIER batch than
    // an upsert with a lower sequence — the delete must win
    val b0 = chg((1L, "purchase", 10.0, 5L), (2L, "error", 0.0, 9L))
    val b1 = chg((2L, "purchase", 99.0, 7L), (3L, "purchase", 3.0, 2L))
    val rootA = java.nio.file.Files.createTempDirectory("graft_cdcA").toString
    val wA = StreamOps.cdcMergeWriter(rootA)
    wA(b0, 0L); wA(b1, 1L)
    val finalA = state(rootA)
    assert(finalA == Set((1L, "purchase", 10.0, 5L), (3L, "purchase", 3.0, 2L)),
      s"tombstone did not outrank the older upsert: $finalA")
    // key 2 must still be IN raw state as a tombstone (filtered at read)
    assert(rawLatest(rootA).exists { case (k, op, _, e) =>
      k == 2L && op == "error" && e == 9L })
    // replay idempotence: re-running the last batch rebuilds v=1 identically
    wA(b1, 1L)
    assert(state(rootA) == finalA, "crash replay changed the state")
    // order insensitivity: batches applied in the opposite order converge
    val rootB = java.nio.file.Files.createTempDirectory("graft_cdcB").toString
    val wB = StreamOps.cdcMergeWriter(rootB)
    wB(b1, 0L); wB(b0, 1L)
    assert(state(rootB) == finalA, "batch order changed the fixpoint")
  }

  test("restartResume: life 2 consumes ONLY the post-restart files and the recovered snapshot equals the batch aggregate") {
    val ev = Seq.tabulate(60)(i =>
        (i.toLong, (i % 5).toLong, (i % 7) + 0.25)) // 12 rows per user
      .toDF("event_id", "user_id", "value")
    val d = java.nio.file.Files.createTempDirectory("graft_rr").toString
    val (snap, rows1, rows2) = StreamOps.restartResumeLanded(spark, d, "rrspec",
      ev.withColumn("b", pmod(col("event_id"), lit(6)).cast("int")), restartAt = 3)
    // no-duplicate-consumption pin: each query life saw exactly its
    // half (batches event_id % 6 < 3 ↔ >= 3 → 30/30); a re-read of committed
    // files would push rows2 past 30, a lost offset log past 60
    assert(rows1 == 30L, s"life 1 consumed $rows1 rows, expected 30")
    assert(rows2 == 30L,
      s"life 2 consumed $rows2 rows — committed files re-read or offset log lost")
    // recovered-state pin: the final snapshot is the batch aggregate
    // over BOTH halves (losing the state store would halve the counts)
    val got = snap.select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    val want = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"snapshot after restart != batch aggregate: $got vs $want")
  }

  test("stream_ann_upsert equals the batch sim_ann_upsert relation (exactly-once index ingestion)") {
    // the two gates share one oracle; this pins the equality on the
    // Spark side too — a dropped microbatch, a doubled replay row that
    // survives the sink dedup, or an increment row influencing the
    // model would each break it
    val d = "/root/testdata/sf0.001"
    val batch = graft.ops.Ann.simAnnUpsert.fn(spark, d)
    val streamed = graft.ops.Ann.streamAnnUpsert.fn(spark, d)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      s"streamed index diverged from batch upsert:\n" +
        s"batch=${batch.collect().toSeq}\nstream=${streamed.collect().toSeq}")
  }

  test("checkpointed file-stream gates return their typed empty relation on empty events") {
    // every events-fed gate stages, streams and lands nothing on a
    // zero-row events table; each must still return the schema it
    // returns on real data, as its DuckDB oracle does
    val sf = "/root/testdata/sf0.001"
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_ev").toString
    graft.Tables.events(spark, sf).limit(0).write.parquet(s"$empty/events.parquet")
    val gates = Seq(graft.ops.Events.streamFileSink, graft.ops.Events.streamStatefulSession,
      graft.ops.Events.streamUpsertSink, graft.ops.Events.streamLateDrop,
      graft.ops.Events.streamJoinSink, graft.ops.Events.streamRestartResume)
    for (g <- gates) {
      val real = g.fn(spark, sf)
      val got = g.fn(spark, empty)
      assert(got.count() == 0L, s"${g.name}: rows on empty events")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        real.schema.map(f => (f.name, f.dataType)),
        s"${g.name}: ${got.schema.simpleString} vs ${real.schema.simpleString}")
    }
  }
}
