package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.FlightOps
import graft.streaming.StatefulOps

class StatefulOpsSpec extends SparkSpec {

  private def ev(id: String, airline: String, sched: String, delayMin: Int) = {
    val act = java.time.LocalDateTime.parse(sched).plusMinutes(delayMin)
    s"""{"flightId":"$id","flightNumber":"$airline-1","airline":"$airline",
       |"origin":"A","destination":"B","scheduledArrival":"$sched",
       |"actualArrival":"$act","delayed":${delayMin > 0},"userId":"u"}"""
      .stripMargin.replace("\n", "")
  }

  test("streaming dedup drops re-deliveries within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val deduped = StatefulOps.dedupStream(
      FlightOps.parseFlightEvents(input.toDF()),
      "scheduled_time", "1 hour", Seq("flight_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tempDir("dedup-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev("F1", "AA", "2024-01-01T10:00:00", 20))
      q.processAllAvailable()
      input.addData(
        ev("F1", "AA", "2024-01-01T10:00:00", 20), // duplicate delivery
        ev("F2", "AA", "2024-01-01T10:05:00", 0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("flight_id").as[String].collect().sorted
      assert(ids.toSeq == Seq("F1", "F2"))
    } finally q.stop()
  }

  test("runningAirlineTotals accumulates across micro-batches (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val totals = StatefulOps.runningAirlineTotals(
      StatefulOps.typed(FlightOps.parseFlightEvents(input.toDF())))
    val q = totals.writeStream.format("memory").queryName("totals_out")
      .option("checkpointLocation", tempDir("totals-cp").toString)
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(ev("F1", "AA", "2024-01-01T10:00:00", 20))
      q.processAllAvailable()
      input.addData(
        ev("F2", "AA", "2024-01-01T11:00:00", 10),
        ev("F3", "BB", "2024-01-01T11:00:00", -5))
      q.processAllAvailable()
      val latest = spark.table("totals_out")
        .groupBy("airline")
        .agg(max(struct(col("total_flights"), col("delayed_flights"),
          col("total_delay_minutes"))).as("s"))
        .select(col("airline"), col("s.*"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(latest("AA") == ((2L, 2L, 30L))) // state carried across batches
      assert(latest("BB") == ((1L, 0L, -5L)))
    } finally q.stop()
  }

  test("sessionizeStream: gap sessions close on watermark advance (event-time timeout)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "0 seconds", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", tempDir("sess-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // one session for A (two events 5 min apart), one for B
      input.addData(("A", ts("2024-01-01 10:00:00")),
        ("A", ts("2024-01-01 10:05:00")), ("B", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty, "no session may close before the watermark")
      // watermark jumps to 11:00 → both parked sessions time out; A opens a new one
      input.addData(("A", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      input.addData(("C", ts("2024-01-01 12:00:00"))) // advance watermark again
      q.processAllAvailable()
      input.addData(("C", ts("2024-01-01 13:00:00"))) // fire C-12:00's timeout too
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(got.contains(("A", "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L)))
      assert(got.contains(("B", "2024-01-01 10:02:00", "2024-01-01 10:02:00", 1L)))
      assert(got.contains(("A", "2024-01-01 11:00:00", "2024-01-01 11:00:00", 1L)))
      assert(got.contains(("C", "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1L)))
    } finally q.stop()
  }

  test("sessionizeStream: gap inside one micro-batch splits sessions in the data path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "0 seconds", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_split_out")
      .option("checkpointLocation", tempDir("sess2-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // 10:00 and 10:40 arrive in ONE batch: with a 0s watermark delay the
      // batch pushes the watermark to 10:40, so the 10:00 session closes on
      // the following no-data batch's timeout; the 10:40 session stays
      // parked (10:50 > watermark)
      input.addData(("A", ts("2024-01-01 10:00:00")), ("A", ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      val early = spark.table("sess_split_out")
        .select(col("session_start").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(early == Set(("2024-01-01 10:00:00", 1L)))
    } finally q.stop()
  }

  test("sessionizeStream: late cross-batch event extends the session start backwards") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 1-hour watermark delay keeps the 10:05 straggler above the watermark
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "1 hour", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_late_out")
      .option("checkpointLocation", tempDir("sess4-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("A", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // arrives in a later batch, within gap of the parked session but
      // EARLIER than its start — session_window extends backwards
      input.addData(("A", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-01 14:00:00"))) // push watermark to 13:00
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-01 15:00:00"))) // fire A's timeout
      q.processAllAvailable()
      val got = spark.table("sess_late_out")
        .filter(col("user_id") === "A")
        .select(col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set(("2024-01-01 10:05:00", "2024-01-01 10:10:00", 2L)),
        s"late event must pull session_start back: $got")
    } finally q.stop()
  }

  test("sessionizeStream: straggler beyond the gap opens its own earlier session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // watermark delay (1h) > gap (10min): a late event can arrive more than
    // gapMs BEFORE the parked session's start. session_window would open a
    // separate earlier session (windows [t, t+gap) and [start, end+gap)
    // don't overlap when t < start - gap) — the merge must NOT drag
    // session_start back.
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "1 hour", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_straggle_out")
      .option("checkpointLocation", tempDir("sess5-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("A", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // two stragglers: 30 and 25 min before the parked start — within gap
      // of EACH OTHER (transitive merge into one early session) but beyond
      // the gap from the parked session. NOT emitted yet: the watermark
      // (9:30) hasn't passed their end + gap, so a further straggler could
      // still extend them — emitting now would fragment (session_window
      // holds them too).
      input.addData(("A", ts("2024-01-01 10:00:00")),
        ("A", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      assert(spark.table("sess_straggle_out").isEmpty,
        "open sessions must park until the watermark passes end + gap")
      // the parked session is untouched by the stragglers
      input.addData(("Z", ts("2024-01-01 14:00:00"))) // watermark → 13:00
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-01 15:00:00"))) // fire A's timeout
      q.processAllAvailable()
      val all = spark.table("sess_straggle_out")
        .filter(col("user_id") === "A")
        .select(col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(all == Set(
        ("2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L),
        ("2024-01-01 10:30:00", "2024-01-01 10:30:00", 1L)),
        s"parked session must keep its own start: $all")
    } finally q.stop()
  }

  test("sessionizeStream: straggler within gap of a gap-closed session merges, not fragments") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the round-9 review scenario: gap=10min, watermark delay=1h. Batch 1
    // brings 10:00 and 10:40 together — the 10:00 session is gap-closed
    // INSIDE the batch but the watermark (epoch) hasn't passed it, so it
    // must PARK, because batch 2's straggler 10:05 (above watermark 9:40)
    // belongs to it. Emitting it in batch 1 would fragment: session_window
    // yields ONE session [10:00, 10:05] n=2 plus the 10:40 singleton.
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "1 hour", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_frag_out")
      .option("checkpointLocation", tempDir("sess6-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(("A", ts("2024-01-01 10:00:00")), ("A", ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      input.addData(("A", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-01 14:00:00"))) // watermark → 13:00
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_frag_out")
        .filter(col("user_id") === "A")
        .select(col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set(
        ("2024-01-01 10:00:00", "2024-01-01 10:05:00", 2L),
        ("2024-01-01 10:40:00", "2024-01-01 10:40:00", 1L)),
        s"straggler must merge into the parked earlier session: $got")
    } finally q.stop()
  }

  test("sessionizeStream matches the built-in session_window on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      ("A", ts("2024-01-01 10:00:00")), ("A", ts("2024-01-01 10:05:00")),
      ("A", ts("2024-01-01 10:30:00")), ("B", ts("2024-01-01 10:02:00")),
      ("B", ts("2024-01-01 10:09:00")), ("B", ts("2024-01-01 10:18:00")))
    // batch oracle: the built-in gap-based session aggregation
    val oracle = rows.toDF("user", "ts")
      .groupBy(col("user"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user"), col("session_window.start").cast("string"),
        col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = StatefulOps.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      watermark = "0 seconds", gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.format("memory").queryName("sess_parity_out")
      .option("checkpointLocation", tempDir("sess3-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-02 00:00:00"))) // close everything
      q.processAllAvailable()
      input.addData(("Z", ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_parity_out")
        .filter(col("user_id") =!= "Z")
        .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == oracle,
        s"stream sessions $got != batch session_window $oracle")
    } finally q.stop()
  }

  test("intervalJoinStream: batch parity, boundary semantics, exactly-once matches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pIn = MemoryStream[(String, java.sql.Timestamp, Long)]
    val iIn = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
    val joined = StatefulOps.intervalJoinStream(
      pIn.toDF().toDF("user", "t", "point_id"),
      iIn.toDF().toDF("user", "start", "end", "iv_id"),
      "t", "start", "end", keys = Seq("user"), maxSpanSec = 3600L,
      // generous delay: the out-of-order arrivals below must NOT be dropped
      // as late (late-drop behavior is the engine's, not under test here)
      watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName("ivj_out")
      .option("checkpointLocation", tempDir("ivj-cp").toString)
      .outputMode(OutputMode.Append).start()
    // points: p1 inside both overlapping A-intervals; p2 exactly at an end
    // (excluded); p3 exactly at a start (included); p4 wrong user
    val points = Seq(
      ("A", ts("2024-01-01 10:10:00"), 1L),
      ("A", ts("2024-01-01 10:30:00"), 2L),
      ("A", ts("2024-01-01 10:15:00"), 3L),
      ("B", ts("2024-01-01 10:10:00"), 4L))
    val intervals = Seq(
      ("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), 10L),
      ("A", ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00"), 11L),
      ("C", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 12L))
    try {
      // interleave across micro-batches, intervals arriving after points
      pIn.addData(points.take(2))
      q.processAllAvailable()
      iIn.addData(intervals.take(2))
      q.processAllAvailable()
      pIn.addData(points.drop(2))
      iIn.addData(intervals.drop(2))
      q.processAllAvailable()
      val got = spark.table("ivj_out").select("point_id", "iv_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val oracle = graft.operators.IntervalJoin.intervalJoin(
          points.toDF("user", "t", "point_id"),
          intervals.toDF("user", "start", "end", "iv_id"),
          "t", "start", "end", keys = Seq("user"), bucketWidthSec = 600L)
        .select("point_id", "iv_id").as[(Long, Long)].collect().toSeq.sorted
      assert(got == oracle, s"stream $got != batch $oracle")
      // p1 only in iv 10 (before iv 11 opens), p2 only in iv 11
      // (end-exclusive on iv 10), p3 in both (start-inclusive on iv 11)
      assert(got == Seq((1L, 10L), (2L, 11L), (3L, 10L), (3L, 11L)))
    } finally q.stop()
  }

  test("intervalJoinStream left_outer: unmatched point emits nulls after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pIn = MemoryStream[(String, java.sql.Timestamp, Long)]
    val iIn = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
    val joined = StatefulOps.intervalJoinStream(
      pIn.toDF().toDF("user", "t", "point_id"),
      iIn.toDF().toDF("user", "start", "end", "iv_id"),
      "t", "start", "end", keys = Seq("user"), maxSpanSec = 600L,
      watermark = "0 seconds", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ivj_lo_out")
      .option("checkpointLocation", tempDir("ivjlo-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // p1 covered by an interval; p2 outside every interval
      pIn.addData(("A", ts("2024-01-01 10:05:00"), 1L),
        ("A", ts("2024-01-01 10:20:00"), 2L))
      iIn.addData(("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 7L))
      q.processAllAvailable()
      // push both watermarks far past p2 + maxSpan so its no-match is proven
      pIn.addData(("Z", ts("2024-01-01 12:00:00"), 99L))
      iIn.addData(("Z", ts("2024-01-01 12:00:00"), ts("2024-01-01 12:01:00"), 98L))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("ivj_lo_out")
        .filter(col("user") === "A")
        .select(col("point_id"), col("iv_id"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(got == Set((1L, 7L), (2L, -1L)),
        s"expected match + null-padded unmatched point, got $got")
    } finally q.stop()
  }

  test("intervalJoinStream: an interval longer than maxSpanSec raises") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pIn = MemoryStream[(String, java.sql.Timestamp, Long)]
    val iIn = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
    val joined = StatefulOps.intervalJoinStream(
      pIn.toDF().toDF("user", "t", "point_id"),
      iIn.toDF().toDF("user", "start", "end", "iv_id"),
      "t", "start", "end", keys = Seq("user"), maxSpanSec = 60L,
      watermark = "0 seconds")
    val q = joined.writeStream.format("memory").queryName("ivj_bad_out")
      .option("checkpointLocation", tempDir("ivjb-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      pIn.addData(("A", ts("2024-01-01 10:00:30"), 1L))
      iIn.addData(("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 2L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("interval span exceeds")), msgs(e).mkString("; "))
    } finally q.stop()
  }
}
