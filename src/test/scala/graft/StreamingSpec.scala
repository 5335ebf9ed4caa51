package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sinks.EventSink
import graft.sources.EventSource
import graft.streaming.FlightStreamJob
import graft.streaming.FlightStreamJob.TimeMode

/** End-to-end Structured Streaming: MemoryStream JSON → full topology →
  * memory sinks, in deterministic event-time mode (SURVEY §5.4). Both of the
  * job's queries read the same MemoryStream, so every `addData` is followed
  * by `processAllAvailable` on both before the next. */
class StreamingSpec extends SparkSpec {

  private def ev(id: String, airline: String, sched: String, act: String,
      delayed: Boolean, origin: String = "AAA", destination: String = "BBB") =
    s"""{"flightId":"$id","flightNumber":"$airline-9","airline":"$airline",
       |"origin":"$origin","destination":"$destination","scheduledArrival":"$sched",
       |"actualArrival":"$act","delayed":$delayed,"userId":"u-$id"}"""
      .stripMargin.replace("\n", "")

  test("five-branch topology end-to-end over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-stream-cp").toString

    val branches = FlightStreamJob.start(
      spark,
      EventSource.Existing(input.toDF()),
      TimeMode.Event("scheduled_time"),
      cp,
      EventSink.Memory(_))

    try {
      // two queries: `events` serves the stateless branches, `stats` the rest
      assert(branches.queries.size == 2)
      assert(branches.notifications eq branches.rawEvents)
      assert(Seq(branches.routeStats, branches.hourlyStats).forall(_ eq branches.airlineStats))

      input.addData(
        ev("1", "AA", "2024-01-01T10:00:10", "2024-01-01T10:20:10", true),
        ev("2", "AA", "2024-01-01T10:00:50", "2024-01-01T10:10:50", false),
        ev("3", "BB", "2024-01-01T10:01:10", "2024-01-01T09:51:10", false))
      branches.queries.foreach(_.processAllAvailable())
      assert(new java.io.File(cp).list().toSet == Set("events", "stats"))

      // Raw passthrough and stateless notification branches emit immediately.
      assert(spark.table("raw_events").count() == 3)
      val notes = spark.table("notifications").as[String].collect()
      assert(notes.length == 1 && notes(0).contains(""""flightId":"1""""))

      // Watermarked windows emit once the watermark passes the window end —
      // push a much later sentinel event to close the 10:00 windows.
      input.addData(ev("99", "ZZ", "2024-01-01T12:00:00", "2024-01-01T12:00:00", false))
      branches.queries.foreach(_.processAllAvailable())

      val airline = spark.table("airline_stats")
        .filter(col("airline") === "AA").collect()(0)
      assert(airline.getAs[Long]("total_flights") == 2L)
      assert(airline.getAs[Long]("delayed_flights") == 1L)
      assert(math.abs(airline.getAs[Double]("avg_delay_minutes") - 15.0) < 1e-12)
      assert(math.abs(airline.getAs[Double]("delay_rate") - 50.0) < 1e-12)

      val route = spark.table("route_stats").filter(col("route") === "AAA-BBB")
      assert(route.count() >= 1) // both airlines share the route; 3-min windows
      val hourly = spark.table("hourly_stats").filter(col("hour_of_day") === 10)
      assert(hourly.select(sum("total_flights")).as[Long].collect()(0) == 3L)
    } finally branches.queries.foreach(_.stop())
  }

  test("processing-time mode runs the topology (stateless branches emit)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-proc-cp").toString
    val branches = FlightStreamJob.start(spark, EventSource.Existing(input.toDF()),
      TimeMode.Processing, cp, EventSink.Memory(_))
    try {
      input.addData(ev("P1", "AA", "2024-01-01T10:00:10", "2024-01-01T10:20:10", true))
      branches.queries.foreach(_.processAllAvailable())
      // stateless branches emit immediately; windowed branches hold state
      // until their wall-clock windows close (not awaited here)
      assert(spark.table("raw_events").count() == 1)
      assert(spark.table("notifications").count() == 1)
      assert(branches.airlineStats.isActive)
    } finally branches.queries.foreach(_.stop())
  }

  test("compatBounds=true streams reference-style now()-derived bounds to the stats sinks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-compat-cp").toString
    val branches = FlightStreamJob.start(spark, EventSource.Existing(input.toDF()),
      TimeMode.Event("scheduled_time"), cp, EventSink.Memory(_),
      compatBounds = true)
    try {
      val t0 = System.currentTimeMillis()
      input.addData(
        ev("C1", "AA", "2024-01-01T10:00:10", "2024-01-01T10:20:10", true),
        ev("C2", "ZZ", "2024-01-01T12:00:00", "2024-01-01T12:00:00", false))
      branches.queries.foreach(_.processAllAvailable())
      val t1 = System.currentTimeMillis()
      val r = spark.table("airline_stats").filter(col("airline") === "AA").collect()(0)
      val start = r.getAs[java.sql.Timestamp]("window_start").getTime
      val end = r.getAs[java.sql.Timestamp]("window_end").getTime
      // bounds are the micro-batch's wall clock, not the 2024 event times
      assert(end - start == 2 * 60 * 1000L)
      assert(end >= t0 - 1000 && end <= t1 + 1000)
    } finally branches.queries.foreach(_.stop())
  }

  test("a job whose stats query cannot start leaves no query running") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-half-cp").toString
    // a plain file where the stats checkpoint directory must go
    Files.createFile(java.nio.file.Paths.get(cp, "stats"))
    intercept[Exception](FlightStreamJob.start(spark, EventSource.Existing(input.toDF()),
      TimeMode.Event("scheduled_time"), cp, EventSink.Memory(_)))
    assert(!spark.streams.active.exists(_.name == "events"))
  }

  test("JDBC sink writes micro-batches to an embedded Derby table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-jdbc-cp").toString
    val db = Files.createTempDirectory("graft-derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"

    val parsed = graft.operators.FlightOps.parseFlightEvents(input.toDF())
    val q = EventSink.Jdbc(url, "flights_raw").start(parsed, cp, "jdbc_raw")
    try {
      input.addData(ev("1", "AA", "2024-01-01T10:00:10", "2024-01-01T10:20:10", true))
      q.processAllAvailable()
      input.addData(ev("2", "BB", "2024-01-01T11:00:10", "2024-01-01T11:05:10", false))
      q.processAllAvailable()
      val back = spark.read.jdbc(url, "flights_raw", new java.util.Properties())
      assert(back.count() == 2)
      assert(back.filter(col("IS_DELAYED") === 1).count() == 1)
    } finally q.stop()
  }

  test("idempotent JDBC sink: a replayed epoch leaves exactly one copy") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-jdbc-idem-cp").toString
    val db = Files.createTempDirectory("graft-derby-idem").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"

    val sink = EventSink.JdbcIdempotent(url, "flights_idem")
    val parsed = graft.operators.FlightOps.parseFlightEvents(input.toDF())
    val q = sink.start(parsed, cp, "jdbc_idem")
    try {
      input.addData(ev("1", "AA", "2024-01-01T10:00:10", "2024-01-01T10:20:10", true))
      q.processAllAvailable()
      input.addData(ev("2", "BB", "2024-01-01T11:00:10", "2024-01-01T11:05:10", false))
      q.processAllAvailable()
      val props = new java.util.Properties()
      assert(spark.read.jdbc(url, "flights_idem", props).count() == 2)
      // simulate a restart re-delivering one epoch: three deliveries of the
      // same (epoch, batch) must leave exactly one copy of its rows
      val replayBatch = graft.operators.FlightOps.parseFlightEvents(
        Seq(ev("3", "CC", "2024-01-01T12:00:10", "2024-01-01T12:05:10", false)).toDF("value"))
      sink.writeEpoch(replayBatch, 100L)
      sink.writeEpoch(replayBatch, 100L)
      sink.writeEpoch(replayBatch, 100L)
      val back = spark.read.jdbc(url, "flights_idem", props)
      assert(back.count() == 3, "replayed epoch duplicated rows")
      assert(back.filter(col("BATCH_ID") === 100).count() == 1)

      // the same holds for the Parquet and Memory sinks
      val other = graft.operators.FlightOps.parseFlightEvents(
        Seq(ev("4", "DD", "2024-01-01T13:00:10", "2024-01-01T13:05:10", false)).toDF("value"))
      val dir = Files.createTempDirectory("graft-parquet-idem").toString
      val parquet = EventSink.Parquet(dir)
      val memory = EventSink.Memory("memory_idem")
      Seq(parquet, memory).foreach { sink =>
        sink.write(replayBatch, 100L)
        sink.write(other, 101L)
        sink.write(replayBatch, 100L)
      }
      val files = spark.read.parquet(dir)
      assert(files.count() == 2, "replayed epoch duplicated Parquet rows")
      assert(files.filter(col("batch_id") === 100 && col("flight_id") === "3").count() == 1)
      assert(spark.table("memory_idem").count() == 2)
      assert(spark.table("memory_idem").filter(col("flight_id") === "3").count() == 1)
    } finally q.stop()
  }

  // ---- exactness of the fused stats query ---------------------------------

  /** Four batches, watermark one minute behind the latest event time:
    *  1. out of order inside the watermark (max 10:01:30 → watermark 10:00:30)
    *  2. 10:00:40 lands in the 2-minute window batch 1 opened; max 10:03:10
    *     moves the watermark to 10:02:10, which closes [10:00, 10:02)
    *  3. `L` at 10:01:00 is behind the watermark: its 2-minute window is
    *     closed, so the airline branch drops it, while its 3- and 5-minute
    *     windows are still open and count it
    *  4. a 12:00 sentinel closes every window before 11:59. */
  private val exactBatches = Seq(
    Seq(ev("1", "AA", "2024-01-01T10:00:50", "2024-01-01T10:10:50", true),
      ev("2", "BB", "2024-01-01T10:00:10", "2024-01-01T09:58:10", false),
      ev("3", "AA", "2024-01-01T10:01:30", "2024-01-01T10:04:30", true, destination = "CCC")),
    Seq(ev("4", "AA", "2024-01-01T10:00:40", "2024-01-01T10:00:40", false),
      ev("5", "BB", "2024-01-01T10:03:10", "2024-01-01T10:33:10", true, origin = "CCC"),
      ev("6", "AA", "2024-01-01T10:02:20", "2024-01-01T10:01:20", false)),
    Seq(ev("L", "BB", "2024-01-01T10:01:00", "2024-01-01T10:21:00", true),
      ev("8", "AA", "2024-01-01T10:04:00", "2024-01-01T10:09:00", true, destination = "CCC")),
    Seq(ev("99", "ZZ", "2024-01-01T12:00:00", "2024-01-01T12:00:00", false)))
  private val exactWatermark = java.sql.Timestamp.valueOf("2024-01-01 11:59:00")

  /** Every stats branch's expected rows: its batch form over the events it
    * accepted, restricted to the windows the final watermark closed. */
  private def closedStats(): Map[String, org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    import graft.operators.FlightOps
    val all = FlightOps.parseFlightEvents(exactBatches.flatten.toDF("value"))
    val onTime = all.filter(col("flight_id") =!= "L")
    val tc = col("scheduled_time")
    def closed(df: org.apache.spark.sql.DataFrame) = df.filter(col("window_end") <= lit(exactWatermark))
    Map(
      "airline_stats" -> closed(FlightOps.airlineStats(onTime, tc, "2 minutes")),
      "route_stats" -> closed(FlightOps.routeStats(all, tc, "3 minutes")),
      "hourly_stats" -> closed(FlightOps.hourlyStats(all, tc, "5 minutes")))
  }

  /** `actual` holds exactly `expected`'s rows, as a multiset. */
  private def assertSameRows(name: String, actual: org.apache.spark.sql.DataFrame,
      expected: org.apache.spark.sql.DataFrame): Unit = {
    val a = actual.select(expected.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    assert(expected.count() > 0, name)
    assert(a.exceptAll(expected).count() == 0, s"$name: rows not in the batch form")
    assert(expected.exceptAll(a).count() == 0, s"$name: batch-form rows missing")
  }

  test("stats sinks equal the closed-window batch forms; a late event drops once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = Files.createTempDirectory("graft-exact-cp").toString
    val sinks = Map("airline_stats" -> "ex_airline", "route_stats" -> "ex_route",
      "hourly_stats" -> "ex_hourly", "notifications" -> "ex_notes", "raw_events" -> "ex_raw")
    val branches = FlightStreamJob.start(spark, EventSource.Existing(input.toDF()),
      TimeMode.Event("scheduled_time", "1 minute"), cp, b => EventSink.Memory(sinks(b)))
    try {
      exactBatches.foreach { b =>
        input.addData(b: _*)
        branches.queries.foreach(_.processAllAvailable())
      }
      closedStats().foreach { case (b, expected) => assertSameRows(b, spark.table(sinks(b)), expected) }
      // the late event reaches the stateless branches and the open windows
      assert(spark.table("ex_raw").count() == exactBatches.flatten.size)
      assert(spark.table("ex_notes").count() == 5)
      val dropped = branches.airlineStats.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"late rows dropped: $dropped")
    } finally branches.queries.foreach(_.stop())
  }

  test("restart from the checkpoint root replays into JdbcIdempotent: one row per window") {
    // a file directory, not a MemoryStream: a MemoryStream drops the data
    // of a batch once either query commits it, so it cannot replay for both
    val in = Files.createTempDirectory("graft-restart-in")
    val cp = Files.createTempDirectory("graft-restart-cp").toString
    val db = Files.createTempDirectory("graft-derby-restart").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    def startJob() = FlightStreamJob.start(spark, EventSource.FileDir(in.toString, 1),
      TimeMode.Event("scheduled_time", "1 minute"), cp,
      b => EventSink.JdbcIdempotent(url, s"rs_$b"))
    var files = 0
    def feed(job: FlightStreamJob.Branches, batches: Seq[Seq[String]]): Unit =
      batches.foreach { b =>
        val tmp = Files.createTempFile("graft-restart", ".json")
        Files.write(tmp, b.mkString("", "\n", "\n").getBytes("UTF-8"))
        Files.move(tmp, in.resolve(f"b$files%02d.json"))
        files += 1
        job.queries.foreach(_.processAllAvailable())
      }

    val first = startJob()
    try feed(first, exactBatches.take(3)) finally first.queries.foreach(_.stop())
    // a crash after the sinks wrote the last batch but before it committed:
    // the restarted queries run that batch again under the same epoch id
    Seq("events", "stats").foreach { q =>
      val dir = new java.io.File(s"$cp/$q/commits")
      val last = dir.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      // the checksum goes too, or the re-commit's rename finds it in the way
      Seq(s"$last", s".$last.crc").foreach(f => assert(new java.io.File(dir, f).delete(), f))
    }
    val second = startJob()
    try {
      second.queries.foreach(_.processAllAvailable())
      feed(second, exactBatches.drop(3))
    } finally second.queries.foreach(_.stop())

    val props = new java.util.Properties()
    def table(b: String) = spark.read.jdbc(url, s"rs_$b", props)
    closedStats().foreach { case (b, expected) =>
      assertSameRows(b, table(b), expected)
      val keys = expected.columns.filterNot(Set("total_flights", "delayed_flights",
        "avg_delay_minutes", "delay_rate"))
      assert(table(b).groupBy(keys.toIndexedSeq.map(col): _*).count()
        .filter(col("count") > 1).count() == 0, s"$b: a window was written twice")
    }
    assert(table("raw_events").count() == exactBatches.flatten.size)
    assert(table("notifications").count() == 5)
  }
}
