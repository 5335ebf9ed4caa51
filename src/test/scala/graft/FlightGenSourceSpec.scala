package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.FlightOps

/** DataSource V2 connector: batch + micro-batch reads of the deterministic
  * flight-event generator, consumed through the same parse path as Kafka. */
class FlightGenSourceSpec extends SparkSpec {
  import spark.implicits._

  test("batch read: partitioned, deterministic, and fully parseable") {
    val df = spark.read.format("flight-gen")
      .option("numRows", 2000).option("numPartitions", 8).load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 2000)
    val again = spark.read.format("flight-gen")
      .option("numRows", 2000).option("numPartitions", 3).load()
    // same rows regardless of partitioning (pure function of row index)
    assert(df.as[String].collect().sorted.sameElements(again.as[String].collect().sorted))
    val parsed = FlightOps.parseFlightEvents(df)
    assert(parsed.count() == 2000)
    assert(parsed.filter(col("flight_id").isNull).count() == 0)
    // both delay encodings arrive and produce delayed rows
    assert(parsed.filter(col("is_delayed") === 1).count() > 0)
    assert(parsed.filter(col("delay_minutes") < 0).count() > 0) // early arrivals
  }

  test("five-branch topology runs end-to-end from the DSv2 source") {
    // row i is scheduled at 00:00 + 30 i s, in order, so with a zero watermark
    // delay row 600 (05:00) closes every window rows 0..599 opened
    val cp = tempDir("fg-job-cp").toString
    val branches = graft.streaming.FlightStreamJob.start(
      spark,
      graft.sources.EventSource.FlightGen(numRows = 601, rowsPerBatch = 200),
      graft.streaming.FlightStreamJob.TimeMode.Event("scheduled_time"),
      cp,
      name => graft.sinks.EventSink.Memory(s"fg_$name"))
    try {
      branches.queries.foreach(_.processAllAvailable())
      assert(spark.table("fg_raw_events").count() == 601)
      // generator delays: (i % 90) - 30 > 0, i.e. i % 90 in 31..89
      val expectedDelayed = (0L to 600L).count(i => i % 90 > 30) // = 384
      assert(spark.table("fg_notifications").count() == expectedDelayed)

      val events = FlightOps.parseFlightEvents(
        spark.read.format("flight-gen").option("numRows", 601).load())
      val tc = col("scheduled_time")
      val closedBy = lit(java.sql.Timestamp.valueOf("2024-01-01 05:00:00"))
      Seq(
        "airline_stats" -> FlightOps.airlineStats(events, tc, "2 minutes"),
        "route_stats" -> FlightOps.routeStats(events, tc, "3 minutes"),
        "hourly_stats" -> FlightOps.hourlyStats(events, tc, "5 minutes")).foreach { case (b, all) =>
        val expected = all.filter(col("window_end") <= closedBy)
        val actual = spark.table(s"fg_$b").select(expected.columns.toIndexedSeq.map(col): _*)
        assert(expected.count() > 0 && actual.count() == expected.count(), b)
        assert(actual.exceptAll(expected).count() == 0, s"$b differs from its closed windows")
      }
      assert(spark.table("fg_airline_stats").select("airline").distinct().count() == 8)
    } finally branches.queries.foreach(_.stop())
  }

  test("micro-batch stream: finite row-count offsets drain in rowsPerBatch steps") {
    val df = spark.readStream.format("flight-gen")
      .option("numRows", 350).option("rowsPerBatch", 100).load()
    val q = FlightOps.parseFlightEvents(df)
      .writeStream.format("memory").queryName("flightgen_out")
      .option("checkpointLocation", tempDir("fg-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val out = spark.table("flightgen_out")
      assert(out.count() == 350) // 100+100+100+50, offset capped at numRows
      assert(out.select(countDistinct(col("flight_id"))).as[Long].collect()(0) == 350)
      // streamed content equals the batch read of the same range
      val batchIds = FlightOps.parseFlightEvents(
        spark.read.format("flight-gen").option("numRows", 350).load())
        .select("flight_id").as[String].collect().sorted
      assert(out.select("flight_id").as[String].collect().sorted.sameElements(batchIds))
    } finally q.stop()
  }
}
