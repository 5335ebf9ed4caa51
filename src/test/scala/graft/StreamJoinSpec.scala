package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.FlightOps
import graft.sources.EventSource

/** Streaming joins — beyond the reference's surface but core to a complete
  * streaming engine: stream-static enrichment and watermarked stream-stream
  * interval joins. */
class StreamJoinSpec extends SparkSpec {

  private def ev(id: String, airline: String, sched: String, act: String,
      delayed: Boolean) =
    s"""{"flightId":"$id","flightNumber":"$airline-9","airline":"$airline",
       |"origin":"AAA","destination":"BBB","scheduledArrival":"$sched",
       |"actualArrival":"$act","delayed":$delayed,"userId":"u-$id"}"""
      .stripMargin.replace("\n", "")

  test("stream-static join enriches events with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val dim = Seq(("AA", "Alpha Air"), ("BB", "Beta Blue")).toDF("airline", "airline_name")
    val enriched = FlightOps.parseFlightEvents(input.toDF())
      .join(broadcast(dim), Seq("airline"), "left")
    val q = enriched.writeStream.format("memory").queryName("enriched_out")
      .option("checkpointLocation", tempDir("sj-cp").toString)
      .start()
    try {
      input.addData(
        ev("1", "AA", "2024-01-01T10:00:00", "2024-01-01T10:30:00", true),
        ev("2", "ZZ", "2024-01-01T10:00:00", "2024-01-01T10:00:00", false))
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .select("flight_id", "airline_name").as[(String, Option[String])]
        .collect().toMap
      assert(got("1").contains("Alpha Air"))
      assert(got("2").isEmpty) // left join keeps unknown airlines
    } finally q.stop()
  }

  test("notification routing runs as a stream-static join over a users dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val users = Seq(
      ("u-1", "u1@example.com", "+1-1", 1, 0, "email", 1), // email-routed
      ("u-2", "u2@example.com", "+1-2", 0, 1, "email", 1), // sms fallback
      ("u-3", "u3@example.com", "+1-3", 1, 1, "email", 0)) // opted out
      .toDF("user_id", "email", "phone", "notify_email", "notify_sms",
        "preferred_channel", "opt_in")
    val routed = graft.operators.Notify.route(
      FlightOps.delayNotificationFields(FlightOps.parseFlightEvents(input.toDF())),
      broadcast(users))
    val q = routed.writeStream.format("memory").queryName("notify_out")
      .option("checkpointLocation", tempDir("nr-cp").toString)
      .start()
    try {
      input.addData(
        ev("1", "AA", "2024-01-01T10:00:00", "2024-01-01T10:30:00", true),
        ev("2", "AA", "2024-01-01T10:00:00", "2024-01-01T10:30:00", true),
        ev("3", "AA", "2024-01-01T10:00:00", "2024-01-01T10:30:00", true),
        ev("4", "AA", "2024-01-01T10:00:00", "2024-01-01T10:00:00", false)) // not delayed
      q.processAllAvailable()
      val got = spark.table("notify_out")
        .select("user_id", "channel", "contact").as[(String, String, String)]
        .collect().toSet
      assert(got == Set(
        ("u-1", "email", "u1@example.com"),
        ("u-2", "sms", "+1-2")))
    } finally q.stop()
  }

  test("watermarked stream-stream interval join pairs delays with later arrivals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val left = MemoryStream[String]
    val right = MemoryStream[String]
    val delayed = FlightOps.parseFlightEvents(left.toDF())
      .filter(col("is_delayed") === 1)
      .select(col("flight_id").as("d_id"), col("airline").as("d_airline"),
        col("scheduled_time").as("d_time"))
      .withWatermark("d_time", "1 hour")
    val arrivals = FlightOps.parseFlightEvents(right.toDF())
      .select(col("flight_id").as("a_id"), col("airline").as("a_airline"),
        col("scheduled_time").as("a_time"))
      .withWatermark("a_time", "1 hour")
    // same airline, arrival scheduled within 2 hours after the delayed flight
    val joined = delayed.join(arrivals,
      col("d_airline") === col("a_airline") &&
        col("a_time") > col("d_time") &&
        col("a_time") <= col("d_time") + expr("INTERVAL 2 HOURS"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", tempDir("ssj-cp").toString)
      .start()
    try {
      left.addData(ev("D1", "AA", "2024-01-01T10:00:00", "2024-01-01T11:00:00", true))
      right.addData(
        ev("A1", "AA", "2024-01-01T11:30:00", "2024-01-01T11:30:00", false), // within 2h
        ev("A2", "AA", "2024-01-01T14:30:00", "2024-01-01T14:30:00", false), // outside
        ev("A3", "BB", "2024-01-01T11:00:00", "2024-01-01T11:00:00", false)) // other airline
      q.processAllAvailable()
      val pairs = spark.table("ssj_out").select("d_id", "a_id")
        .as[(String, String)].collect().toSet
      assert(pairs == Set(("D1", "A1")))
    } finally q.stop()
  }

  test("annCandidatesStream: candidate-set parity with the batch multiprobe tier") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.StatefulOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the persisted corpus bucket assignment (what the lsh_corpus
    // artifact holds — one bucket per vector, never re-derived per batch)
    val buckets = emb.select(col("vec_id"),
      Similarity.lshBucket(Similarity.asDouble(col("embedding")), 8).as("bucket"))
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    // batch reference: the multiprobe tier with k past any candidate
    // count returns EVERY candidate ranked — the stream must emit the
    // same (query, neighbor, cosine) set, unranked
    val expected = Similarity.bucketedTopKMultiProbe(
        emb.filter(col("vec_id") < 6), emb, "vec_id", "embedding",
        k = 1000000, nPlanes = 8, nProbes = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val input = MemoryStream[(Long, Seq[Float])]
    val out = StatefulOps.annCandidatesStream(
      input.toDF().toDF("vec_id", "embedding"), emb, buckets,
      "vec_id", "embedding", nPlanes = 8, nProbes = 4)
    val q = out.writeStream.format("memory").queryName("ann_stream_out")
      .option("checkpointLocation", tempDir("annst-cp").toString)
      .outputMode("append").start()
    try {
      val (b1, b2) = queries.splitAt(3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("ann_stream_out")
        .as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, "a candidate emitted twice")
      assert(got.toSet == expected && expected.nonEmpty,
        s"stream ${got.size} candidates != batch ${expected.size}")
    } finally q.stop()
  }
}
