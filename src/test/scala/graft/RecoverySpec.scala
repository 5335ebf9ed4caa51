package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.FlightOps

/** Checkpointed state recovery — the fault-tolerance the reference opts out
  * of (no checkpointing, throwaway consumer groups, state lost on failure):
  * a windowed aggregation stopped mid-stream resumes from its checkpoint
  * with accumulated state intact and offsets not reprocessed. */
class RecoverySpec extends SparkSpec {

  private def ev(id: String, sched: String, delayed: Boolean) =
    s"""{"flightId":"$id","flightNumber":"AA-1","airline":"AA","origin":"A",
       |"destination":"B","scheduledArrival":"$sched","actualArrival":"$sched",
       |"delayed":$delayed,"userId":"u"}""".stripMargin.replace("\n", "")

  test("windowed aggregation resumes from checkpoint with state intact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val cp = tempDir("graft-recover-cp").toString
    def agg = FlightOps.parseFlightEvents(input.toDF())
      .groupBy(window(col("scheduled_time"), "2 minutes"), col("airline"))
      .agg(count(lit(1)).as("n"), sum(col("is_delayed")).as("n_delayed"))

    // (memory sink does not support recovery; foreachBatch does)
    val emitted = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    def start() = agg.writeStream
      .option("checkpointLocation", cp).outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.synchronized { emitted ++= b.collect() }; ()
      }.start()

    // phase 1: two events into the same window, then "crash" (stop)
    val q1 = start()
    input.addData(
      ev("F1", "2024-01-01T10:00:10", true),
      ev("F2", "2024-01-01T10:00:20", false))
    q1.processAllAvailable()
    q1.stop()

    // phase 2: restart from the SAME checkpoint, same source, more data into
    // the same window
    emitted.synchronized(emitted.clear())
    val q2 = start()
    input.addData(ev("F3", "2024-01-01T10:01:50", true))
    q2.processAllAvailable()
    val last = emitted.synchronized(emitted.filter(_.getAs[String]("airline") == "AA").toSeq)
    q2.stop()

    // the restarted query's update row must reflect ALL THREE events — the
    // pre-crash state was recovered, and F1/F2 were not reprocessed as new
    assert(last.nonEmpty, "restarted query emitted nothing")
    val r = last.last
    assert(r.getAs[Long]("n") == 3L, s"expected recovered count 3, got $r")
    assert(r.getAs[Long]("n_delayed") == 2L)
  }

  test("crash mid-epoch (between delete and append) converges to one copy") {
    // The replay test in StreamingSpec proves whole-epoch re-delivery is
    // idempotent. The harder failure is a crash INSIDE writeEpoch: after
    // deleteEpoch ran but before (or during) appendEpoch. On restart the
    // streaming engine re-delivers the same epoch from its checkpoint; the
    // delete-then-append must converge to exactly one copy from every
    // intermediate state the crash can leave behind.
    import spark.implicits._
    val db = tempDir("graft-derby-crash").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val sink = graft.sinks.EventSink.JdbcIdempotent(url, "flights_crash")
    val props = new java.util.Properties()
    def rows = spark.read.jdbc(url, "flights_crash", props)

    val epoch0 = FlightOps.parseFlightEvents(
      Seq(ev("A1", "2024-01-01T09:00:00", false)).toDF("value"))
    val batch = FlightOps.parseFlightEvents(Seq(
      ev("F1", "2024-01-01T10:00:10", true),
      ev("F2", "2024-01-01T10:00:20", false),
      ev("F3", "2024-01-01T10:00:30", true)).toDF("value"))

    sink.writeEpoch(epoch0, 0L) // an unrelated committed epoch that must survive
    sink.writeEpoch(batch, 1L) // epoch 1 delivered cleanly once
    assert(rows.count() == 4)

    // crash point A: delete completed, append never started → epoch rows gone
    sink.deleteEpoch(1L)
    assert(rows.filter(col("BATCH_ID") === 1).count() == 0, "mid-crash state")
    sink.writeEpoch(batch, 1L) // restart re-delivers
    assert(rows.filter(col("BATCH_ID") === 1).count() == 3, "recovery after A")

    // crash point B: delete completed, append died partway → a partial prefix
    sink.deleteEpoch(1L)
    sink.appendEpoch(batch.limit(1), 1L)
    assert(rows.filter(col("BATCH_ID") === 1).count() == 1, "partial append")
    sink.writeEpoch(batch, 1L) // restart: delete wipes the partial, append all
    assert(rows.filter(col("BATCH_ID") === 1).count() == 3, "recovery after B")

    // the unrelated epoch was never touched by any of it
    assert(rows.filter(col("BATCH_ID") === 0).count() == 1)
    assert(rows.count() == 4)
  }
}
