package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.sinks.EventSink
import graft.sources.EventSource
import graft.streaming.{FlightStreamJob, LocalCheckpointFileManager}

/** The stream job starts its queries without Spark's per-session artifact
  * class loaders, so a drain reuses the classes an earlier one compiled;
  * a key the caller set is kept. */
class CodegenReuseSpec extends SparkSpec {

  private val key = FlightStreamJob.ArtifactIsolationKey

  /** Classes `CodeGenerator` has compiled in this JVM (cache misses). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drains [[JobFeed.batches]] through the job on `session` over fresh
    * input and checkpoint directories; returns the classes compiled
    * meanwhile and the isolation key's value after. */
  private def drain(session: SparkSession, tag: String): (Long, String) = {
    val in = tempDir(s"cg-$tag-in")
    val cp = tempDir(s"cg-$tag-cp").toString
    val before = compiles
    val job = FlightStreamJob.start(session, EventSource.FileDir(in.toString, 1),
      FlightStreamJob.TimeMode.Event("scheduled_time"), cp, b => EventSink.Memory(s"cg_${tag}_$b"))
    try new JobFeed(in)(job, JobFeed.batches) finally job.queries.foreach(_.stop())
    (compiles - before, session.conf.get(key))
  }

  test("a second drain reuses the first one's classes; an isolated session compiles them again") {
    val ((shared, after), (isolated, kept)) = withConf(key, None) {
      drain(spark, "warm")
      val second = drain(spark, "shared")
      val session = spark.newSession()
      session.conf.set(key, "true")
      (second, drain(session, "isolated"))
    }
    info(s"classes compiled: $shared by the second drain, $isolated by the isolated one")
    assert(isolated > 2 * shared + 10, s"shared $shared, isolated $isolated")
    assert(after == "false" && kept == "true")
  }

  test("an isolation value the caller set is kept") {
    withConf(key, Some("true")) {
      assert(drain(spark, "kept")._2 == "true")
    }
  }

  test("EventSink.start prepares its session as the job does") {
    val session = spark.newSession()
    val in = tempDir("cg-sink-in")
    val q = EventSink.Memory("cg_sink").start(EventSource.FileDir(in.toString, 1).load(session),
      tempDir("cg-sink-cp").toString, "cg_sink")
    try q.processAllAvailable() finally q.stop()
    assert(session.conf.get(key) == "false")
    assert(session.conf.get(FlightStreamJob.CheckpointManagerKey) == classOf[LocalCheckpointFileManager].getName)
  }
}
