package graft

import java.io.File
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import graft.operators.FlightOps
import graft.sinks.EventSink
import graft.sources.EventSource
import graft.streaming.{FlightStreamJob, LocalCheckpointFileManager}

/** The job's local checkpoint manager: its publish protocol on single
  * files, and checkpoints that restart across it and Spark's default
  * manager in both directions. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val key = FlightStreamJob.CheckpointManagerKey
  private val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def manager(dir: NioPath) = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet
  private def write(m: LocalCheckpointFileManager, f: NioPath, bytes: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(new Path(f.toUri), overwrite)
    out.write(bytes.getBytes("UTF-8"))
    out.close()
  }
  private def read(f: NioPath) = new String(Files.readAllBytes(f), "UTF-8")

  test("a no-overwrite publish onto an existing file throws and keeps the original") {
    val dir = tempDir("lcfm-noover")
    val m = manager(dir)
    write(m, dir.resolve("0"), "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, dir.resolve("0"), "second", overwrite = false))
    assert(read(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"))
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = tempDir("lcfm-cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), false)
    out.write(1)
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("an open stream is not visible at the target") {
    val dir = tempDir("lcfm-open")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.resolve("2").toUri), false)
    out.write("partial".getBytes("UTF-8"))
    out.flush()
    assert(!Files.exists(dir.resolve("2")) && !m.exists(new Path(dir.resolve("2").toUri)))
    assert(names(dir).size == 1 && names(dir).head.startsWith(".2."), names(dir))
    out.close()
    assert(read(dir.resolve("2")) == "partial" && names(dir) == Set("2"))
  }

  test("overwrite replaces the target and removes a stale checksum") {
    val dir = tempDir("lcfm-over")
    Files.write(dir.resolve("3"), "old".getBytes("UTF-8"))
    Files.write(dir.resolve(".3.crc"), "stale".getBytes("UTF-8"))
    write(manager(dir), dir.resolve("3"), "new", overwrite = true)
    assert(read(dir.resolve("3")) == "new")
    assert(names(dir) == Set("3"))
  }

  private val batches = JobFeed.batches
  private val sentinel = java.sql.Timestamp.valueOf("2024-01-04 11:20:00")

  private def start(in: NioPath, cp: String, sinkFor: String => EventSink) =
    FlightStreamJob.start(spark, EventSource.FileDir(in.toString, 1),
      FlightStreamJob.TimeMode.Event("scheduled_time"), cp, sinkFor)

  /** Hadoop's checksum sidecars (`.<name>.crc`) under `root`. Spark's own
    * state-store checksums (`<name>.crc`) are checkpoint data, not these. */
  private def sidecars(root: String): Seq[String] = {
    val walk = Files.walk(new File(root).toPath)
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).toList
    finally walk.close()
  }

  /** Two batches under the first manager, a crash that loses the last
    * commit of both queries, then a restart under the second manager that
    * replays that batch and takes the sentinel: every stats sink holds each
    * closed window once, with the batch form's values. */
  private def restartAcross(first: Option[String], second: Option[String], tag: String): Unit = {
    import spark.implicits._
    val in = tempDir(s"lcfm-$tag-in")
    val cp = tempDir(s"lcfm-$tag-cp").toString
    val url = s"jdbc:derby:${tempDir(s"lcfm-$tag-derby")}/db;create=true"
    val feed = new JobFeed(in)
    def run(cls: Option[String], bs: Seq[Seq[String]]) = withConf(key, cls) {
      val job = start(in, cp, b => EventSink.JdbcIdempotent(url, s"${tag}_$b"))
      try { job.queries.foreach(_.processAllAvailable()); feed(job, bs) }
      finally job.queries.foreach(_.stop())
    }
    run(first, batches.take(2))
    val replayed = Seq("events", "stats").map { q =>
      val dir = new File(s"$cp/$q/commits")
      val last = dir.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(new File(dir, s"$last").delete(), s"$q/commits/$last")
      new File(dir, s".$last.crc")
    }
    run(second, batches.drop(2))
    // a commit the second manager re-wrote has a checksum only under Spark's default
    replayed.foreach(crc => assert(crc.exists() == second.contains(sparkDefault), crc))

    val props = new java.util.Properties()
    def table(b: String) = spark.read.jdbc(url, s"${tag}_$b", props)
    val all = FlightOps.parseFlightEvents(batches.flatten.toDF("value"))
    val tc = col("scheduled_time")
    Map("airline_stats" -> FlightOps.airlineStats(all, tc, "2 minutes"),
      "route_stats" -> FlightOps.routeStats(all, tc, "3 minutes"),
      "hourly_stats" -> FlightOps.hourlyStats(all, tc, "5 minutes")).foreach { case (b, form) =>
      val expected = form.filter(col("window_end") <= lit(sentinel))
      val got = table(b).select(expected.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      assert(expected.count() > 0, b)
      assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0, b)
    }
    assert(table("raw_events").count() == batches.flatten.size)
    assert(table("notifications").count() == FlightOps.delayNotifications(all).count())
  }

  test("a checkpoint written by Spark's default manager restarts under the job's manager") {
    restartAcross(Some(sparkDefault), None, "tolocal")
  }

  test("a checkpoint written by the job's manager restarts under Spark's default manager") {
    restartAcross(None, Some(sparkDefault), "todefault")
  }

  /** Drains `batches` through the job under the session's key `cls`; returns
    * the checkpoint root and the key's value after the job stopped. */
  private def drain(cls: Option[String], tag: String): (String, Option[String]) = withConf(key, cls) {
    val in = tempDir(s"lcfm-$tag-in")
    val cp = tempDir(s"lcfm-$tag-cp").toString
    val job = start(in, cp, b => EventSink.Memory(s"${tag}_$b"))
    try new JobFeed(in)(job, batches) finally job.queries.foreach(_.stop())
    (cp, spark.conf.getOption(key))
  }

  test("the job installs its manager: no checksum sidecar anywhere under the checkpoint root") {
    val (cp, after) = drain(None, "nocrc")
    assert(after.contains(classOf[LocalCheckpointFileManager].getName))
    val areas = Seq("events/offsets", "events/commits", "events/sources",
      "stats/offsets", "stats/commits", "stats/sources", "stats/state")
    areas.foreach { a =>
      val files = Files.walk(new File(s"$cp/$a").toPath)
      try assert(files.iterator().asScala.exists(Files.isRegularFile(_)), a) finally files.close()
    }
    assert(sidecars(cp).isEmpty, sidecars(cp))
  }

  test("a manager the caller named is kept") {
    val (cp, after) = drain(Some(sparkDefault), "kept")
    assert(after.contains(sparkDefault))
    assert(sidecars(cp).nonEmpty)
  }
}
