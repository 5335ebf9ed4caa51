package graft

import java.nio.file.{Files, Path}
import graft.sources.FlightGen
import graft.streaming.FlightStreamJob

/** Feeds batches of event lines to a [[FlightStreamJob]] reading the
  * directory `in` one file per trigger: each batch becomes one file, moved
  * into `in` whole, and every query of the job processes it before the
  * next batch. */
final class JobFeed(in: Path) {
  private var files = 0
  def apply(job: FlightStreamJob.Branches, bs: Seq[Seq[String]]): Unit = bs.foreach { b =>
    val tmp = Files.createTempFile(in.getParent, "batch", ".json")
    Files.write(tmp, b.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, in.resolve(f"b$files%02d.json"))
    files += 1
    job.queries.foreach(_.processAllAvailable())
  }
}

object JobFeed {
  /** 40 in-order events 30 s apart, then a sentinel days later (2024-01-04
    * 11:20) that closes every earlier window; one file, so one micro-batch,
    * each. */
  val batches: Seq[Seq[String]] =
    Seq(0 until 20, 20 until 40, Seq(10000)).map(_.map(i => FlightGen.eventJson(i.toLong)))
}
