package graft.streaming

import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.FlightOps
import graft.sources.EventSource
import graft.sinks.EventSink

/**
 * The reference's whole job (FlightEventAggregator.java:27-181) as a
 * Structured Streaming topology: one parsed stream fanned out to five sinks —
 *
 *   1. delayed-flight notifications            (filter → format → sink)
 *   2. per-airline 2-min windowed delay stats  (keyed window agg → sink)
 *   3. per-route 3-min windowed stats          (keyed window agg → sink)
 *   4. per-hour-of-day 5-min windowed stats    (keyed window agg → sink)
 *   5. raw parsed events                       (passthrough persist)
 *
 * Architectural decision (SURVEY §7.3): two StreamingQuerys, each reading and
 * parsing every event once and fanning its micro-batch out to its sinks in
 * `foreachBatch`:
 *
 *   - `events` (stateless): persists each parsed batch, then writes it to
 *     the raw-events sink and its delayed flights to the notifications sink.
 *   - `stats` (stateful): one row per event and stats branch, tagged with the
 *     branch and carrying that branch's window and keys, into ONE append-mode
 *     aggregation grouped by (tag, window, keys) with one state store. Each
 *     output batch is persisted and split by tag into the three stats sinks.
 *
 * Per-trigger work (source listing, planning, codegen, checkpoint commits)
 * is paid twice per trigger instead of five times, and the three windowed
 * branches share one shuffle and one state store. The exploded window column
 * carries the event-time column's watermark metadata, as Spark's `window()`
 * does, so a window is emitted, and a late row dropped, by the same
 * `window.end <= watermark` rule as a per-branch query: every stats sink gets
 * exactly the closed-window rows of [[FlightOps.airlineStats]],
 * [[FlightOps.routeStats]] and [[FlightOps.hourlyStats]]. A failing sink
 * stops its whole query, as one failing operator stops the reference's
 * single Flink job. Checkpoints live in `<checkpointRoot>/events` and
 * `<checkpointRoot>/stats`.
 *
 * Time semantics (SURVEY §7.4): the reference windows on *processing* time
 * (`TumblingProcessingTimeWindows`, no watermarks). `TimeMode.Processing`
 * reproduces that by stamping `current_timestamp()` at ingest;
 * `TimeMode.Event(col)` windows on an event field with a watermark —
 * deterministic, and what tests and the batch oracle use. Both modes run the
 * *same* operator code.
 */
object FlightStreamJob {

  sealed trait TimeMode
  object TimeMode {
    /** Faithful to the reference: wall-clock tumbling windows. */
    case object Processing extends TimeMode
    /** Deterministic: event-time windows with a watermark. */
    final case class Event(timeCol: String, watermark: String = "0 seconds") extends TimeMode
  }

  /** The query serving each branch: notifications and raw events share the
    * `events` query, the three stats branches the `stats` query. */
  final case class Branches(
      notifications: StreamingQuery,
      airlineStats: StreamingQuery,
      routeStats: StreamingQuery,
      hourlyStats: StreamingQuery,
      rawEvents: StreamingQuery) {
    /** The distinct queries behind the five branches. */
    def queries: Seq[StreamingQuery] =
      Seq(notifications, airlineStats, routeStats, hourlyStats, rawEvents).distinct
  }

  /** The three stats branches: sink name, tumbling window and shape. */
  private val StatsBranches = Seq(
    ("airline_stats", "2 minutes", FlightOps.AirlineShape),
    ("route_stats", "3 minutes", FlightOps.RouteShape),
    ("hourly_stats", "5 minutes", FlightOps.HourlyShape))

  /** Parse the raw source and stamp the window time column per mode. */
  def parsedStream(spark: SparkSession, source: EventSource, mode: TimeMode): (DataFrame, Column) = {
    val parsed = FlightOps.parseFlightEvents(source.load(spark))
    mode match {
      case TimeMode.Processing =>
        (parsed.withColumn("proc_time", current_timestamp())
          .withWatermark("proc_time", "0 seconds"), col("proc_time"))
      case TimeMode.Event(tc, wm) =>
        (parsed.withWatermark(tc, wm), col(tc))
    }
  }

  /**
   * The `stats` query's aggregation: each event becomes one row per stats
   * branch with columns `tag` (the branch's sink name), `window` (its
   * tumbling window on `timeCol`) and the union of all branches' keys (null
   * where a branch has no such key), grouped by all of them with
   * [[FlightOps.statsAggs]]. Rows of one tag are exactly that branch's
   * groups, since the tag is part of the grouping.
   */
  private def statsAggregate(parsed: DataFrame, timeCol: Column): DataFrame = {
    val keys = StatsBranches.flatMap(_._3.keys).distinctBy(_._1)
    val keyFields = parsed.select(keys.map { case (n, c) => c.as(n) }: _*).schema.fields.toSeq
    // window() copies the time column's watermark metadata onto its output;
    // the exploded window column must carry it too, or the aggregation has
    // no event-time key to emit and evict by
    val watermarked = parsed.select(timeCol).schema.head.metadata
    val withWindows = StatsBranches.foldLeft(parsed) { case (df, (name, dur, _)) =>
      df.withColumn(s"window_$name", window(timeCol, dur))
    }
    val rows = array(StatsBranches.map { case (name, _, shape) =>
      val own = shape.keys.toMap
      struct((lit(name).as("tag") +: col(s"window_$name").as("window") +: keyFields.map { f =>
        own.getOrElse(f.name, lit(null).cast(f.dataType)).as(f.name)
      }): _*)
    }: _*)
    val grouping = col("tag") +: col("window") +: keyFields.map(f => col(f.name))
    withWindows
      .select(explode(rows).as("r"), col("is_delayed"), col("delay_minutes"))
      .select((col("r.tag").as("tag") +: col("r.window").as("window", watermarked) +:
        keyFields.map(f => col(s"r.${f.name}").as(f.name)) :+
        col("is_delayed") :+ col("delay_minutes")): _*)
      .groupBy(grouping: _*)
      .agg(FlightOps.statsAggs.head, FlightOps.statsAggs.tail: _*)
  }

  /**
   * Wire and start the job. `sinkFor` maps branch name → sink
   * ("notifications", "airline_stats", "route_stats", "hourly_stats",
   * "raw_events"), so tests plug Memory sinks where production plugs
   * Kafka/JDBC.
   */
  def start(
      spark: SparkSession,
      source: EventSource,
      mode: TimeMode,
      checkpointRoot: String,
      sinkFor: String => EventSink,
      compatBounds: Boolean = false): Branches = {
    val (parsed, timeCol) = parsedStream(spark, source, mode)
    val raw = sinkFor("raw_events")
    val notifications = sinkFor("notifications")
    val stats = StatsBranches.map { case (name, dur, shape) => (name, sinkFor(name), dur, shape) }

    def writer(df: DataFrame, name: String): DataStreamWriter[Row] =
      df.writeStream
        .queryName(name)
        .option("checkpointLocation", s"$checkpointRoot/$name")
        .trigger(Trigger.ProcessingTime("0 seconds"))

    val eventsQuery = writer(parsed, "events")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        batch.persist()
        try {
          raw.write(batch, epoch)
          notifications.write(FlightOps.delayNotifications(batch), epoch)
        } finally batch.unpersist()
      }
      .start()

    // compatBounds reproduces the reference's now()-derived sink bounds
    // (FlightOps.compatSinkBounds); default = true window bounds.
    val statsQuery =
      try writer(statsAggregate(parsed, timeCol), "stats")
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          batch.persist()
          try stats.foreach { case (name, sink, dur, shape) =>
            val rows = shape.finish(FlightOps.statsColumns(
              batch.filter(col("tag") === name), shape.keys.map(_._1)))
            sink.write(if (compatBounds) FlightOps.compatSinkBounds(rows, dur) else rows, epoch)
          } finally batch.unpersist()
        }
        .start()
      catch {
        // a job that cannot start whole must not leave half of it running
        case NonFatal(e) => eventsQuery.stop(); throw e
      }

    Branches(
      notifications = eventsQuery,
      airlineStats = statsQuery,
      routeStats = statsQuery,
      hourlyStats = statsQuery,
      rawEvents = eventsQuery)
  }
}
