package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.FlightEvent

/**
 * The reference engine's whole analytic surface, re-expressed as pure
 * `DataFrame => DataFrame` column-expression transforms (no UDFs — everything
 * stays inside whole-stage codegen, and every transform works identically on
 * batch and streaming inputs).
 *
 * Reference operators covered (SURVEY.md §2):
 *   P1 parse/project  — [[parseFlightEvents]]   (FlightEventAggregator.java:37-72)
 *   P2 filter         — [[delayedOnly]]         (FlightEventAggregator.java:76-79)
 *   P3 notification   — [[delayNotifications]]  (FlightEventAggregator.java:80-84,
 *                                                KafkaUtils.java:40-45)
 *   K1/W1/A1 airline  — [[airlineStats]]        (FlightEventAggregator.java:89-110,219-248)
 *   K2/W2/A2 route    — [[routeStats]]          (FlightEventAggregator.java:112-133,250-279)
 *   K3/W3/A3 hourly   — [[hourlyStats]]         (FlightEventAggregator.java:135-155,281-308)
 *
 * Time semantics: the reference windows on *processing* time
 * (TumblingProcessingTimeWindows). Every windowed transform here takes the
 * time column as a parameter, so production stamps `current_timestamp()` and
 * windows on it, while tests/oracles window on the deterministic event field.
 * Window bounds emitted are Spark's true `window.start/end` — a documented
 * improvement over the reference's per-row `now()-N min` approximation
 * (FlightEventAggregator.java:103-104); [[compatSinkBounds]] is the opt-in
 * knob reproducing the reference's approximation byte-for-byte at the sink.
 */
object FlightOps {

  /**
   * P1 — parse raw JSON strings into the canonical event frame.
   *
   * Semantics pinned to FlightEventAggregator.java:43-60:
   *  - delay-flag union: boolean `delayed` wins; else status equalsIgnoreCase
   *    "DELAYED"; else 0.
   *  - `delay_minutes` = Duration.between(scheduled, actual).toMinutes():
   *    signed, truncated toward zero — reproduced by long seconds / 60
   *    (integer division in SQL truncates toward zero for both signs... it
   *    does NOT: SQL integer division of negative longs truncates toward
   *    zero in Spark, matching Java, which is what toMinutes does).
   *  - required-field strictness: the reference NPEs the whole job on a
   *    missing field; we *drop* such records (documented improvement —
   *    malformed input must not kill a 1000-executor job). Rejected rows are
   *    observable via [[rejectedFlightEvents]].
   */
  def parseFlightEvents(raw: DataFrame, valueCol: String = "value"): DataFrame =
    // Project every output in ONE select over the parsed struct, then filter
    // on the projected columns. All `j.*` references sit in a single
    // projection, so whole-stage codegen's common-subexpression elimination
    // evaluates from_json once per row. (Pair this with
    // spark.sql.optimizer.enableJsonExpressionOptimization=false — the
    // per-field schema-pruning rewrite turns N field refs into N full JSON
    // parses when most of the schema is consumed anyway; measured 4.6x on
    // this 10-field parse.)
    parsed(raw, valueCol).select(
      col("j.flightId").as("flight_id"),
      col("j.flightNumber").as("flight_number"),
      col("j.airline").as("airline"),
      col("j.origin").as("origin"),
      col("j.destination").as("destination"),
      col("scheduled_time"),
      col("actual_time"),
      when(col("j.delayed").isNotNull, when(col("j.delayed"), 1).otherwise(0))
        .otherwise(when(upper(col("j.status")) === "DELAYED", 1).otherwise(0))
        .as("is_delayed"),
      col("j.userId").as("user_id"),
      // Java Duration.toMinutes truncates toward zero; Spark long division
      // of (possibly negative) seconds by 60 does the same.
      ((unix_timestamp(col("actual_time")) - unix_timestamp(col("scheduled_time"))) / lit(60))
        .cast("long").as("delay_minutes")
    ).filter(
      Seq("flight_id", "flight_number", "airline", "origin", "destination", "user_id")
        .map(col(_).isNotNull).reduce(_ && _)
        && col("scheduled_time").isNotNull && col("actual_time").isNotNull)

  /** Rows [[parseFlightEvents]] rejects (missing required field / unparseable
    * JSON / bad timestamp) — the dead-letter view the reference lacks. */
  def rejectedFlightEvents(raw: DataFrame, valueCol: String = "value"): DataFrame =
    parsed(raw, valueCol).filter(!requiredPresent).select(col(valueCol))

  private def parsed(raw: DataFrame, valueCol: String): DataFrame =
    raw.withColumn("j", from_json(col(valueCol).cast("string"), FlightEvent.wireSchema))
      .withColumn("scheduled_time", to_timestamp(col("j.scheduledArrival")))
      .withColumn("actual_time", to_timestamp(col("j.actualArrival")))

  private def requiredPresent: Column =
    Seq("flightId", "flightNumber", "airline", "origin", "destination", "userId")
      .map(f => col(s"j.$f").isNotNull)
      .reduce(_ && _) && col("scheduled_time").isNotNull && col("actual_time").isNotNull

  /** P2 — keep only delayed flights (FlightEventAggregator.java:76-79). */
  def delayedOnly(events: DataFrame): DataFrame =
    events.filter(col("is_delayed") === 1)

  /**
   * P3 — delayed-flight notification payloads (KafkaUtils.java:40-45).
   * The reference string-formats JSON with no escaping (a quote in any field
   * breaks the payload); we use `to_json`, which escapes — strictly safer,
   * same fields, same message template.
   */
  def delayNotifications(events: DataFrame): DataFrame =
    delayNotificationFields(events).select(
      to_json(struct(col("*"))).as("value"))

  /** The notification payload as discrete columns (pre-JSON) — the shape the
    * correctness oracle checks; [[delayNotifications]] wraps it in to_json. */
  def delayNotificationFields(events: DataFrame): DataFrame =
    delayedOnly(events).select(
      col("flight_id").as("flightId"),
      col("user_id").as("userId"),
      col("flight_number").as("flightNumber"),
      col("airline"),
      concat_ws("-", col("origin"), col("destination")).as("route"),
      col("delay_minutes").as("delayMinutes"),
      format_string("Your flight %s is delayed by %d minutes",
        col("flight_number"), col("delay_minutes")).as("message"))

  /**
   * Generic keyed tumbling-window statistics — the one aggregation shape all
   * three reference aggregators (A1-A3) instantiate. Partial aggregation
   * (map-side combine) replaces the reference's hand-written add/merge split;
   * `avg` = sum/count is the algebraic equivalent of its per-record
   * incremental mean (identical up to FP rounding order).
   *
   * At scale: this is one hash-shuffle on (window, keys); AQE coalesces the
   * post-shuffle partitions. No other exchange exists in the plan.
   */
  def windowedStats(
      events: DataFrame,
      timeCol: Column,
      windowDuration: String,
      keys: Seq[(String, Column)]): DataFrame =
    statsColumns(
      events
        .groupBy((window(timeCol, windowDuration) +: keys.map { case (n, c) => c.as(n) }): _*)
        .agg(statsAggs.head, statsAggs.tail: _*),
      keys.map(_._1))

  /** The aggregates of every stats branch, over one (window, keys) group. */
  private[graft] val statsAggs: Seq[Column] = Seq(
    count(lit(1)).as("total_flights"),
    sum(col("is_delayed")).cast("long").as("delayed_flights"),
    avg(col("delay_minutes")).as("avg_delay_minutes"))

  /** Flatten grouped `window` + `keyNames` + [[statsAggs]] rows into the
    * columns [[windowedStats]] returns. */
  private[graft] def statsColumns(grouped: DataFrame, keyNames: Seq[String]): DataFrame =
    grouped.select(
      (col("window.start").as("window_start") +: col("window.end").as("window_end") +:
        keyNames.map(col) :+
        col("total_flights") :+ col("delayed_flights") :+ col("avg_delay_minutes")): _*)

  /** One keyed stats aggregate of the reference: its grouping keys, and
    * `finish`, which turns [[windowedStats]] columns into the branch's own. */
  final case class StatsShape(keys: Seq[(String, Column)], finish: DataFrame => DataFrame) {
    def of(events: DataFrame, timeCol: Column, windowDuration: String): DataFrame =
      finish(windowedStats(events, timeCol, windowDuration, keys))
  }

  /** A1 — per airline, with the delay rate (FlightEventAggregator.java:219-248). */
  val AirlineShape: StatsShape = StatsShape(Seq("airline" -> col("airline")),
    _.withColumn("delay_rate",
      col("delayed_flights").cast("double") / col("total_flights") * 100.0))

  /** A2 — per route: origin, destination and the composed route key
    * (FlightEventAggregator.java:250-279; no delayed count, no rate). */
  val RouteShape: StatsShape = StatsShape(
    Seq(
      "route" -> concat_ws("-", col("origin"), col("destination")),
      "origin" -> col("origin"),
      "destination" -> col("destination")),
    _.drop("delayed_flights"))

  /** A3 — per hour of day; the hour is derived from the *event* field even
    * though reference windows are processing-time (FlightEventAggregator.java:137). */
  val HourlyShape: StatsShape =
    StatsShape(Seq("hour_of_day" -> hour(col("scheduled_time"))), identity)

  /**
   * Reference-compat sink bounds (SURVEY §2 J1-J3, §7.4): the reference does
   * NOT emit true window bounds — its JDBC statement builders stamp
   * `window_start = now()-N` and `window_end = now()` per row at sink time
   * (FlightEventAggregator.java:103-104, 126-127, 148-149). This library's
   * default is the strictly-better TRUE bounds from `window().start/end`;
   * this opt-in transform reproduces the reference's approximation where
   * byte-fidelity against an existing ClickHouse table matters.
   * `current_timestamp()` is fixed per query execution — per micro-batch in
   * streaming, the closest Spark analogue of the reference's per-row sink
   * time — and `window_start` is back-derived by subtracting the window size,
   * exactly as the reference subtracts its window's minutes from now().
   */
  def compatSinkBounds(stats: DataFrame, windowDuration: String): DataFrame =
    stats
      .withColumn("window_end", current_timestamp())
      .withColumn("window_start", col("window_end") - expr(s"INTERVAL $windowDuration"))

  /** [[AirlineShape]] over 2-minute windows by default. */
  def airlineStats(events: DataFrame, timeCol: Column, windowDuration: String = "2 minutes"): DataFrame =
    AirlineShape.of(events, timeCol, windowDuration)

  /** [[RouteShape]] over 3-minute windows by default. */
  def routeStats(events: DataFrame, timeCol: Column, windowDuration: String = "3 minutes"): DataFrame =
    RouteShape.of(events, timeCol, windowDuration)

  /** [[HourlyShape]] over 5-minute windows by default. */
  def hourlyStats(events: DataFrame, timeCol: Column, windowDuration: String = "5 minutes"): DataFrame =
    HourlyShape.of(events, timeCol, windowDuration)
}
