package graftbench

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.operators.FlightOps
import graft.sinks.EventSink
import graft.sources.EventSource
import graft.streaming.FlightStreamJob

/**
 * Seeded flight-event generator. Its key spaces, delay distribution and
 * delay-flag encodings are those of the library's own Kafka stand-in,
 * `graft.sources.FlightGen.eventJson`: airlines `AL0`–`AL7`, origins
 * `AP0`–`AP15`, destinations `AP16`–`AP31`, users `user0`–`user63`,
 * arrival delay uniform over −30..59 whole minutes (delayed when above 0),
 * and the `delayed` boolean or the `status` string in equal shares. Where
 * `FlightGen` walks each key space round-robin, this generator draws the
 * rank from Zipf's law (weight 1/rank), independently for airline, origin,
 * destination and user. One record in 200 is malformed, in one of the ways
 * `FlightOps.rejectedFlightEvents` rejects: unparseable JSON or a missing
 * required field. Event time advances 12 s per 1,000-event file and arrives
 * out of order by up to 20 s, inside the job's 30 s watermark delay, so no
 * on-time event is ever late.
 */
final class EventGenerator(seed: Long) {
  import EventGenerator._
  private val rng = new java.util.SplittableRandom(seed)
  private val airlineCdf = zipfCdf(Airlines)
  private val airportCdf = zipfCdf(Origins)
  private val userCdf = zipfCdf(Users)
  private var seq = 0L
  var malformed = 0L

  private def draw(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  private def ts(epochS: Long): String = Fmt.format(Instant.ofEpochSecond(epochS))

  /** One wire record whose event time trails `nominalS` by up to MaxLagS. */
  def next(nominalS: Long): String = {
    seq += 1
    val airline = s"AL${draw(airlineCdf)}"
    val origin = s"AP${draw(airportCdf)}"
    val dest = s"AP${Origins + draw(airportCdf)}"
    val sched = nominalS - rng.nextInt(MaxLagS)
    val delayMin = rng.nextInt(90) - 30
    val actual = sched + delayMin * 60L
    val delayed = delayMin > 0
    val flag = if (rng.nextBoolean()) s""""delayed":$delayed"""
      else s""""status":"${if (delayed) "DELAYED" else "ON_TIME"}""""
    val user = s"user${draw(userCdf)}"
    val fields = Seq(
      s""""flightId":"F$seed-$seq"""", s""""flightNumber":"$airline-${rng.nextInt(1000)}"""",
      s""""airline":"$airline"""", s""""origin":"$origin"""",
      s""""destination":"$dest"""", s""""scheduledArrival":"${ts(sched)}"""",
      s""""actualArrival":"${ts(actual)}"""", flag, s""""userId":"$user"""")
    if (rng.nextInt(200) == 0) {
      malformed += 1
      rng.nextInt(3) match {
        case 0 => val s = fields.mkString("{", ",", "}"); s.substring(0, s.length / 2)
        case 1 => fields.filterNot(_.startsWith("\"userId\"")).mkString("{", ",", "}")
        case _ => fields.filterNot(_.startsWith("\"airline\"")).mkString("{", ",", "}")
      }
    } else fields.mkString("{", ",", "}")
  }

  /** A valid, on-time event a day past `nominalS`: its watermark closes every
    * window the run opened. */
  def sentinel(nominalS: Long): String = {
    val t = nominalS + 86400
    s"""{"flightId":"F$seed-sentinel","flightNumber":"ZZ-1","airline":"ZZ","origin":"AAA",""" +
      s""""destination":"BBB","scheduledArrival":"${ts(t)}","actualArrival":"${ts(t)}",""" +
      s""""delayed":false,"userId":"sentinel"}"""
  }
}

object EventGenerator {
  /** Key-space sizes of `graft.sources.FlightGen.eventJson`. */
  val Airlines = 8
  val Origins = 16
  val Users = 64
  val StatsBranches = Seq("airline_stats", "route_stats", "hourly_stats")
  val T0 = 1767225600L // 2026-01-01T00:00:00Z
  val EventSecondsPerFile = 12L
  val MaxLagS = 20
  val WatermarkDelayS = 30L
  val Fmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Cumulative Zipf's-law weights (1/rank) over `n` keys. */
  def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / k)
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
}

/** One micro-batch as reported by the engine's public progress events. */
final case class BatchProgress(branch: String, batchId: Long, rows: Long, startMs: Long,
    durMs: Map[String, Long], watermarkMs: Long,
    state: Seq[org.apache.spark.sql.streaming.StateOperatorProgress]) {
  def commitMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
}

final class ProgressListener extends StreamingQueryListener {
  private val names = new ConcurrentHashMap[java.util.UUID, String]()
  private val byQuery = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[BatchProgress]]()
  private val consumed = new ConcurrentHashMap[java.util.UUID, AtomicLong]()

  def track(id: java.util.UUID, branch: String): Unit = {
    names.put(id, branch)
    byQuery.put(id, mutable.ArrayBuffer.empty)
    consumed.put(id, new AtomicLong(0))
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val buf = byQuery.get(p.id)
    if (buf == null || !p.durationMs.containsKey("addBatch")) return
    val wm = Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli).getOrElse(0L)
    val b = BatchProgress(names.get(p.id), p.batchId, p.numInputRows,
      Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, wm,
      p.stateOperators.toSeq)
    buf.synchronized { if (!buf.exists(_.batchId == b.batchId)) buf += b }
    consumed.get(p.id).addAndGet(p.numInputRows)
  }

  def batches(id: java.util.UUID): Seq[BatchProgress] = {
    val buf = byQuery.get(id)
    buf.synchronized(buf.toSeq.sortBy(_.batchId))
  }
  def consumedRows(id: java.util.UUID): Long = consumed.get(id).get
}

/**
 * `stream_backlog`: the five-branch `FlightStreamJob` drains a pre-generated
 * backlog from a newline-delimited JSON file directory (the Kafka stand-in)
 * into its sinks: notifications to Parquet, stats and raw events to
 * embedded Derby through `EventSink.Jdbc`, windows on event time.
 */
object StreamWorkload {
  import EventGenerator._

  val Tolerance = 1e-9

  final class Job(branches: FlightStreamJob.Branches, val prefix: String, val notifPath: String) {
    val queries: Seq[(String, org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
      "notifications" -> branches.notifications, "airline_stats" -> branches.airlineStats,
      "route_stats" -> branches.routeStats, "hourly_stats" -> branches.hourlyStats,
      "raw_events" -> branches.rawEvents)
    def stop(): Unit = queries.foreach(_._2.stop())
  }

  final class Env(val ctx: Ctx) {
    val spark: SparkSession = ctx.spark
    val work: String = new java.io.File(ctx.opts.work).getAbsolutePath
    val url = s"jdbc:derby:memory:flightbench;create=true"
    val props = new java.util.Properties()
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    def start(prefix: String, dir: String, maxFiles: Int): Job = {
      new java.io.File(dir).mkdirs()
      val notif = s"$work/$prefix-notifications"
      val branches = ctx.tracer.span("streaming", "start", prefix) {
        FlightStreamJob.start(spark, EventSource.FileDir(dir, maxFiles),
          FlightStreamJob.TimeMode.Event("scheduled_time", s"$WatermarkDelayS seconds"),
          s"$work/$prefix-checkpoints",
          {
            case "notifications" => EventSink.Parquet(notif)
            case b => EventSink.Jdbc(url, s"${prefix}_$b", props)
          })
      }
      val job = new Job(branches, prefix, notif)
      job.queries.foreach { case (b, q) => progress.track(q.id, b) }
      job
    }

    /** Block until every branch consumed `lines` rows and every stats branch
      * ran a batch at watermark `wmMs` or later. */
    def await(job: Job, lines: Long, wmMs: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def done = job.queries.forall { case (b, q) =>
        progress.consumedRows(q.id) >= lines &&
          (b == "notifications" || b == "raw_events" ||
            progress.batches(q.id).exists(_.watermarkMs >= wmMs))
      }
      while (!done && System.currentTimeMillis() < deadline) {
        job.queries.foreach { case (_, q) => q.exception.foreach(e => throw e) }
        Thread.sleep(20)
      }
      done
    }

    def writeFile(dir: String, name: String, lines: Seq[String]): Unit = {
      val tmp = new java.io.File(dir, s".$name.tmp")
      java.nio.file.Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      if (!tmp.renameTo(new java.io.File(dir, name))) sys.error(s"rename of $name failed")
    }

    /** Warm the JIT and codegen of all five branches on a throwaway job of
      * `files` files, so the measured job starts warm. */
    def warmUp(gen: EventGenerator, files: Int, perFile: Int, maxFiles: Int): Unit = {
      val dir = s"$work/warm-in"
      new java.io.File(dir).mkdirs()
      (0 until files).foreach { f =>
        writeFile(dir, f"w$f%04d.json",
          (0 until perFile).map(_ => gen.next(T0 - 86400 + f * EventSecondsPerFile)))
      }
      Thread.sleep(20) // the sentinel file must sort last by modification time
      writeFile(dir, "w9999.json", Seq(gen.sentinel(T0 - 86400)))
      val job = start("w", dir, maxFiles)
      val ok = await(job, files * perFile + 1L, (T0 - WatermarkDelayS) * 1000, 90000)
      job.stop()
      if (!ok) sys.error("warm-up job did not drain")
    }
  }

  // ---- stream_backlog: closed loop over a pre-generated backlog ------------

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    System.setProperty("derby.stream.error.file", new java.io.File(o.work, "derby.log").getAbsolutePath)
    ctx.startSession(o.cores)
    val env = new Env(ctx)
    val perFile = 1000
    val nFiles = if (o.tiny) 4 else 5 * o.seconds
    val maxFiles = 16
    ctx.tracer.span("bench", "warm_up")(
      env.warmUp(new EventGenerator(o.seed ^ 0x5eedL), if (o.tiny) 2 else maxFiles,
        if (o.tiny) 200 else perFile, maxFiles))
    val gen = new EventGenerator(o.seed)
    val dir = s"${env.work}/backlog-in"
    new java.io.File(dir).mkdirs()
    val files = mutable.ArrayBuffer.empty[Int]
    val lines = mutable.ArrayBuffer.empty[String]
    ctx.tracer.span("bench", "generate", "backlog") {
      (0 until nFiles).foreach { f =>
        val chunk = (0 until perFile).map(_ => gen.next(T0 + f * EventSecondsPerFile))
        env.writeFile(dir, f"b$f%08d.json", chunk)
        files += chunk.size
        lines ++= chunk
      }
      val lastNominal = T0 + nFiles * EventSecondsPerFile
      Thread.sleep(20) // the sentinel file must sort last by modification time
      val s = gen.sentinel(lastNominal)
      env.writeFile(dir, "b99999999.json", Seq(s))
      files += 1
      lines += s
    }
    val wmMs = (T0 + nFiles * EventSecondsPerFile + 86400 - WatermarkDelayS) * 1000
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0
    ctx.meter.watchHeap()
    val cpu0 = ctx.meter.cpuNanos
    val job = env.start("m", dir, maxFiles)
    val drained = env.await(job, lines.size.toLong, wmMs, 150000)
    val cpuS = (ctx.meter.cpuNanos - cpu0) / 1e9
    job.stop()
    val heapMb = ctx.meter.peakHeapMb()
    val release = job.queries.flatMap(q => env.progress.batches(q._2.id).headOption.map(_.startMs)).min
    val out = finish(env, job, gen, files.toSeq, lines.toSeq, wmMs, drained, release,
      setupS = setupS, cpuS = cpuS, heapMb = heapMb,
      detail = Map("backlog_events" -> lines.size, "files" -> files.size,
        "max_files_per_trigger" -> maxFiles))
    if (ctx.opts.trace) {
      // single-core baseline on a fifth of the backlog
      val n = math.max(2, nFiles / 5)
      ctx.startSession(1)
      val env1 = new Env(ctx)
      val g1 = new EventGenerator(o.seed + 1)
      val dir1 = s"${env1.work}/local1-in"
      new java.io.File(dir1).mkdirs()
      (0 until n).foreach(f => env1.writeFile(dir1, f"c$f%08d.json",
        (0 until perFile).map(_ => g1.next(T0 + f * EventSecondsPerFile))))
      Thread.sleep(20)
      env1.writeFile(dir1, "c99999999.json", Seq(g1.sentinel(T0 + n * EventSecondsPerFile)))
      val j1 = env1.start("l", dir1, maxFiles)
      val wm1 = (T0 + n * EventSecondsPerFile + 86400 - WatermarkDelayS) * 1000
      val ok = env1.await(j1, n * perFile + 1L, wm1, 100000)
      j1.stop()
      val bs = j1.queries.flatMap(q => env1.progress.batches(q._2.id))
      val secs = (bs.map(_.commitMs).max - bs.map(_.startMs).min) / 1000.0
      out.copy(
        failed = out.failed + (if (ok) 0 else 1),
        perLayer = out.perLayer + ("streaming.local1_events_per_s" -> (n * perFile + 1) / secs))
    } else out
  }

  // ---- latency from progress, output checks, per-layer numbers ------------

  /** Median and tail of delivery latencies given as (ms, events) pairs. The
    * tail is the highest quantile with at least ten distinct delivery times
    * beyond it. A backlog drains in a handful of batches, so there are fewer
    * than twenty distinct times and the tail is the last delivery: the drain
    * time. Returns (p50, tail quantile, tail). */
  private def latency(samples: Seq[(Double, Long)]): (Double, Double, Double) = {
    val n = samples.map(_._1).distinct.size
    val q = if (n >= 20) Stats.tailQ(n) else 1.0
    (Stats.quantile(samples, 0.5), q, Stats.quantile(samples, q))
  }

  private def finish(env: Env, job: Job, gen: EventGenerator, files: Seq[Int],
      lines: Seq[String], wmMs: Long, drained: Boolean, releaseMs: Long, setupS: Double,
      cpuS: Double, heapMb: Double, detail: Map[String, Any]): Outcome = {
    val ctx = env.ctx
    val batches = job.queries.map { case (b, q) => b -> env.progress.batches(q.id) }.toMap

    // Commit time of the batch holding each file, per branch: batches take
    // files in write order, so cumulative input rows locate each file.
    val cumLines = files.scanLeft(0L)(_ + _).tail
    def commitOf(b: String): Int => Option[Long] = {
      val bs = batches(b).filter(_.rows > 0)
      val cum = bs.scanLeft(0L)(_ + _.rows).tail
      i => bs.indices.find(k => cum(k) >= cumLines(i)).map(bs(_).commitMs)
    }
    val commits = Main.Branches.map(b => b -> commitOf(b)).toMap
    val perBranch = Main.Branches.map { b =>
      b -> files.indices.flatMap(i => commits(b)(i).map(c => ((c - releaseMs).toDouble, files(i).toLong)))
    }.toMap
    val deliver = files.indices.flatMap { i =>
      val cs = Main.Branches.flatMap(b => commits(b)(i))
      if (cs.size == Main.Branches.size) Some(((cs.max - releaseMs).toDouble, files(i).toLong))
      else None
    }
    val undelivered = files.map(_.toLong).sum - deliver.map(_._2).sum
    val (deliverP50, q, deliverTail) = latency(deliver)

    // pass: first trigger → last branch commit of the final file
    val lastCommit = Main.Branches.flatMap(b => commits(b)(files.size - 1)).maxOption
      .getOrElse(batches.values.flatten.map(_.commitMs).max)
    val passS = (lastCommit - releaseMs) / 1000.0

    // Checks: every sink equals the batch form over the same events.
    val checks = ctx.tracer.span("bench", "check")(check(env, job, lines, wmMs))
    val windowLat = windowLatencies(batches, releaseMs, checks)

    val all = batches.values.flatten.toSeq
    def meanDur(k: String, bs: Seq[BatchProgress] = all) =
      if (bs.isEmpty) 0.0 else bs.map(_.durMs.getOrElse(k, 0L)).sum.toDouble / bs.size
    val statsBatches = StatsBranches.flatMap(batches)
    val dropped = all.flatMap(_.state).map(_.numRowsDroppedByWatermark).sum
    val stateOps = statsBatches.flatMap(_.state)
    val traced = if (ctx.opts.trace) tracedExtras(env, lines, gen) else Map.empty[String, Double]
    if (ctx.opts.trace) all.foreach { bp =>
      val grp = s"${bp.branch}:${bp.batchId}"
      val root = ctx.tracer.record("streaming", s"${bp.branch}.trigger", grp, 0, bp.startMs, bp.commitMs)
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
        "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
        .foldLeft(bp.startMs) { case (t, (phase, layer)) =>
          val d = bp.durMs.getOrElse(phase, 0L)
          ctx.tracer.record(layer, s"${bp.branch}.$phase", grp, root, t, t + d)
          t + d
        }
    }
    val (windowP50, _, windowTail) = latency(windowLat)
    val perLayer: Map[String, Double] = Map(
      "sources.latestOffset_ms" -> meanDur("latestOffset"),
      "sources.getBatch_ms" -> meanDur("getBatch"),
      "operators.malformed_generated" -> gen.malformed.toDouble,
      "streaming.batches" -> all.size.toDouble,
      "streaming.addBatch_ms" -> meanDur("addBatch"),
      "streaming.queryPlanning_ms" -> meanDur("queryPlanning"),
      "streaming.walCommit_ms" -> meanDur("walCommit"),
      "streaming.commitOffsets_ms" -> meanDur("commitOffsets"),
      "streaming.triggerExecution_ms" -> meanDur("triggerExecution"),
      "streaming.state_rows" -> StatsBranches.map(b =>
        batches(b).map(_.state.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)).sum.toDouble,
      "streaming.state_mem_bytes" -> StatsBranches.map(b =>
        batches(b).map(_.state.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)).sum.toDouble,
      "streaming.state_commit_ms" ->
        (if (statsBatches.isEmpty) 0.0 else stateOps.map(_.commitTimeMs).sum.toDouble / statsBatches.size),
      "streaming.state_update_ms" ->
        (if (statsBatches.isEmpty) 0.0 else stateOps.map(_.allUpdatesTimeMs).sum.toDouble / statsBatches.size),
      "streaming.dropped_by_watermark" -> dropped.toDouble,
      "streaming.window_p50_ms" -> windowP50,
      "streaming.window_tail_ms" -> windowTail,
      "streaming.drain_events_per_s" -> lines.size / passS) ++
      Main.Branches.flatMap { b =>
        val q0 = job.queries.find(_._1 == b).get._2
        val cpu = Seq(q0.id, q0.runId).map(id => ctx.tasks.get(s"stream:$id")("exec_cpu_ms")).max
        val (p50, _, tail) = latency(perBranch(b))
        Seq(s"streaming.$b.batches" -> batches(b).size.toDouble,
          s"streaming.$b.addBatch_ms" -> meanDur("addBatch", batches(b)),
          s"streaming.$b.p50_ms" -> p50,
          s"streaming.$b.tail_ms" -> tail,
          s"streaming.$b.exec_cpu_ms" -> cpu)
      } ++
      checks.rowsWritten.map { case (b, n) => s"sinks.rows_written.$b" -> n.toDouble } ++
      traced
    val failed = checks.failed + undelivered + dropped + (if (drained) 0 else 1) +
      traced.get("operators.parse_rejects").map(r => math.abs(r - gen.malformed).toLong).getOrElse(0L)
    if (failed > 0) System.err.println(s"[flightbench] failures: ${checks.detail} " +
      s"undelivered=$undelivered dropped=$dropped drained=$drained")
    Outcome(
      attempted = checks.attempted + lines.size,
      failed = failed,
      endToEnd = Map("setup_s" -> setupS,
        "deliver_p50_ms" -> deliverP50,
        "deliver_tail_ms" -> deliverTail,
        "pass_s" -> passS, "cpu_s" -> cpuS),
      perLayer = perLayer + ("process.peak_heap_mb" -> heapMb),
      detail = detail ++ Map(
        "spark_conf" -> ctx.sparkConf,
        "samples" -> Map("deliver" -> deliver.map(_._2).sum,
          "distinct_delivery_times" -> deliver.map(_._1).distinct.size, "tail_q" -> q,
          "window" -> windowLat.size),
        "checks" -> checks.detail, "undelivered" -> undelivered,
        "deliver_ms_by_file" -> files.indices.map(i => Main.Branches.flatMap(b => commits(b)(i))
          .maxOption.map(_ - releaseMs).getOrElse(-1L)),
        "events" -> lines.size, "malformed" -> gen.malformed,
        "batches" -> batches.map { case (b, bs) => b -> bs.size }))
  }

  final case class CheckResult(attempted: Long, failed: Long, rowsWritten: Map[String, Long],
      detail: Map[String, Long], statsRows: Map[String, Seq[Row]])

  /** A row's columns in schema order; timestamps as epoch ms, doubles
    * left out (they are compared under `Tolerance`). */
  private def exactKey(r: Row, schema: StructType): String =
    schema.fields.indices.filterNot(i => schema(i).dataType == DoubleType).map { i =>
      r.get(i) match {
        case t: java.sql.Timestamp => t.getTime.toString
        case n: java.lang.Number => n.longValue.toString
        case x => String.valueOf(x)
      }
    }.mkString("\u0001")

  /** Rows missing from or extra in `actual`, as a multiset. */
  private def multisetDiff(actual: Seq[Row], expected: Seq[Row], schema: StructType): Long = {
    val counts = mutable.HashMap.empty[String, Long]
    expected.foreach(r => counts(exactKey(r, schema)) = counts.getOrElse(exactKey(r, schema), 0L) + 1)
    actual.foreach(r => counts(exactKey(r, schema)) = counts.getOrElse(exactKey(r, schema), 0L) - 1)
    counts.values.map(math.abs).sum
  }

  /** Stats rows keyed by window and key columns: missing, extra, duplicate
    * or off-by-more-than-`Tolerance` rows each count once. */
  private def statsDiff(actual: Seq[Row], expected: Seq[Row], schema: StructType): Long = {
    val dbl = schema.fields.indices.filter(i => schema(i).dataType == DoubleType)
    def doubles(r: Row) = dbl.map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    val exp = expected.groupBy(exactKey(_, schema))
    val act = actual.groupBy(exactKey(_, schema))
    (exp.keySet ++ act.keySet).toSeq.map { k =>
      (exp.getOrElse(k, Nil), act.getOrElse(k, Nil)) match {
        case (Seq(e), Seq(a)) =>
          val close = doubles(e).zip(doubles(a)).forall { case (x, y) =>
            (x.isNaN && y.isNaN) || math.abs(x - y) <= Tolerance * math.max(1.0, math.abs(x))
          }
          if (close) 0L else 1L
        case (es, as) => math.max(es.size, as.size).toLong
      }
    }.sum
  }

  private def check(env: Env, job: Job, lines: Seq[String], wmMs: Long): CheckResult = {
    val spark = env.spark
    val ctx = env.ctx
    if (ctx.opts.corrupt == "sink") {
      val conn = java.sql.DriverManager.getConnection(env.url, env.props)
      try {
        val t = s"${job.prefix}_raw_events"
        conn.createStatement().executeUpdate(
          s"""UPDATE $t SET "delay_minutes" = "delay_minutes" + 100000 WHERE "delay_minutes" = """ +
            s"""(SELECT MAX("delay_minutes") FROM $t)""")
      } finally conn.close()
    }
    import spark.implicits._
    val parsed = FlightOps.parseFlightEvents(lines.toDF("value")).cache()
    val tc = col("scheduled_time")
    val wm = new java.sql.Timestamp(wmMs)
    def closed(df: DataFrame) = df.filter(col("window_end") <= lit(wm))
    // expected batch forms, each read back from its sink in the same schema
    val expected: Seq[(String, DataFrame, DataFrame)] = {
      def table(b: String) = spark.read.jdbc(env.url, s"${job.prefix}_$b", env.props)
      def conform(actual: DataFrame, e: DataFrame) =
        actual.select(e.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      val notif = FlightOps.delayNotificationFields(parsed)
      Seq(
        "airline_stats" -> closed(FlightOps.airlineStats(parsed, tc, "2 minutes")),
        "route_stats" -> closed(FlightOps.routeStats(parsed, tc, "3 minutes")),
        "hourly_stats" -> closed(FlightOps.hourlyStats(parsed, tc, "5 minutes")),
        "raw_events" -> parsed).map { case (b, e) => (b, e, conform(table(b), e)) } :+
        (("notifications", notif, spark.read.parquet(job.notifPath)
          .select(from_json(col("value"), notif.schema).as("n")).select("n.*")))
    }
    val results = expected.map { case (b, e, a) =>
      val (er, ar) = (e.collect().toSeq, a.collect().toSeq)
      val diff = if (b.endsWith("_stats")) statsDiff(ar, er, e.schema) else multisetDiff(ar, er, e.schema)
      (b, er.size.toLong, ar, diff)
    }
    parsed.unpersist()
    CheckResult(
      attempted = results.map(_._2).sum,
      failed = results.map(_._4).sum,
      rowsWritten = results.map { case (b, _, ar, _) => b -> ar.size.toLong }.toMap,
      detail = results.map { case (b, _, _, d) => s"$b.mismatch" -> d }.toMap,
      statsRows = results.collect { case (b, _, ar, _) if b.endsWith("_stats") => b -> ar }.toMap)
  }

  /** Per stats row: from the release of the backlog to the commit of the
    * batch that emitted it, which is the first batch whose watermark reached
    * the window end (append mode). Rows closed by the end-of-run sentinel
    * are left out. */
  private def windowLatencies(batches: Map[String, Seq[BatchProgress]], releaseMs: Long,
      checks: CheckResult): Seq[(Double, Long)] =
    StatsBranches.flatMap { b =>
      val bs = batches(b)
      val lastWm = bs.map(_.watermarkMs).maxOption.getOrElse(0L)
      checks.statsRows(b).flatMap { r =>
        val endMs = r.getAs[java.sql.Timestamp]("window_end").getTime
        bs.find(_.watermarkMs >= endMs).filter(_.watermarkMs < lastWm)
          .map(e => ((e.commitMs - releaseMs).toDouble, 1L))
      }
    }

  /** Traced run only: batch throughput of the operators over the run's own
    * events, the parse reject count, and JDBC append throughput. */
  private def tracedExtras(env: Env, lines: Seq[String], gen: EventGenerator): Map[String, Double] = {
    val spark = env.spark
    val tr = env.ctx.tracer
    import spark.implicits._
    val raw = lines.toDF("value").cache()
    raw.count()
    def timed(n: Int)(f: => Unit): Double =
      Stats.median((1 to n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 })
    val parseS = timed(3)(tr.span("operators", "parseFlightEvents")(
      FlightOps.parseFlightEvents(raw).write.format("noop").mode("overwrite").save()))
    val parsed = FlightOps.parseFlightEvents(raw).cache()
    val parsedRows = parsed.count()
    val windowS = timed(3)(tr.span("operators", "airlineStats")(
      FlightOps.airlineStats(parsed, col("scheduled_time")).write.format("noop").mode("overwrite").save()))
    val rejects = tr.span("operators", "rejectedFlightEvents")(FlightOps.rejectedFlightEvents(raw).count())
    val frame = parsed.limit(20000).cache()
    val frameRows = frame.count()
    val sink = EventSink.JdbcIdempotent(env.url, "probe_append", env.props)
    var epoch = 0L
    val jdbcS = timed(3) {
      epoch += 1
      tr.span("sinks", "appendEpoch")(sink.appendEpoch(frame, epoch))
    }
    Map("operators.parse_events_per_s" -> lines.size / parseS,
      "operators.window_events_per_s" -> parsedRows / windowS,
      "operators.parse_rejects" -> rejects.toDouble,
      "sinks.jdbc_rows_per_s" -> frameRows / jdbcS)
  }
}
