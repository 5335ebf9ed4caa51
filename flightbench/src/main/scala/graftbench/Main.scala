package graftbench

import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` passes them through. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    cores: Int = Runtime.getRuntime.availableProcessors,
    scale: String = "full",
    work: String = "flightbench/work/run",
    out: String = "",
    dataRoot: String = "flightbench/data",
    fingerprints: String = "flightbench/fingerprints",
    corrupt: String = "none",
    dump: String = "",
    commit: String = "unknown") {
  def tiny: Boolean = scale == "tiny"
}

/** What one run hands back: the correctness tally plus metrics by name. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    detail: Map[String, Any])

/** Shared state of one run: the session, the meters and the tracer. */
final class Ctx(val opts: Opts) {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val meter = new ResourceMeter
  val tracer = new Tracer(opts.trace)
  val tasks = new TaskListener
  val loadStart: Double = meter.loadAvg
  private var _spark: SparkSession = _
  def spark: SparkSession = _spark

  /** The session contract of `graft.Bench`, so a later change to it shows
    * up as a diff here: shuffle partitions = cores, UTC, the JSON-parse and
    * codegen-width settings, and small-scan parallelism. */
  def startSession(cores: Int): SparkSession = {
    if (_spark != null) _spark.stop()
    _spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("flightbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
      .config("spark.graft.parallelizeSmallScans", "true")
      .config("spark.sql.codegen.maxFields", "200")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    _spark.sparkContext.setLogLevel("ERROR")
    _spark.sparkContext.addSparkListener(tasks)
    _spark
  }

  /** Spark settings this run made explicitly, minus per-process ids. */
  def sparkConf: Map[String, String] =
    if (_spark == null) Map.empty
    else _spark.sparkContext.getConf.getAll.toMap.filter { case (k, _) =>
      !Set("spark.app.id", "spark.app.startTime", "spark.driver.port", "spark.driver.host",
        "spark.executor.id", "spark.app.submitTime", "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions").contains(k)
    }

  def stop(): Unit = if (_spark != null) { _spark.stop(); _spark = null }
}

object Main {
  val Workloads = Seq("stream_backlog", "catalog_flight")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "deliver_p50_ms" -> "ms", "deliver_tail_ms" -> "ms",
    "pass_s" -> "s", "cpu_s" -> "s")

  val Branches = Seq("notifications", "airline_stats", "route_stats", "hourly_stats", "raw_events")
  val TraceLayers = Seq("bench", "sources", "operators", "streaming", "sinks", "catalog", "artifacts")
  val CatalogLayer = Seq("construct_ms", "plan_ms", "exec_ms", "exec_cpu_ms", "gc_ms", "jobs",
    "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "exchanges", "non_codegen_ops")

  /** Every per-layer metric, printed on every workload; a layer a workload
    * does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("sources.latestOffset_ms" -> "ms", "sources.getBatch_ms" -> "ms",
      "operators.parse_events_per_s" -> "1/s", "operators.window_events_per_s" -> "1/s",
      "operators.parse_rejects" -> "count", "operators.malformed_generated" -> "count",
      "streaming.batches" -> "count", "streaming.addBatch_ms" -> "ms",
      "streaming.queryPlanning_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
      "streaming.commitOffsets_ms" -> "ms", "streaming.triggerExecution_ms" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_mem_bytes" -> "bytes",
      "streaming.state_commit_ms" -> "ms", "streaming.state_update_ms" -> "ms",
      "streaming.dropped_by_watermark" -> "count", "streaming.window_p50_ms" -> "ms",
      "streaming.window_tail_ms" -> "ms", "streaming.drain_events_per_s" -> "1/s",
      "streaming.local1_events_per_s" -> "1/s") ++
    Branches.flatMap(b => Seq(s"streaming.$b.batches" -> "count",
      s"streaming.$b.addBatch_ms" -> "ms", s"streaming.$b.p50_ms" -> "ms",
      s"streaming.$b.tail_ms" -> "ms", s"streaming.$b.exec_cpu_ms" -> "ms")) ++
    Branches.map(b => s"sinks.rows_written.$b" -> "rows") ++
    Seq("sinks.jdbc_rows_per_s" -> "1/s") ++
    CatalogLayer.map(m => s"catalog.$m" -> (if (m.endsWith("_ms")) "ms"
      else if (m.endsWith("_bytes")) "bytes" else "count")) ++
    Seq("catalog.catalog_s" -> "s", "artifacts.build_s" -> "s", "process.peak_heap_mb" -> "MB") ++
    TraceLayers.map(l => s"trace.self_ms.$l" -> "ms")

  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--cores" :: v :: t => go(o.copy(cores = v.toInt), t)
      case "--scale" :: v :: t => go(o.copy(scale = v), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--out" :: v :: t => go(o.copy(out = v), t)
      case "--data" :: v :: t => go(o.copy(dataRoot = v), t)
      case "--fingerprints" :: v :: t => go(o.copy(fingerprints = v), t)
      case "--corrupt" :: v :: t => go(o.copy(corrupt = v), t)
      case "--dump" :: v :: t => go(o.copy(dump = v), t)
      case "--commit" :: v :: t => go(o.copy(commit = v), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    val o = go(Opts(), args.toList)
    require(Workloads.contains(o.workload), s"unknown workload '${o.workload}' " +
      s"(expected one of ${Workloads.mkString(", ")})")
    require(Set("none", "sink", "catalog").contains(o.corrupt), s"bad --corrupt ${o.corrupt}")
    require(Set("full", "tiny").contains(o.scale), s"bad --scale ${o.scale}")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val ctx = new Ctx(opts)
    val outcome =
      try opts.workload match {
        case "catalog_flight" => CatalogWorkload.run(ctx)
        case _ => StreamWorkload.run(ctx)
      }
      finally ctx.stop()

    val selfMs = if (opts.trace) ctx.tracer.selfMsByLayer else Map.empty[String, Double]
    val perLayer = outcome.perLayer ++
      TraceLayers.map(l => s"trace.self_ms.$l" -> selfMs.getOrElse(l, 0.0))
    val chosen =
      if (opts.trace) PerLayer.map { case (n, u) => n -> (perLayer.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => n -> (outcome.endToEnd(n), u) }
    val failed = math.min(outcome.failed, outcome.attempted)
    val result = scala.collection.immutable.ListMap(
      "correct" -> (failed == 0),
      "attempted" -> math.max(1L, outcome.attempted),
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(
        chosen.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }: _*))
    val context = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "scale" -> opts.scale, "commit" -> opts.commit,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> opts.cores,
      "loadavg_start" -> ctx.loadStart, "loadavg_end" -> ctx.meter.loadAvg,
      "spark_conf" -> outcome.detail.getOrElse("spark_conf", Map.empty),
      "java" -> System.getProperty("java.version"))
    if (opts.out.nonEmpty) {
      val f = new java.io.File(opts.out)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Json(Map(
        "context" -> context, "result" -> result,
        "end_to_end" -> outcome.endToEnd, "per_layer" -> perLayer,
        "detail" -> (outcome.detail - "spark_conf"))).getBytes("UTF-8"))
    }
    if (opts.trace && opts.out.nonEmpty)
      ctx.tracer.write(opts.out.stripSuffix(".json") + ".trace.json")
    println(Json(Map("context" -> context)))
    println(Json(result))
  }
}
