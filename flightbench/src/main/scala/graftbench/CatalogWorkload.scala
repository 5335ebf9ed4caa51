package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

/**
 * `catalog_flight`: a fixed slice of `SparkEntry.queries`, run in batch.
 * Every flight row (parse, notification, the three window stats, rejects,
 * routing and the SQL twin) plus one row per `events_*` operator family
 * (CEP, time series served from an artifact, sketches, sessions). These are
 * short queries where construction and planning are a large share.
 *
 * Each row runs as: construct (the catalog call) → plan (force the executed
 * plan of the row wrapped in an order-independent fingerprint aggregate) →
 * exec (collect the fingerprint). The fingerprint is checked against one
 * recorded after the row's output matched its DuckDB oracle.
 */
object CatalogWorkload {
  val Rows: Seq[String] = Seq(
    "flight_parse", "flight_notifications", "flight_airline_stats", "flight_route_stats",
    "flight_hourly_stats", "flight_reject_stats", "notify_routing", "sql_flight_airline_stats",
    "events_cep_match", "events_ts_changepoints_served", "events_value_percentiles",
    "events_session_windows")

  /** Artifact families the rows serve from, built in setup. */
  val ArtifactFamilies: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "key_profile" -> ((s, d) => graft.Artifacts.keyProfile(s, d)))

  def dataDir(o: Opts): String = s"${o.dataRoot}/${if (o.tiny) "sf0.001" else "sf0.01"}"

  /** count plus the decimal sum of a 64-bit hash of every row's columns
    * (taken in name order): equal outputs give equal fingerprints regardless
    * of row order or partitioning. */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.map(c => df.col(s"`$c`")).toIndexedSeq
    val h =
      if (df.schema.exists(f => hasMap(f.dataType))) xxhash64(to_json(struct(cols: _*)))
      else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  private def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** (exchanges, operators outside whole-stage codegen) in a final plan. */
  def planShape(p: SparkPlan, inCodegen: Boolean = false): (Int, Int) = {
    def sum(ps: Seq[(Int, Int)]) = ps.foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    p match {
      case a: AdaptiveSparkPlanExec => planShape(a.executedPlan, inCodegen)
      case q: QueryStageExec => planShape(q.plan, inCodegen = false)
      case w: WholeStageCodegenExec => planShape(w.child, inCodegen = true)
      case i: InputAdapter => planShape(i.child, inCodegen = false)
      case _: ReusedExchangeExec => (0, 0)
      case e: Exchange => val (x, n) = planShape(e.child, inCodegen = false); (x + 1, n)
      case other =>
        val (x, n) = sum(other.children.map(planShape(_, inCodegen)))
        (x, n + (if (inCodegen) 0 else 1))
    }
  }

  final case class RowRun(name: String, pass: Int, constructMs: Double, planMs: Double,
      execMs: Double, fingerprint: String, ok: Boolean, error: String,
      exchanges: Int, nonCodegen: Int, listener: Map[String, Double])

  def loadFingerprints(o: Opts): Map[String, String] = {
    val f = new java.io.File(s"${o.fingerprints}/catalog_flight-${if (o.tiny) "sf0.001" else "sf0.01"}.json")
    if (!f.exists()) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"([a-z0-9_]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }

  def runRow(ctx: Ctx, name: String, pass: Int, expected: Map[String, String],
      corrupt: Boolean): RowRun = {
    val spark = ctx.spark
    val dir = dataDir(ctx.opts)
    val tr = ctx.tracer
    val group = s"catalog:$name:$pass"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    var constructMs, planMs, execMs = 0.0
    var fp = ""
    var err = ""
    var shape = (0, 0)
    try tr.span("bench", "row", name) {
      val t0 = System.nanoTime()
      val df0 = tr.span("catalog", "construct", name)(graft.SparkEntry.queries(name)(spark, dir))
      val df = if (corrupt) df0.union(df0.limit(1)) else df0
      val t1 = System.nanoTime()
      val fpf = fingerprintFrame(df)
      val qe = fpf.queryExecution
      tr.span("catalog", "plan", name)(qe.executedPlan)
      val t2 = System.nanoTime()
      val r = tr.span("catalog", "exec", name)(fpf.collect().head)
      val t3 = System.nanoTime()
      constructMs = (t1 - t0) / 1e6; planMs = (t2 - t1) / 1e6; execMs = (t3 - t2) / 1e6
      fp = s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("null")}"
      shape = planShape(qe.executedPlan)
    } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    finally spark.sparkContext.clearJobGroup()
    ctx.tasks.awaitJobs(spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSeq)
    val ok = err.isEmpty && (ctx.opts.dump.nonEmpty || expected.get(name).contains(fp))
    if (!ok && err.isEmpty) err = s"fingerprint $fp != expected ${expected.getOrElse(name, "<none>")}"
    RowRun(name, pass, constructMs, planMs, execMs, fp, ok, err, shape._1, shape._2,
      ctx.tasks.get(group))
  }

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.startSession(o.cores)
    val dir = dataDir(o)
    val expected = loadFingerprints(o)
    val rng = new scala.util.Random(o.seed)

    // Setup: build every artifact a row serves from (the run's own
    // java.io.tmpdir keeps them from any other run), then one cold and one
    // warm pass. After a single cold pass the next passes were still 20-43%
    // slower than later ones (the JIT was still compiling), and the median
    // of the measured passes moved with how fast that settled.
    val buildS = ArtifactFamilies.map { case (fam, build) =>
      val t0 = System.nanoTime()
      ctx.tracer.span("artifacts", "build", fam)(build(spark, dir))
      fam -> (System.nanoTime() - t0) / 1e9
    }
    if (o.dump.nonEmpty) return dump(ctx, dir)
    val warm = (0 until (if (o.tiny) 1 else 2)).flatMap(_ =>
      Rows.map(n => runRow(ctx, n, 0, expected, corrupt = false)))
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1000.0

    // Measured passes, each in a seeded order. Passes keep getting faster
    // for a while after the cold one (the JIT is still compiling), so every
    // run makes the same number of passes, one per 5 s of `--seconds`, and
    // the median pass means the same thing in every run.
    ctx.meter.watchHeap()
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Seq[RowRun])]
    (1 to (if (o.tiny) 1 else math.max(1, o.seconds / 5))).foreach { p =>
      val order = rng.shuffle(Rows)
      val c0 = ctx.meter.cpuNanos
      val t0 = System.nanoTime()
      val runs = order.zipWithIndex.map { case (n, i) =>
        runRow(ctx, n, p, expected, corrupt = o.corrupt == "catalog" && i == 0)
      }
      passes += (((System.nanoTime() - t0) / 1e9, (ctx.meter.cpuNanos - c0) / 1e9, runs))
    }
    val heapMb = ctx.meter.peakHeapMb()

    val all = passes.flatMap(_._3)
    val latencies = all.map(r => (r.constructMs + r.planMs + r.execMs, 1L)).toSeq
    val q = Stats.tailQ(latencies.size)
    // the pass with the median wall time carries the per-layer breakdown
    val medianPass = passes.sortBy(_._1).apply((passes.size - 1) / 2)._3
    def passSum(f: RowRun => Double) = medianPass.map(f).sum
    val catalogLayer: Map[String, Double] =
      Map("catalog.construct_ms" -> passSum(_.constructMs),
        "catalog.plan_ms" -> passSum(_.planMs), "catalog.exec_ms" -> passSum(_.execMs),
        "catalog.exchanges" -> passSum(_.exchanges.toDouble),
        "catalog.non_codegen_ops" -> passSum(_.nonCodegen.toDouble),
        "catalog.catalog_s" -> Stats.median(passes.map(_._1).toSeq),
        "artifacts.build_s" -> buildS.map(_._2).sum) ++
      Seq("exec_cpu_ms", "gc_ms", "jobs", "stages", "tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes").map(m => s"catalog.$m" -> passSum(_.listener(m)))
    val failures = (warm ++ all).filterNot(_.ok)
    failures.take(5).foreach(f => System.err.println(s"[flightbench] ${f.name} pass ${f.pass}: ${f.error}"))
    Outcome(
      attempted = (warm ++ all).size.toLong,
      failed = failures.size.toLong,
      endToEnd = Map(
        "setup_s" -> setupS,
        "deliver_p50_ms" -> Stats.quantile(latencies, 0.5),
        "deliver_tail_ms" -> Stats.quantile(latencies, q),
        "pass_s" -> Stats.median(passes.map(_._1).toSeq),
        "cpu_s" -> Stats.median(passes.map(_._2).toSeq)),
      perLayer = catalogLayer + ("process.peak_heap_mb" -> heapMb),
      detail = Map(
        "spark_conf" -> ctx.sparkConf,
        "data_dir" -> dir,
        "samples" -> Map("deliver" -> latencies.size, "tail_q" -> q, "passes" -> passes.size),
        "artifacts_build_s" -> buildS.toMap,
        "failures" -> failures.take(20).map(f => Map("row" -> f.name, "pass" -> f.pass, "error" -> f.error)),
        "rows" -> all.map(r => Map("row" -> r.name, "pass" -> r.pass,
          "construct_ms" -> r.constructMs, "plan_ms" -> r.planMs, "exec_ms" -> r.execMs,
          "exchanges" -> r.exchanges, "non_codegen_ops" -> r.nonCodegen, "ok" -> r.ok) ++
          r.listener)))
  }

  /** Oracle-verification mode: write each row's output as parquet together
    * with its oracle SQL and its fingerprint, for `verify_oracle.py`. */
  private def dump(ctx: Ctx, dir: String): Outcome = {
    val spark = ctx.spark
    val out = ctx.opts.dump
    val oracle = graft.SparkEntry.oracleSql
    val fps = Rows.map { n =>
      spark.sparkContext.setJobGroup(s"dump:$n", n, interruptOnCancel = false)
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.write.mode("overwrite").parquet(s"$out/$n")
      n -> runRow(ctx, n, 0, Map.empty, corrupt = false).fingerprint
    }
    def write(name: String, m: Map[String, String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/$name"), Json(m).getBytes("UTF-8"))
    write("oracle_sql.json", Rows.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    write("fingerprints.json", scala.collection.immutable.ListMap(fps: _*))
    Outcome(Rows.size.toLong, 0L, Main.EndToEnd.map(_._1 -> 1.0).toMap, Map.empty,
      Map("spark_conf" -> ctx.sparkConf))
  }
}
