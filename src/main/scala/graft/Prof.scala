package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import scala.collection.mutable

/** Dev-only per-row profiler (the Spark UI's job, stage and SQL tabs,
  * headless). Each named catalog row runs once warm, then once measured as
  * `groupBy().count()` (the plan `Bench`'s `count()` times), and prints:
  *  1. totals: wall, rows, jobs, stages, tasks, executor run time, GC,
  *     shuffle read/write, spill, and `par` = executor time / wall, which
  *     separates "the cluster is busy" from "the driver is planning or
  *     looping";
  *  2. every completed stage by executor time, with the first graft frame
  *     of the call site that submitted it;
  *  3. the operators of the plan that ran, with time metrics of at least
  *     [[MinMs]] and row counts above 100k.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Prof q1 q2 ..."`, or
  * without sbt `SPARK_GRAFT_SF_DIR=... tools/bench.sh graft.Prof q1 q2 ...`.
  */
object Prof {
  /** Operator time metrics below this many ms are not printed. */
  private val MinMs = 50L

  /** One operator of the executed plan: its time metrics in ms
    * (`nsTiming` metrics converted) and its `numOutputRows`. */
  private[graft] final case class Operator(depth: Int, name: String, metrics: Seq[(String, Long)])

  /** One measured run: construction through `collect()` of the counted row. */
  private[graft] final case class Profile(query: String, wallS: Double, rows: Long, jobs: Int,
      stages: Seq[StageInfo], operators: Seq[Operator]) {
    def lines: Seq[String] = {
      def mb(bytes: Long): Double = bytes / 1048576.0
      def sum(f: StageInfo => Long): Long = stages.map(f).sum
      val execMs = sum(_.taskMetrics.executorRunTime)
      val totals = f"$query%-36s wall=$wallS%7.2fs rows=$rows%8d jobs=$jobs%4d " +
        f"stages=${stages.size}%4d tasks=${sum(_.numTasks.toLong)}%6d " +
        f"exec=${execMs / 1000.0}%8.1fs gc=${sum(_.taskMetrics.jvmGCTime) / 1000.0}%6.2fs " +
        f"shufR=${mb(sum(_.taskMetrics.shuffleReadMetrics.totalBytesRead))}%8.1fMB " +
        f"shufW=${mb(sum(_.taskMetrics.shuffleWriteMetrics.bytesWritten))}%8.1fMB " +
        f"spill=${mb(sum(_.taskMetrics.diskBytesSpilled))}%6.1fMB par=${execMs / 1000.0 / wallS}%5.1fx"
      val stageLines = stages.sortBy(-_.taskMetrics.executorRunTime).flatMap { s =>
        val m = s.taskMetrics
        val line = f"  exec=${m.executorRunTime / 1000.0}%7.2fs gc=${m.jvmGCTime / 1000.0}%5.2fs " +
          f"tasks=${s.numTasks}%4d shufR=${mb(m.shuffleReadMetrics.totalBytesRead)}%8.1fMB " +
          f"shufW=${mb(m.shuffleWriteMetrics.bytesWritten)}%8.1fMB  [${s.stageId}] ${s.name.take(110)}"
        // the operator step the stage belongs to, when graft code (not this
        // harness) submitted it
        val at = s.details.linesIterator.map(_.trim)
          .find(l => l.startsWith("graft.") && !l.startsWith("graft.Prof"))
        line +: at.map(l => s"        at ${l.take(100)}").toSeq
      }
      val opLines = operators.flatMap { o =>
        val shown = o.metrics.filter { case (k, v) =>
          if (k == "numOutputRows") v > 100000 else v >= MinMs
        }
        if (shown.isEmpty) None
        else Some("  " * o.depth + f"${o.name}%-40s " + shown.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
      totals +: (stageLines ++ opLines)
    }
  }

  /** Records the stages of the jobs started under `group`, and returns once
    * it has been handed every event posted before a later job in
    * `group + ":fence"` started. */
  private final class Recorder(group: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private val fenced = new CountDownLatch(1)
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    var jobs = 0

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case `group` => jobs += 1; stageIds ++= j.stageIds
        case g if g == group + ":fence" => fenced.countDown()
        case _ =>
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds(s.stageInfo.stageId)) stages += s.stageInfo

    def fence(sc: SparkContext): Unit = {
      sc.setJobGroup(group + ":fence", "graft.Prof fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }
  }

  /** Profile catalog row `query`: one warm run, then one measured run. */
  private[graft] def profile(spark: SparkSession, sfDir: String, query: String): Profile = {
    val fn = SparkEntry.queries(query)
    fn(spark, sfDir).count() // warm: codegen, footers, artifacts
    val sc = spark.sparkContext
    val group = s"graft.Prof $query"
    val rec = new Recorder(group)
    sc.addSparkListener(rec)
    try {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      // collect() runs the frame's own QueryExecution, so the plan walked
      // below is the one that ran (count() would plan a fresh one)
      val (counted, rows) = try {
        val c = fn(spark, sfDir).groupBy().count()
        (c, c.collect().head.getLong(0))
      } finally sc.clearJobGroup()
      val wallS = (System.nanoTime() - t0) / 1e9
      rec.fence(sc)
      Profile(query, wallS, rows, rec.jobs, rec.stages.toSeq,
        operators(counted.queryExecution.executedPlan))
    } finally sc.removeSparkListener(rec)
  }

  /** The plan's operators and their metrics, descending into AQE stages,
    * reused exchanges and subqueries. */
  private def operators(plan: SparkPlan): Seq[Operator] = {
    def walk(p: SparkPlan, depth: Int): Seq[Operator] = {
      val metrics = p.metrics.toSeq.sortBy(_._1).collect {
        case (k, m) if m.metricType == "timing" => k -> m.value
        case (k, m) if m.metricType == "nsTiming" => k -> m.value / 1000000
        case (k, m) if k == "numOutputRows" => k -> m.value
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      Operator(depth, p.nodeName, metrics) +:
        (kids ++ p.subqueries).flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1000000).selectExpr("sum(id)").collect() // JVM and codegen warm-up
      args.foreach(q => profile(spark, sfDir, q).lines.foreach(println))
    } finally spark.stop()
  }
}
