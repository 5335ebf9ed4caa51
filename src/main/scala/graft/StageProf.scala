package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev-only PER-STAGE profiler (QueryProf's aggregate split out): runs one
  * catalog query (steady-state 2nd execution) and prints every completed
  * stage's task count, executor run time, GC, shuffle bytes, and the stage
  * name/callsite — so a query's CPU can be attributed to an operator step
  * instead of the whole plan. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.StageProf <query>
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class St(id: Int, name: String, tasks: Int, runMs: Long, gcMs: Long,
      inRec: Long, outRec: Long, shufR: Long, shufW: Long, details: String)
    val stages = ArrayBuffer.empty[St]
    val collecting = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting.get) {
          val m = s.stageInfo.taskMetrics
          stages.synchronized {
            stages += St(s.stageInfo.stageId, s.stageInfo.name,
              s.stageInfo.numTasks, m.executorRunTime, m.jvmGCTime,
              m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten, s.stageInfo.details)
          }
        }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val q = args(0)
    val fn = SparkEntry.queries(q)
    fn(spark, sfDir).count() // warm: codegen, footers, artifacts
    Thread.sleep(300)
    collecting.set(true)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    collecting.set(false)
    println(f"query=$q wall=$wall%.2fs rows=$n stages=${stages.size}")
    stages.sortBy(-_.runMs).foreach { s =>
      println(f"  exec=${s.runMs / 1000.0}%7.2fs gc=${s.gcMs / 1000.0}%5.2fs " +
        f"tasks=${s.tasks}%4d shufR=${s.shufR / 1e6}%8.1fMB " +
        f"shufW=${s.shufW / 1e6}%8.1fMB  [${s.id}] ${s.name.take(110)}")
      // first graft-package frame in the submission stack, if any — the
      // operator step this stage belongs to
      s.details.linesIterator.find(_.contains("graft."))
        .foreach(l => println(s"        at ${l.trim.take(100)}"))
    }
    spark.stop()
  }
}
