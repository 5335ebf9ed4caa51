package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Dev-only per-query profiler (guide §1 empirical loop, headless): runs each
  * named catalog query with a listener that aggregates job/stage/task counts,
  * summed executor run time, GC time, and shuffle read/write bytes. The
  * second (steady-state) execution is reported; wall × cores vs executor run
  * time separates "the cluster is busy" from "the driver is planning /
  * looping". Usage: SPARK_GRAFT_SF_DIR=... runMain graft.QueryProf q1 q2 ... */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new LongAdder; val runMs = new LongAdder; val gcMs = new LongAdder
    val shufR = new LongAdder; val shufW = new LongAdder; val spill = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        tasks.add(s.stageInfo.numTasks)
        runMs.add(m.executorRunTime); gcMs.add(m.jvmGCTime)
        shufR.add(m.shuffleReadMetrics.totalBytesRead)
        shufW.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.diskBytesSpilled)
      }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.reset(); runMs.reset()
      gcMs.reset(); shufR.reset(); shufW.reset(); spill.reset() }
    args.foreach { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm run: codegen, footers
      Thread.sleep(200); reset()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(400)
      println(f"$q%-36s wall=$wall%7.2fs rows=$n%8d jobs=${jobs.get}%4d stages=${stages.get}%4d tasks=${tasks.sum}%6d " +
        f"exec=${runMs.sum / 1000.0}%8.1fs gc=${gcMs.sum / 1000.0}%6.2fs " +
        f"shufR=${shufR.sum / 1048576.0}%8.1fMB shufW=${shufW.sum / 1048576.0}%8.1fMB spill=${spill.sum / 1048576.0}%6.1fMB " +
        f"par=${runMs.sum / 1000.0 / wall}%5.1fx")
    }
    spark.stop()
  }
}
