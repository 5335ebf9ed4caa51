package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev-only per-OPERATOR profiler (the SQL-tab view, headless): runs one
  * catalog query (steady-state 2nd execution), then walks the AQE-final
  * executed plan printing every operator's SQL metrics — so a hot STAGE
  * (StageProf) can be attributed to the exact operator inside it.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.OpProf <query> [minMs]
  */
object OpProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val minMs = if (args.length > 1) args(1).toLong else 50L
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val q = args(0)
    val fn = SparkEntry.queries(q)
    fn(spark, sfDir).count() // warm
    Thread.sleep(200)
    val df = fn(spark, sfDir)
    val t0 = System.nanoTime()
    val n = df.count()
    println(f"query=$q wall=${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")

    // walk the executed plan, descending into AQE stages and subqueries
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (k, m) =>
        (k.contains("time") || k.contains("Time")) && m.value >= minMs ||
          k == "numOutputRows" && m.value > 100000
      }
      if (interesting.nonEmpty) {
        val ms = interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
        println("  " * depth + f"${p.nodeName}%-40s $ms")
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
