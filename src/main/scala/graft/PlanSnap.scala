package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: snapshot `.explain("formatted")` for named catalog queries into
  * plans/r18/<query>_<suffix>.txt (the optimization-round evidence files).
  * Usage: runMain graft.PlanSnap <suffix> <query> [query ...]
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.1, the bench scale) so the
  * snapshotted plan is the shape the bench actually runs. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val suffix = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get("plans/r18")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(s"${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote plans/r18/${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
