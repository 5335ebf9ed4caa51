package graft

/** `Prof` reports the run it measured: the totals count the row's rows, the
  * listener saw its stages, and the operator metrics come from the plan that
  * ran (a plan walked without running reads 0 everywhere). */
class ProfSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("profile reports totals, stages and operator metrics of the plan it ran") {
    val p = Prof.profile(spark, sfDir, "flight_airline_stats")
    val report = p.lines.mkString("\n")
    assert(p.rows == SparkEntry.queries("flight_airline_stats")(spark, sfDir).count(), report)
    assert(p.stages.nonEmpty, report)
    assert(p.operators.exists(_.metrics.exists(_._2 > 0)), report)
  }
}
