package graft
import org.apache.spark.sql.SparkSession

/** The one session contract: every graft main (and the test session) builds
  * its `SparkSession` here, so the correctness gate, the suite, the
  * profilers and the bench all run the same configuration. A main adds only
  * the settings its own experiment needs on top of [[builder]]. */
object GraftSession {

  /** The settings every session runs with. */
  val conf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet drops carried TIMESTAMP(NANOS); read as long and
    // convert (see graft.Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.enableJsonExpressionOptimization" -> "false",
    // fan single-split local scans out to every core (Tables.smallScanTarget)
    "spark.graft.parallelizeSmallScans" -> "true",
    // The k-means / PQ training updates aggregate k·dim (sum, count) pairs
    // as WIDE columns (64-dim corpus → ~193 partial-agg buffer fields),
    // which overflows the default spark.sql.codegen.maxFields=100 and
    // silently drops the whole aggregation out of whole-stage codegen —
    // measured 2–3.5× the exec CPU interpreted (OPTIMIZATION_r18.md §7).
    // The width is k·dim — a property of the MODEL shape, not the data
    // scale — so raising the span cap is correct at any corpus size.
    "spark.sql.codegen.maxFields" -> "200",
    "spark.ui.enabled" -> "false")

  /** A local builder on `cores` threads, one shuffle partition per core,
    * with [[conf]] applied. */
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config(conf)
}
