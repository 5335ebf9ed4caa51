package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Loaders for the driver-generated parquet tables (TESTDATA.md).
 *
 * One quirk: `events.ts` has been written as parquet TIMESTAMP(NANOS) in
 * some data drops, which Spark does not read natively
 * (PARQUET_TYPE_ILLEGAL). When the file carries nanos we read the column as
 * a raw long via `spark.sql.legacy.parquet.nanosAsLong` and convert to a
 * microsecond timestamp with truncation — exactly what DuckDB does when it
 * reads the same file (ns → µs truncation), so engine and oracle see
 * identical values. Newer drops write TIMESTAMP(MICROS), which both engines
 * read natively; the loader inspects the loaded type and adapts, so either
 * encoding yields the same microsecond TIMESTAMP frame downstream.
 */
object Tables {

  /** Runtime-settable; called defensively before any events read. */
  private def enableNanosAsLong(spark: SparkSession): Unit =
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /**
   * Fan a tiny single-split scan out to the session's parallelism, opt-in
   * via `spark.graft.parallelizeSmallScans` (on in every [[GraftSession]];
   * the test session leaves it off). The local test parquet has ONE row
   * group, so the scan is one task and every heavy per-row projection above
   * it (per-char winnowing hashes, MinHash signatures, gram explodes) runs
   * single-threaded — a local-fixture artifact, not a property of the
   * operators. On a real cluster the scan already has >= parallelism splits
   * and this never fires (the split-count check is plan-time; no job runs),
   * so the default-off audited plans are exactly the at-scale plans. Round-robin
   * repartition is deterministic (Spark sorts within input partitions
   * first) and every catalog result is partition-invariant by the decimal/
   * exact-int conventions, which the driver's hash gate re-proves each run.
   */
  private def fanOutSmallScan(df: DataFrame): DataFrame =
    smallScanTarget(df).fold(df)(df.repartition)

  /** The small-scan fan-out policy, shared with the wire frame of
    * `Queries.wireFlightJson`: `Some(parallelism)` when the opt-in flag is
    * on and `df` has fewer than half as many partitions (at least 2) as
    * the session's default parallelism, else `None`. */
  private[graft] def smallScanTarget(df: DataFrame): Option[Int] = {
    val spark = df.sparkSession
    val enabled = spark.conf.getOption("spark.graft.parallelizeSmallScans")
      .contains("true")
    lazy val target = spark.sparkContext.defaultParallelism
    if (enabled && df.rdd.getNumPartitions < math.max(2, target / 2))
      Some(target)
    else None
  }

  /** events with `ts` normalized to a microsecond TIMESTAMP regardless of
    * the file's encoding: ns-as-long drops get the truncating ns→µs
    * conversion (DuckDB-identical); native µs drops (TIMESTAMP /
    * TIMESTAMP_NTZ) pass through with only a cast to session-TZ timestamp
    * (value-preserving under the UTC session the mains pin). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    enableNanosAsLong(spark)
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame =
    fanOutSmallScan(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    fanOutSmallScan(table(spark, dir, "embeddings"))

  /** Artifact/fixture parquet read with the same small-scan fan-out as the
    * source-table loaders: the media payload fixtures are physically tiny
    * (a few MB) but carry the HEAVIEST per-row decode in the catalog, so a
    * single-split read would run the whole Walsh/byte_at chain on one task
    * — the exact local-fixture artifact [[fanOutSmallScan]] exists for
    * (measured on the r17 sf10 spot: phash 312 s single-split vs 169 s
    * distributed). On a real cluster the fixture is real storage with
    * >= parallelism splits and the fan-out never fires. */
  def artifact(spark: SparkSession, path: String): DataFrame =
    fanOutSmallScan(spark.read.parquet(path))
}
