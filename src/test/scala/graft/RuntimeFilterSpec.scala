package graft

import org.apache.spark.sql.functions._

/**
 * Runtime bloom-filter injection — the 100 TB scan-pruning lever: a selective
 * dim-side predicate builds a bloom filter that is pushed into the fact-side
 * scan, so the big side drops non-joining rows before the shuffle instead of
 * after it. Verifies Catalyst injects the filter when enabled and that results
 * are identical with it on and off.
 */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  test("selective dim join injects a bloom filter into the fact side") {
    val dir = tempDir("graft_rtf").toString
    Seq.tabulate(20000)(i => (i.toLong, i % 500, s"payload_$i"))
      .toDF("id", "k", "payload").write.parquet(s"$dir/fact")
    Seq.tabulate(500)(i => (i, s"dim_$i")).toDF("k", "name")
      .write.parquet(s"$dir/dim")

    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the rule only fires for probably-shuffle joins (a broadcast join
      // gains nothing from a runtime filter) — force the shuffle path the
      // production fact-dim join at 100 TB would take
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("name") === "dim_7")
      val joined = fact.join(dim, "k")
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter in:\n$optimized")
      val withFilter = joined.agg(count(lit(1)), sum(col("id"))).as[(Long, Long)].collect()(0)

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = fact.join(dim, "k").agg(count(lit(1)), sum(col("id")))
        .as[(Long, Long)].collect()(0)
      assert(withFilter == without && withFilter._1 == 40)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
