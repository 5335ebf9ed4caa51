package graft

import org.apache.spark.sql.functions._

/** Partitioned parquet layout: writing with partitionBy lets every
  * downstream filter on the partition column prune whole directories — at
  * 100 TB the difference between listing five directories and scanning all
  * of them. */
class PartitionedWriteSpec extends SparkSpec {

  test("partitionBy write + filter read prunes to the matching partition") {
    val out = tempDir("graft-part").toString + "/events"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    val back = spark.read.parquet(out).filter(col("event_type") === "error")
    assert(back.count() == ev.filter(col("event_type") === "error").count())

    // the scan must carry a partition filter, not a data filter
    back.count() // materialize for AQE
    val plan = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$plan")
  }

  test("exportShards writes a manifest that certifies the written data") {
    import spark.implicits._
    import graft.operators.Layout
    def toMap(rows: Array[(Int, Long, Long)]) =
      rows.map(r => r._1 -> (r._2, r._3)).toMap
    val out = tempDir("graft-export").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val manifest = toMap(Layout.exportShards(spark, docs, "doc_id", 4, out)
      .as[(Int, Long, Long)].collect())
    assert(manifest.keySet.subsetOf((0 to 3).toSet) && manifest.nonEmpty)
    // every row landed in exactly one shard
    val back = spark.read.parquet(s"$out/data")
    assert(back.count() == docs.count())
    assert(manifest.values.map(_._1).sum == docs.count())
    // the manifest matches an independent re-read recompute...
    val recomputed = toMap(Layout.shardManifest(back, "doc_id")
      .as[(Int, Long, Long)].collect())
    assert(recomputed == manifest)
    // ...and the JSON copy round-trips with the same values
    val json = toMap(spark.read.json(s"$out/manifest")
      .select(col("shard").cast("int"), col("n_rows"), col("checksum"))
      .as[(Int, Long, Long)].collect())
    assert(json == manifest)
    // a corrupted copy (one row dropped) flips its shard's checksum
    val dropId = back.select(min(col("doc_id"))).as[Long].collect()(0)
    val corrupt = toMap(Layout.shardManifest(
      back.filter(col("doc_id") =!= dropId), "doc_id")
      .as[(Int, Long, Long)].collect())
    assert(corrupt != manifest)
  }
}
