package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Materializes a k× (default 10× = "sf1") dataset under `/tmp/graft-sf1`
 * from the sf0.1 parquet, for the WHOLE-CATALOG scale bench recorded in
 * BASELINE.md.
 *
 * Construction discipline (each copy is a self-consistent shard):
 *  - every key column is offset by `copy × span(owning table)`, with the
 *    SAME offset applied to every foreign-key reference — joins stay
 *    exactly as selective as the base data, row counts scale linearly;
 *  - document text is rewritten injectively per copy (every
 *    whitespace-separated token `tok` → `tok_cN`): shingles/bigrams are
 *    copy-local, so dedup/LSH/run-detection pair spaces scale linearly
 *    instead of quadratically colliding across copies; `n_chars` is
 *    recomputed from the rewritten text;
 *  - embeddings are rotated by `copy` positions: copies of one vector are
 *    no longer near-parallel, so cosine/LSH near-dup pair counts scale
 *    with data, not with copy-count squared.
 *
 * Bench-only artifact — correctness gates always run on the
 * driver-generated SFs. Run: `sbt "runMain graft.ScaleAll"`, then
 * `SPARK_GRAFT_SF_DIR=/tmp/graft-sf1 sbt "runMain graft.Bench"`.
 */
object ScaleAll {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def span(table: String, key: String): Long =
      spark.read.parquet(s"$base/$table.parquet")
        .agg(max(col(key))).head().getLong(0) + 1L
    // spans come from the OWNING table so every FK reference shifts in sync
    val spans = Map(
      "regionkey" -> 5L, "nationkey" -> 25L,
      "custkey" -> span("customer", "c_custkey"),
      "suppkey" -> span("supplier", "s_suppkey"),
      "partkey" -> span("part", "p_partkey"),
      "orderkey" -> span("orders", "o_orderkey"),
      "event_id" -> span("events", "event_id"),
      "user_id" -> span("events", "user_id"),
      "vec_id" -> span("embeddings", "vec_id"),
      "doc_id" -> span("documents", "doc_id"))

    def offsetKeys(df: DataFrame, copy: Int): DataFrame =
      df.schema.fields.foldLeft(df) { (acc, f) =>
        spans.collectFirst {
          case (suffix, s) if f.name == suffix || f.name.endsWith("_" + suffix) => s
        } match {
          case Some(s) =>
            acc.withColumn(f.name,
              (col(f.name) + lit(copy.toLong * s)).cast(f.dataType))
          case None => acc
        }
      }

    def scaled(table: String, tweak: (DataFrame, Int) => DataFrame): DataFrame = {
      val df = spark.read.parquet(s"$base/$table.parquet")
      (0 until k).map(i => tweak(offsetKeys(df, i), i)).reduce(_ unionByName _)
    }

    val plain = (d: DataFrame, _: Int) => d
    val tables: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "region" -> plain, "nation" -> plain, "customer" -> plain,
      "supplier" -> plain, "part" -> plain, "orders" -> plain,
      "lineitem" -> plain, "events" -> plain,
      "embeddings" -> { (d, i) =>
        val dim = 64
        val rot = i % dim
        d.withColumn("embedding",
          expr(s"concat(slice(embedding, ${rot + 1}, ${dim - rot}), " +
            s"slice(embedding, 1, $rot))"))
      },
      "documents" -> { (d, i) =>
        // `source` is rewritten injectively too (r15 sf10 audit finding:
        // md5(source:n_chars)-seeded keyspaces — multimodal fingerprints,
        // web URL hosts — replicated across copies, turning their bucket
        // joins quadratic in the copy count; text's `_cN` suffix alone
        // doesn't help because it adds the same length to every copy,
        // leaving n_chars equal across copies 0-9)
        d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_c$i"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("source", concat(col("source"), lit(s"_c$i")))
      })
    tables.foreach { case (name, tweak) =>
      scaled(name, tweak).coalesce(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale-all] wrote $out/$name.parquet")
    }
    spark.stop()
  }
}
