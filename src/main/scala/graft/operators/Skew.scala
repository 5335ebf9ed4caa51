package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew-mitigation utilities for the cases AQE's skew-join splitting doesn't
 * reach (e.g. a shuffle join where one hot key dominates a partition, or
 * pre-AQE engines). Technique: salt the skewed (large) side into
 * `saltFactor` pseudo-keys and replicate the small side across every salt —
 * the hot key's rows spread over `saltFactor` reducers instead of one.
 *
 * The salt is derived deterministically (hash of a row-identifying column
 * mod factor), keeping results reproducible run-to-run — important both for
 * tests and for retry-idempotence at scale.
 */
object Skew {

  /** Inner equi-join `large ⋈ small` on `key`, with the large side salted by
    * `saltCol` (any column that varies within a key, e.g. a row id).
    *
    * WHEN TO USE (the three-form measurement in BASELINE.md, "r13:
    * skew-join three forms"): if the small side fits the broadcast
    * threshold, broadcast — neither AQE splitting nor salting is needed.
    * When both sides must shuffle, prefer AQE's `OptimizeSkewedJoin` IF its
    * statistics can see the skew — but above
    * `spark.shuffle.minNumPartitionsToHighlyCompress` (2000) reducers,
    * MapStatus carries only average block sizes (exact only above
    * `spark.shuffle.accurateBlockThreshold`, default 100 MB), so AQE is
    * blind to hot partitions below that STATIC threshold and silently
    * degrades to the plain join's one-task fan-in. `saltedJoin` needs no
    * size statistics: the hot key's rows spread across `saltFactor`
    * reducers unconditionally, at the cost of replicating the small side
    * ×`saltFactor` — the right default for cluster-granularity reducer
    * counts with known-skewed keys and a modest dim side. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltCol: Column, saltFactor: Int): DataFrame = {
    val salted = large.withColumn("__salt", pmod(xxhash64(saltCol), lit(saltFactor)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
      .withColumn("__salt", col("__salt").cast("bigint"))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-stage aggregation for skewed group keys: partial-aggregate on
    * (key, salt), then final-aggregate on key. Spark's hash aggregation
    * already does map-side partials, so this matters mainly for
    * high-cardinality-combiner aggregations (e.g. collect-like) where the
    * partial state itself is the bottleneck on a hot key. */
  def saltedCount(df: DataFrame, key: Column, saltCol: Column,
      saltFactor: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltCol), lit(saltFactor)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(count(lit(1)).as("partial_n"))
      .groupBy(col("key"))
      .agg(sum(col("partial_n")).as("n"))
}
