package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Slowly-changing-dimension builders: turn an event/change log into validity
 * intervals — the warehouse transform behind "what was this entity's state
 * at time T" queries and SCD-type-2 dimension tables.
 */
object Scd {

  /**
   * Type-2 run history via gaps-and-islands: per key, consecutive events
   * with the same `stateCol` collapse into one run with
   * `[valid_from, valid_to)` bounds; `valid_to` is NULL for the current run.
   *
   * Mechanics: a change flag (`state IS DISTINCT FROM lag(state)` — the
   * null-safe compare so the first row and genuine NULL states both work)
   * turned into run ids by a running sum, then one aggregation per run and
   * a lead() for the closing bound. Ordering ties break on `tieCol` so the
   * result is total-order deterministic.
   *
   * Scale shape: two window passes and one aggregation, all partitioned by
   * the entity key — shuffle volume is the event count on the key exchange,
   * state per key is a scalar. Keys are independent, so 1000 executors
   * partition cleanly; no global order exists anywhere.
   */
  def runHistory(events: DataFrame, keyCol: Column, stateCol: Column,
      timeCol: Column, tieCol: Column): DataFrame = {
    val flagged = events.select(keyCol.as("k"), stateCol.as("state"),
        timeCol.as("t"), tieCol.as("tie"))
      .withColumn("chg",
        when(lag(col("state"), 1).over(
          Window.partitionBy(col("k")).orderBy(col("t"), col("tie")))
          <=> col("state"), 0L).otherwise(1L))
      .withColumn("run_id",
        sum(col("chg")).over(Window.partitionBy(col("k"))
          .orderBy(col("t"), col("tie"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged.groupBy(col("k"), col("run_id"), col("state"))
      .agg(min(col("t")).as("valid_from"),
        max(col("t")).as("last_seen"),
        count(lit(1)).as("n_events"))
    runs.withColumn("valid_to",
      lead(col("valid_from"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("run_id"))))
  }
}
