package graft

import org.apache.spark.sql.functions._

/** Batch source/sink format breadth: the engine reads and writes parquet
  * (primary), ORC, CSV, and newline-JSON with value fidelity. (Avro needs
  * the spark-avro connector, not present in this container.) */
class FormatsSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")
    .withColumn("ts", col("ts").cast("timestamp_ntz"))

  private def roundTrip(fmt: String): Unit = {
    val dir = tempDir(s"graft-$fmt").toString + s"/events_$fmt"
    events.write.format(fmt).mode("overwrite")
      .option("header", "true") // ignored by non-CSV
      .save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true")
      .schema(events.schema) // CSV/JSON need the schema; parquet/orc ignore
      .load(dir)
    assert(back.count() == events.count())
    val sumBack = back.agg(sum(col("event_id"))).collect()(0).getLong(0)
    val sumOrig = events.agg(sum(col("event_id"))).collect()(0).getLong(0)
    assert(sumBack == sumOrig, s"$fmt round-trip changed event_id sum")
  }

  test("parquet round-trip")(roundTrip("parquet"))
  test("orc round-trip")(roundTrip("orc"))
  test("csv round-trip")(roundTrip("csv"))
  test("json round-trip")(roundTrip("json"))
}
