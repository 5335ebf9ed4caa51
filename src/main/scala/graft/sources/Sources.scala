package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Source abstraction for the streaming engine. The reference hard-codes one
 * Kafka source (KafkaUtils.java:15-28: topic `flight-events`, value-only
 * string deserialization, latest offsets, throwaway consumer group). Here the
 * source is a small ADT so the same pipeline runs from Kafka in production
 * and from files, the [[FlightGen]] generator or memory streams in tests —
 * every variant produces a single string `value` column, the contract
 * [[graft.operators.FlightOps.parseFlightEvents]] consumes.
 *
 * Offset semantics divergence (documented, deliberate): the reference's fresh
 * `flight-consumer-<epochMillis>` group id means "start from now, never
 * resume". Spark's checkpointed source supersedes that with exactly-once
 * resume; passing `startingOffsets=latest` with a fresh checkpoint dir
 * reproduces the reference behavior when wanted.
 */
sealed trait EventSource {
  def load(spark: SparkSession): DataFrame
}

object EventSource {

  /** Kafka topic → `value: string`. Requires the spark-sql-kafka connector on
    * the classpath (not present in this offline test container — the option
    * map and value-cast contract are pinned by `KafkaContractSpec` so a
    * production deployment can't silently drift from KafkaUtils.java:15-28
    * semantics). */
  final case class Kafka(
      bootstrapServers: String = "kafka:9092",
      topic: String = "flight-events",
      startingOffsets: String = "latest",
      failOnDataLoss: Boolean = false) extends EventSource {
    /** The exact `readStream.format("kafka")` option map. Reference mapping
      * (KafkaUtils.java:15-28): bootstrap `kafka:9092`, topic
      * `flight-events`, `auto.offset.reset=latest` → `startingOffsets=
      * latest`. `failOnDataLoss` defaults FALSE to match the reference's
      * loss tolerance: its consumer sets `auto.offset.reset=latest` with a
      * throwaway group id (KafkaUtils.java:17,23), so aged-out/compacted
      * offsets silently reset instead of killing the job — Spark's default
      * (true) would fail the query on the same condition. The reference's
      * throwaway `flight-consumer-<epochMillis>` group id is deliberately
      * NOT mapped: Spark's Kafka source manages its own unique group ids and
      * replaces "start from now, never resume" with checkpointed
      * exactly-once resume (latest offsets + a fresh checkpoint dir
      * reproduces the reference behavior when wanted). */
    def readerOptions: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> failOnDataLoss.toString)
    def load(spark: SparkSession): DataFrame =
      Kafka.valueAsString(
        spark.readStream.format("kafka").options(readerOptions).load())
  }

  object Kafka {
    /** Kafka wire rows carry binary key/value plus metadata; the pipeline
      * contract is ONE string `value` column — the reference's value-only
      * `SimpleStringSchema` deserialization (KafkaUtils.java:26). */
    def valueAsString(df: DataFrame): DataFrame =
      df.select(col("value").cast("string").as("value"))
  }

  /** Newline-delimited JSON files appearing in a directory. */
  final case class FileDir(path: String, maxFilesPerTrigger: Int = 16) extends EventSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(path)
        .select(col("value"))
  }

  /** The deterministic DataSource V2 generator ([[FlightGenProvider]]):
    * exact Kafka surface (value: string of the reference wire format),
    * finite `numRows` paced `rowsPerBatch` per trigger — reproducible
    * end-to-end job runs without Kafka. */
  final case class FlightGen(numRows: Long, rowsPerBatch: Long = 1000L,
      numPartitions: Int = 4) extends EventSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream.format("flight-gen")
        .option("numRows", numRows)
        .option("rowsPerBatch", rowsPerBatch)
        .option("numPartitions", numPartitions)
        .load()
  }

  /** A pre-built streaming DataFrame (e.g. MemoryStream.toDF in tests). */
  final case class Existing(df: DataFrame) extends EventSource {
    def load(spark: SparkSession): DataFrame = df.select(col("value").cast("string").as("value"))
  }
}
