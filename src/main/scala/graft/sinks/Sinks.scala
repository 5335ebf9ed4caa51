package graft.sinks

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.FlightStreamJob

/**
 * Sink abstraction. The reference writes to ClickHouse over JDBC with batch
 * size 1 (!) and to Kafka (FlightEventAggregator.java:94-110, KafkaUtils
 * .java:30-38). Every sink here is a batch write of one micro-batch, keyed
 * by the streaming epoch id, so one `foreachBatch` can fan a batch out to
 * several sinks. Structured Streaming has no native streaming JDBC writer, so
 * the bridge is `foreachBatch` → batch `DataFrameWriter.jdbc`, which also
 * replaces the reference's row-at-a-time INSERT with whole-micro-batch
 * batched writes (the "batch size 1" anti-optimization is deliberately not
 * reproduced).
 */
sealed trait EventSink {
  /** Write one micro-batch; `epochId` is its streaming batch id. */
  def write(batch: DataFrame, epochId: Long): Unit

  /** Attach this sink alone to a streaming frame and start the query, on a
    * session prepared as [[graft.streaming.FlightStreamJob.start]] prepares
    * its own. */
  def start(df: DataFrame, checkpoint: String, queryName: String): StreamingQuery = {
    FlightStreamJob.prepareSession(df.sparkSession)
    df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch(write _)
      .start()
  }
}

object EventSink {

  /** Kafka topic sink (expects a `value` string column). Needs the
    * spark-sql-kafka connector (production only; absent in this container —
    * the option map is pinned by `KafkaContractSpec` against the reference's
    * producer contract, KafkaUtils.java:30-38). */
  final case class Kafka(bootstrapServers: String, topic: String) extends EventSink {
    /** Exact `format("kafka")` writer option map (value-only string
      * serialization is Spark's default for a single `value` column). */
    def writerOptions: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic)
    def write(batch: DataFrame, epochId: Long): Unit =
      batch.write.format("kafka").options(writerOptions).save()
  }

  /** JDBC append sink (ClickHouse, Derby, Postgres, ...). */
  final case class Jdbc(url: String, table: String,
      properties: java.util.Properties = new java.util.Properties()) extends EventSink {
    def write(batch: DataFrame, epochId: Long): Unit =
      batch.write.mode(SaveMode.Append).jdbc(url, table, properties)
  }

  /**
   * Idempotent JDBC sink: per-micro-batch exactly-once under retries. Rows
   * carry the epoch id; a re-delivered epoch (restart after a mid-write
   * failure) first deletes its own rows, then re-appends — so the table
   * converges to exactly one copy of every batch regardless of how many
   * times foreachBatch ran. The delete+append per epoch is the standard
   * transactional-outbox bridge for stores without streaming transactions.
   *
   * ClickHouse note: classic DELETE is async there — production CH
   * deployments get the same property from ReplacingMergeTree keyed on
   * (batch_id, row key) instead; this delete-based variant is exercised
   * against Derby offline.
   */
  final case class JdbcIdempotent(url: String, table: String,
      properties: java.util.Properties = new java.util.Properties()) extends EventSink {

    def write(batch: DataFrame, epochId: Long): Unit = writeEpoch(batch, epochId)

    /** The foreachBatch body, exposed so tests can replay an epoch. The two
      * halves are individually exposed ([[deleteEpoch]] / [[appendEpoch]]) so
      * the recovery spec can inject a crash at the exact point between them —
      * the worst-case failure for a delete-then-append outbox. */
    def writeEpoch(batch: DataFrame, epochId: Long): Unit = {
      deleteEpoch(epochId)
      appendEpoch(batch, epochId)
    }

    /** Step 1: remove any rows a previous (crashed, partial, or duplicate)
      * delivery of this epoch already wrote. */
    def deleteEpoch(epochId: Long): Unit = {
      // Spark's JDBC writer creates columns with dialect-quoted (exact-case)
      // names, so the delete must quote the same way
      val col = JdbcDialects.get(url).quoteIdentifier("batch_id")
      val conn = java.sql.DriverManager.getConnection(url, properties)
      try {
        // probe table existence via metadata (identifier case differs by
        // database) so ONLY the legitimate first-epoch absence skips the
        // delete — any real DELETE failure (lock timeout, connection drop)
        // must propagate, or a replay would silently duplicate the epoch
        val meta = conn.getMetaData
        val exists = Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists { t =>
          val rs = meta.getTables(null, null, t, null)
          try rs.next() finally rs.close()
        }
        if (exists) {
          val st = conn.createStatement()
          try st.executeUpdate(s"DELETE FROM $table WHERE $col = $epochId")
          finally st.close()
        }
      } finally conn.close()
    }

    /** Step 2: append the epoch's rows, tagged with its id. */
    def appendEpoch(batch: DataFrame, epochId: Long): Unit =
      batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(epochId))
        .write.mode(SaveMode.Append).jdbc(url, table, properties)
  }

  /** Parquet sink (the offline stand-in for the raw-persist branch). Each
    * epoch overwrites its own `batch_id=<epoch>` directory under `path`, so a
    * replayed epoch still leaves one copy and `spark.read.parquet(path)`
    * reads every epoch back with `batch_id` as a partition column. */
  final case class Parquet(path: String) extends EventSink {
    def write(batch: DataFrame, epochId: Long): Unit =
      batch.write.mode(SaveMode.Overwrite).parquet(s"$path/batch_id=$epochId")
  }

  /** In-memory sink (tests / debugging): keeps each epoch's rows on the
    * driver, ignores a replayed epoch, and serves all rows kept so far as the
    * temp view `table`. The view is registered in the default session, since
    * a streaming query hands `foreachBatch` frames of a clone of it. */
  final case class Memory(table: String) extends EventSink {
    private val epochs = mutable.LinkedHashMap.empty[Long, Seq[Row]]

    def write(batch: DataFrame, epochId: Long): Unit = epochs.synchronized {
      if (!epochs.contains(epochId)) {
        epochs(epochId) = batch.collect().toSeq
        val spark = SparkSession.getDefaultSession.getOrElse(batch.sparkSession)
        spark.createDataFrame(epochs.values.flatten.toSeq.asJava, batch.schema)
          .createOrReplaceTempView(table)
      }
    }
  }
}

/**
 * Minimal ClickHouse JDBC dialect (SURVEY §7.5): Spark's generic dialect
 * quotes identifiers with double quotes and maps StringType to TEXT, both of
 * which ClickHouse rejects. Register once via [[ClickHouseDialect.register]]
 * before writing to a `jdbc:clickhouse:` URL. (Offline tests use Derby; this
 * dialect is exercised only against a live ClickHouse.)
 */
object ClickHouseDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean =
    url.startsWith("jdbc:clickhouse")
  override def quoteIdentifier(colName: String): String = s"`$colName`"
  override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.jdbc.JdbcType] = {
    import org.apache.spark.sql.jdbc.JdbcType
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(JdbcType("String", java.sql.Types.VARCHAR))
      case TimestampType => Some(JdbcType("DateTime64(3)", java.sql.Types.TIMESTAMP))
      case IntegerType => Some(JdbcType("Int32", java.sql.Types.INTEGER))
      case LongType => Some(JdbcType("Int64", java.sql.Types.BIGINT))
      case DoubleType => Some(JdbcType("Float64", java.sql.Types.DOUBLE))
      case _ => None
    }
  }
  def register(): Unit = JdbcDialects.registerDialect(this)
}
