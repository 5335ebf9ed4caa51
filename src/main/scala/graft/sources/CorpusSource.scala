package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Batch/stream JSONL corpus ingestion with dead-letter routing — the
 * file-side mirror of the Kafka parse path ([[graft.operators.FlightOps
 * .parseFlightEvents]]'s discipline applied to the `documents` schema):
 * web-crawl and annotation dumps arrive as newline-delimited JSON, and at
 * 100 TB some lines WILL be truncated mid-record, double-encoded, or
 * missing required fields. A `mode=PERMISSIVE` schema read silently nulls
 * what it cannot parse (and Spark forbids filtering the internal
 * corrupt-record column without a cache); reading as TEXT and parsing with
 * `from_json` in one projection keeps every byte, makes the reject reason
 * explicit, and works identically under `read` and `readStream`.
 *
 * Reject taxonomy (checked in order, first hit wins):
 *   - `malformed`   — line is not a JSON object of the expected shape;
 *   - `missing_id`  — parsed but `doc_id` is absent/null/non-integral;
 *   - `missing_text`— parsed but `text` is absent or null.
 * Everything else is a document: `lang`/`source` stay nullable passthrough,
 * and `n_chars` is RECOMPUTED from the text (never trusted from the wire).
 *
 * Scale shape: one zero-shuffle projection per line — rejects ride the same
 * frame (`is_reject`/`reject_reason`) so a single pass feeds both the
 * corpus writer and the dead-letter sink, exactly like the flight parser's
 * reject stream.
 */
object CorpusSource {

  /** The wire schema parsed out of each line. `doc_id` as STRING first so a
    * non-integral id is OUR reject (`missing_id`), not a silent from_json
    * null that would masquerade as `malformed`. The `__graft_corrupt` field
    * is from_json's corrupt-record channel: from_json is PERMISSIVE inside
    * (garbage parses to an all-null struct, NOT a null struct), so without
    * it a malformed line would be indistinguishable from `{}`. The name is
    * deliberately implausible as a wire field — a real JSON key with this
    * exact name would land in the channel and misread as malformed. */
  private val wireSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("__graft_corrupt", StringType)))

  /** Parse a one-string-column (`value`) frame of JSONL lines. Pure
    * projection — safe under batch and streaming alike. */
  def parseJsonl(raw: DataFrame): DataFrame = {
    val parsed = from_json(col("value"), wireSchema,
      Map("columnNameOfCorruptRecord" -> "__graft_corrupt"))
    raw
      .withColumn("p", parsed)
      // try_cast: under ANSI mode a plain cast would THROW on non-integral
      // id text — the dead-letter contract wants a reject row instead
      .withColumn("doc_id", expr("try_cast(p.doc_id AS long)"))
      .withColumn("reject_reason",
        when(col("p").isNull || col("p.__graft_corrupt").isNotNull, lit("malformed"))
          .when(col("doc_id").isNull, lit("missing_id"))
          .when(col("p.text").isNull, lit("missing_text")))
      .select(
        col("doc_id"),
        col("p.text").as("text"),
        col("p.lang").as("lang"),
        col("p.source").as("source"),
        length(col("p.text")).cast("long").as("n_chars"),
        col("reject_reason").isNotNull.as("is_reject"),
        col("reject_reason"),
        col("value").as("raw"))
  }

  /** Batch read of a JSONL path: accepted documents and dead-letter rows in
    * one frame (filter on `is_reject` to split). */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    parseJsonl(spark.read.text(path).select(col("value")))
}
