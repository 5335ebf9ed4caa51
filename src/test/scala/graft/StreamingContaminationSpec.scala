package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.TextOps

/**
 * Streaming decontamination gate: incoming documents checked against a
 * static train-shingle set via [[TextOps.contamination]] — the operator is
 * batch/stream-agnostic because its test side only needs per-doc
 * aggregation of a stream-static join. Runs in UPDATE mode (per-doc counts
 * refine as batches arrive; with one batch per doc they're final).
 */
class StreamingContaminationSpec extends SparkSpec {

  test("contamination runs stream-static and matches the batch verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // leaked verbatim
      (11L, "a completely original document goes right here"),
      (12L, "pack my box with five dozen liquor jugs today") // near-leak
    )
    // batch oracle on identical data
    val batch = TextOps.contamination(incoming.toDF("doc_id", "text"), train,
        col("text"), col("doc_id"), n = 3, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getInt(4))).toMap

    val input = MemoryStream[(Long, String)]
    val gated = TextOps.contamination(input.toDF().toDF("doc_id", "text"),
      train, col("text"), col("doc_id"), n = 3, threshold = 0.9)
    val q = gated.writeStream.format("memory").queryName("contam_out")
      .option("checkpointLocation", tempDir("contam-cp").toString)
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(incoming.take(2): _*)
      q.processAllAvailable()
      input.addData(incoming.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("contam_out")
        .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getInt(4))).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got(10L)._2 == 1 && got(11L)._2 == 0,
        "verbatim leak flagged; novel doc clean")
    } finally q.stop()
  }
}
