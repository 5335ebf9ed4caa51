package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.CorpusSource

class CorpusSourceSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    """{"doc_id": 1, "text": "hello corpus", "lang": "en", "source": "web"}""",
    """{"doc_id": 2, "text": "minimal doc"}""",                    // nullable lang/source
    """{"doc_id": 3, "text": "extra ok", "junk": 42}""",           // unknown field ignored
    """{"doc_id": 4, "text": "trusted n_chars", "n_chars": 999}""", // wire n_chars ignored
    """not json at all""",                                         // malformed
    """{"doc_id": 5, "text": """,                                  // truncated mid-record
    """{"text": "no id"}""",                                       // missing_id
    """{"doc_id": "x9", "text": "bad id"}""",                      // non-integral id
    """{"doc_id": 6}""")                                           // missing_text

  test("readJsonl: accepts good lines, recomputes n_chars, dead-letters the rest") {
    val dir = tempDir("corpus-jsonl").toString
    Files.write(java.nio.file.Paths.get(s"$dir/part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = CorpusSource.readJsonl(spark, dir)
    val good = df.filter(!col("is_reject"))
    assert(good.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    val r1 = good.filter(col("doc_id") === 1).collect()(0)
    assert(r1.getAs[String]("lang") == "en" && r1.getAs[String]("source") == "web")
    assert(r1.getAs[Long]("n_chars") == "hello corpus".length.toLong)
    // wire-supplied n_chars is never trusted
    assert(good.filter(col("doc_id") === 4).select("n_chars").as[Long].collect()(0)
      == "trusted n_chars".length.toLong)
    val rejects = df.filter(col("is_reject"))
      .select("raw", "reject_reason").as[(String, String)].collect().toMap
    assert(rejects("not json at all") == "malformed")
    assert(rejects("""{"doc_id": 5, "text": """) == "malformed")
    assert(rejects("""{"text": "no id"}""") == "missing_id")
    assert(rejects("""{"doc_id": "x9", "text": "bad id"}""") == "missing_id")
    assert(rejects("""{"doc_id": 6}""") == "missing_text")
    assert(df.count() == lines.length.toLong, "every input line accounted for")
  }

  test("parseJsonl is stream-safe: streaming parse matches batch verdicts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = CorpusSource.parseJsonl(input.toDF().toDF("value"))
      .select("doc_id", "is_reject", "reject_reason")
      .writeStream.format("memory").queryName("corpus_parse_out")
      .option("checkpointLocation", tempDir("cjl-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(lines: _*)
      q.processAllAvailable()
      val stream = spark.table("corpus_parse_out")
        .collect().map(r => (Option(r.get(0)), r.getBoolean(1), Option(r.getString(2))))
        .toSeq.sortBy(_.toString)
      val batch = CorpusSource.parseJsonl(lines.toDF("value"))
        .select("doc_id", "is_reject", "reject_reason")
        .collect().map(r => (Option(r.get(0)), r.getBoolean(1), Option(r.getString(2))))
        .toSeq.sortBy(_.toString)
      assert(stream == batch)
    } finally q.stop()
  }
}
