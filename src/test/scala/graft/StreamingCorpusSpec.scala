package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Sampling, TextOps}
import graft.streaming.StatefulOps

/**
 * The corpus-cleaning surface as a STREAMING job: documents arrive on a
 * stream, are fingerprint-deduped with bounded state, quality-filtered,
 * redacted, and split — the same operators as the batch corpus_pipeline
 * (stateless projections stream as-is; exact dedup swaps the groupBy for
 * watermarked dropDuplicates state). Asserts stream results equal the batch
 * run of the same operators on the same rows.
 */
class StreamingCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val goodText = ("the quick brown token run " * 5).trim

  test("streaming corpus pipeline matches the batch operators row for row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)] // (doc_id, text, event_time)

    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val quality = TextOps.qualityFilter(df, col("text"))
        .filter(col("quality_keep") === 1)
      Sampling.hashSplit(
          quality.withColumn("clean_len", length(TextOps.redactPii(col("text")))),
          col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"), col("n_tokens"), col("clean_len"))
    }

    // dropDuplicatesWithinWatermark (NOT plain dropDuplicates("doc_id"),
    // whose state is never evicted when the event-time column is absent from
    // the key): doc_id dedup state ages out past the watermark horizon
    val streamed = pipeline(
      input.toDF().toDF("doc_id", "text", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("doc_id"))

    val q = streamed.writeStream.format("memory").queryName("corpus_out")
      .option("checkpointLocation", tempDir("corpus-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, goodText, "2024-01-01 10:00:00"),
        (2L, "too short", "2024-01-01 10:00:10"))
      q.processAllAvailable()
      input.addData(
        (1L, goodText, "2024-01-01 10:00:20"), // re-delivery: deduped
        (3L, goodText + " extra", "2024-01-01 10:00:30"))
      q.processAllAvailable()

      val got = spark.table("corpus_out")
        .as[(Long, String, Int, Int)].collect().toSet
      val batch = pipeline(
        Seq((1L, goodText), (2L, "too short"), (3L, goodText + " extra"))
          .toDF("doc_id", "text"))
        .as[(Long, String, Int, Int)].collect().toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(1L, 3L)) // doc 2 quality-dropped, doc 1 deduped
    } finally q.stop()
  }

  test("streaming boilerplate gate matches batch boilerplateStats (static model join)") {
    implicit val sqlCtx = spark.sqlContext
    // several docs share a boilerplate sentence; one is clean
    val boiler = "all rights reserved contact us"
    val rows = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta eta theta $boiler"),
      (3L, s"iota kappa lambda mu $boiler"),
      (4L, s"nu xi omicron pi $boiler"),
      (5L, s"rho sigma tau upsilon $boiler"),
      (6L, "phi chi psi omega unique content entirely"))
    val batchDocs = rows.toDF("doc_id", "text")

    // the operational streaming shape: the df model is a batch-trained
    // static artifact; arriving docs explode, join it (stream-static), and
    // aggregate per (doc, event-time window)
    val model = TextOps.boilerplateModel(batchDocs, col("text"), n = 3)
    val input = MemoryStream[(Long, String, String)]
    val streamed = input.toDF().toDF("doc_id", "text", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"),
        explode(TextOps.shingles(TextOps.normalize(col("text")), 3)).as("shingle"))
      .join(broadcast(model), Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(coalesce(col("df"), lit(0L)) >= 5, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"), col("boiler_ratio"))

    val q = streamed.writeStream.format("memory").queryName("boiler_stream_out")
      .option("checkpointLocation", tempDir("boiler-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(4).map { case (id, t) => (id, t, "2024-01-01 10:00:00") }: _*)
      q.processAllAvailable()
      input.addData(rows.drop(4).map { case (id, t) => (id, t, "2024-01-01 10:05:00") }: _*)
      q.processAllAvailable()
      input.addData((99L, "late watermark pusher", "2024-01-01 12:00:00")) // close windows
      q.processAllAvailable()
      val got = spark.table("boiler_stream_out").filter(col("doc_id") =!= 99L)
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = TextOps.boilerplateStats(batchDocs, col("text"), col("doc_id"), n = 3, minDf = 5)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.exists(_._3 > 0) && got.exists(_._3 == 0),
        "stress must cover both boilerplate and clean docs")
    } finally q.stop()
  }

  test("streaming LM gate matches batch lmScore (static model join)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox naps under the warm sun"),
      (3L, "colorless green ideas sleep furiously tonight"))
    val batchDocs = rows.toDF("doc_id", "text")

    val model = TextOps.lmModel(batchDocs, col("text"))
    val input = MemoryStream[(Long, String, String)]
    val scale = 1L << 30
    val streamed = input.toDF().toDF("doc_id", "text", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"),
        explode(TextOps.ngrams(TextOps.normalize(col("text")), 2)).as("bigram"))
      .join(broadcast(model.select(col("bigram"), col("p_scaled"))), Seq("bigram"))
      .groupBy(col("doc_id"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("p_sum"))
      .withColumn("lm_score",
        col("p_sum").cast("double") / (col("n_bigrams") * lit(scale)).cast("double"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score"))

    val q = streamed.writeStream.format("memory").queryName("lm_stream_out")
      .option("checkpointLocation", tempDir("lm-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(2).map { case (id, t) => (id, t, "2024-01-01 10:00:00") }: _*)
      q.processAllAvailable()
      input.addData(rows.drop(2).map { case (id, t) => (id, t, "2024-01-01 10:05:00") }: _*)
      q.processAllAvailable()
      input.addData((99L, "late watermark pusher", "2024-01-01 12:00:00"))
      q.processAllAvailable()
      val got = spark.table("lm_stream_out").filter(col("doc_id") =!= 99L)
        .as[(Long, Long, Double)].collect().toSet
      val batch = TextOps.lmScore(batchDocs, col("text"), col("doc_id"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      // hapax doc: every bigram and prefix unique -> each p = 1.0 exactly;
      // the "the"-sharing docs split prefix mass -> strictly below 1
      val scores = got.map(t => t._1 -> t._3).toMap
      assert(scores(3L) == 1.0 && scores(1L) < 1.0 && scores(2L) < 1.0)
    } finally q.stop()
  }

  test("streaming DSIR gate matches batch dsirWeights (static model join)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "alpha beta gamma delta alpha beta"),
      (2L, "zig zag zip zap zig zag"),
      (3L, "alpha beta zig zag alpha zag"))
    val batchDocs = rows.toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta gamma delta"),
      (101L, "beta gamma alpha delta")).toDF("doc_id", "text")

    val model = TextOps.dsirModel(batchDocs, target, col("text"))
    val input = MemoryStream[(Long, String, String)]
    val streamed = TextOps.dsirGramBuckets(
        input.toDF().toDF("doc_id", "text", "ts_s")
          .withColumn("ts", col("ts_s").cast("timestamp"))
          .withWatermark("ts", "10 minutes"),
        col("text"), col("doc_id"), carry = Seq(col("ts")))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("weight_scaled"))
      .withColumn("mean_weight",
        col("weight_scaled").cast("double") / (col("n_grams") * lit(1073741824.0)))
      .select(col("doc_id"), col("n_grams"), col("weight_scaled"), col("mean_weight"))

    val q = streamed.writeStream.format("memory").queryName("dsir_stream_out")
      .option("checkpointLocation", tempDir("dsir-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(2).map { case (id, t) => (id, t, "2024-01-01 10:00:00") }: _*)
      q.processAllAvailable()
      input.addData(rows.drop(2).map { case (id, t) => (id, t, "2024-01-01 10:05:00") }: _*)
      q.processAllAvailable()
      input.addData((99L, "late watermark pusher", "2024-01-01 12:00:00"))
      q.processAllAvailable()
      val got = spark.table("dsir_stream_out").filter(col("doc_id") =!= 99L)
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = TextOps.dsirWeights(batchDocs, target, col("text"), col("doc_id"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("composed streaming chain: dedup → DSIR gate → quality → redact → split matches batch") {
    implicit val sqlCtx = spark.sqlContext
    // Quality-passing texts (20-80 tokens, stopwords, sane lengths) on two
    // vocabularies: doc 1 target-like, doc 2 off-target; doc 3 fails the
    // quality gate; doc 1 is re-delivered (dedup catches it).
    val good1 = ("the alpha beta gamma delta is " * 4).trim + " of and alpha beta"
    val good2 = ("the zig zag zip zap is " * 4).trim + " of and zig zag"
    val rows = Seq((1L, good1), (2L, good2), (3L, "too short"))
    val batchDocs = rows.toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta gamma delta"),
      (101L, "beta gamma alpha delta")).toDF("doc_id", "text")

    // the DSIR gate threshold: midpoint of the two quality-passing docs'
    // batch weights — doc 1 must pass, doc 2 must not, at any bucket count
    val bw = TextOps.dsirWeights(batchDocs, target, col("text"), col("doc_id"))
      .select(col("doc_id"), col("mean_weight"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bw(1L) > bw(2L), s"target-like doc must outweigh off-target: $bw")
    val tau = (bw(1L) + bw(2L)) / 2

    val model = TextOps.dsirModel(batchDocs, target, col("text"))
    val input = MemoryStream[(Long, String, String)]
    // ONE streaming query: watermarked id-dedup → gram explode → broadcast
    // static-model join → per-(doc, window) weight → DSIR gate → quality
    // battery → PII redaction → hash split
    val gated = TextOps.dsirGramBuckets(
        input.toDF().toDF("doc_id", "text", "ts_s")
          .withColumn("ts", col("ts_s").cast("timestamp"))
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("doc_id"),
        col("text"), col("doc_id"), carry = Seq(col("ts"), col("text")))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"), col("text"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("weight_scaled"))
      .withColumn("mean_weight",
        col("weight_scaled").cast("double") / (col("n_grams") * lit(1073741824.0)))
      .filter(col("mean_weight") >= tau)
    val streamed = Sampling.hashSplit(
        TextOps.qualityFilter(gated, col("text"))
          .filter(col("quality_keep") === 1)
          .withColumn("clean_len", length(TextOps.redactPii(col("text")))),
        col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select(col("doc_id"), col("split"), col("n_tokens"), col("clean_len"),
        col("mean_weight"))

    val q = streamed.writeStream.format("memory").queryName("composed_out")
      .option("checkpointLocation", tempDir("composed-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, good1, "2024-01-01 10:00:00"),
        (3L, "too short", "2024-01-01 10:00:10"))
      q.processAllAvailable()
      input.addData((1L, good1, "2024-01-01 10:00:20"), // re-delivery: deduped
        (2L, good2, "2024-01-01 10:00:30"))
      q.processAllAvailable()
      input.addData((99L, "late watermark pusher", "2024-01-01 12:00:00"))
      q.processAllAvailable()

      val got = spark.table("composed_out").filter(col("doc_id") =!= 99L)
        .as[(Long, String, Int, Int, Double)].collect().toSet
      // batch equivalent of the same chain over the deduped doc set
      val bWeights = TextOps.dsirWeights(batchDocs, target, col("text"), col("doc_id"))
        .select(col("doc_id"), col("mean_weight"))
      val bGated = batchDocs.join(bWeights, "doc_id")
        .filter(col("mean_weight") >= tau)
      val batch = Sampling.hashSplit(
          TextOps.qualityFilter(bGated, col("text"))
            .filter(col("quality_keep") === 1)
            .withColumn("clean_len", length(TextOps.redactPii(col("text")))),
          col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"), col("n_tokens"), col("clean_len"),
          col("mean_weight"))
        .as[(Long, String, Int, Int, Double)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.map(_._1) == Set(1L),
        s"only the target-like quality-passing doc survives every gate: $got")
    } finally q.stop()
  }

  test("streaming semantic dedup matches batch semanticDedup across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Similarity}
    // chain-free corpus (the regime where admission == pair rule): two
    // near-parallel pairs in opposite quadrants + two loners
    val rows = Seq(
      (1L, Seq(10f, 0.1f)), (2L, Seq(10f, 0.12f)),
      (6L, Seq(5f, -4f)),
      (10L, Seq(0.1f, 10f)), (11L, Seq(0.12f, 10f)),
      (12L, Seq(-5f, 3f)))
    val batchVecs = rows.toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(batchVecs, "vec_id", "embedding", 2, 2)
    val centArr = cent.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))

    val input = MemoryStream[(Long, Seq[Float])]
    val verdicts = StatefulOps.semanticDedupStream(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      centArr, tau = 0.95)
    val q = verdicts.writeStream.format("memory").queryName("semdedup_out")
      .option("checkpointLocation", tempDir("sem-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // the near-copies arrive in LATER micro-batches than their originals —
      // the batch recompute a static pipeline would need is exactly what the
      // cell state avoids
      input.addData(rows.take(3).map { case (id, v) => (id, v) }: _*)
      q.processAllAvailable()
      input.addData(rows.drop(3).map { case (id, v) => (id, v) }: _*)
      q.processAllAvailable()
      val got = spark.table("semdedup_out")
        .select("vec_id", "sem_keep").as[(Long, Int)].collect().toMap
      val batch = Dedup.semanticDedup(batchVecs, "vec_id", "embedding",
          nCells = 2, trainIters = 2, tau = 0.95)
        .select("vec_id", "sem_keep")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got(2L) == 0 && got(11L) == 0 && got(1L) == 1 && got(6L) == 1)
    } finally q.stop()
  }

  test("streaming PQ encode matches batch codes bit for bit (static codebook)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(64)
    val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
      ksub = 8, iters = 2)
    val codebook = Similarity.collectCodebook(cents)
    // static projection == join+agg batch path on the same frame (the
    // RETAINED pqAssign join form — pqEncode itself now rides the static
    // fold, so the join shape is invoked explicitly here to stay
    // non-tautological)
    val batch = Similarity.pqAssign(
        Similarity.subVectors(emb, "vec_id", "embedding", 4), cents)
      .select(col("vec_id"), col("sub_id"), col("cell_id").as("code"))
      .as[(Long, Int, Int)].collect().toSet
    val viaEncode = Similarity.pqEncode(emb, cents, "vec_id", "embedding", 4)
      .as[(Long, Int, Int)].collect().toSet
    assert(viaEncode == batch)
    val static0 = Similarity.pqEncodeStatic(emb, codebook, "vec_id", "embedding", 4)
      .as[(Long, Int, Int)].collect().toSet
    assert(static0 == batch)
    // and the same projection runs on an append-mode stream
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val enc = Similarity.pqEncodeStatic(
      input.toDF().toDF("vec_id", "embedding"), codebook, "vec_id", "embedding", 4)
    val q = enc.writeStream.format("memory").queryName("pq_codes_out")
      .option("checkpointLocation", tempDir("pq-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(32): _*)
      q.processAllAvailable()
      input.addData(rows.drop(32): _*)
      q.processAllAvailable()
      val got = spark.table("pq_codes_out")
        .as[(Long, Int, Int)].collect().toSet
      assert(got == batch, "streamed codes diverge from batch codes")
    } finally q.stop()
  }

  test("PQ codebook + coarse-cell artifacts round-trip through parquet bit-exactly") {
    import graft.operators.Similarity
    // train-once/serve-many: a serving tier loads the codebook and coarse
    // cells from disk at startup; the loaded artifacts must drive the
    // static projections to the same codes/scores as the collected forms
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(48)
    val (m, ksub, iters, nCells) = (2, 4, 2, 4)
    val (coarse, pqc, _) = Similarity.ivfPqIndexBuild(
      emb, "vec_id", "embedding", m, ksub, iters, nCells)
    val dir = tempDir("pq-artifacts").toString
    Similarity.writeCodebook(pqc, s"$dir/codebook.parquet")
    Similarity.writeCoarse(coarse, s"$dir/coarse.parquet")
    val cbMem = Similarity.collectCodebook(pqc).sortBy(c => (c._1, c._2)).toSeq
    val cbDisk = Similarity.readCodebook(spark, s"$dir/codebook.parquet")
      .sortBy(c => (c._1, c._2)).toSeq
    assert(cbDisk == cbMem, "codebook drifted through the artifact")
    val coMem = Similarity.collectCoarse(coarse).sortBy(_._1).toSeq
    val coDisk = Similarity.readCoarse(spark, s"$dir/coarse.parquet")
      .sortBy(_._1).toSeq
    assert(coDisk == coMem, "coarse cells drifted through the artifact")
    // loaded artifact drives identical static encodes
    val viaMem = Similarity.pqEncodeStatic(emb,
        Similarity.collectCodebook(pqc), "vec_id", "embedding", m)
      .as[(Long, Int, Int)].collect().toSet
    val viaDisk = Similarity.pqEncodeStatic(emb,
        Similarity.readCodebook(spark, s"$dir/codebook.parquet"),
        "vec_id", "embedding", m)
      .as[(Long, Int, Int)].collect().toSet
    assert(viaDisk == viaMem)
  }

  test("streaming IVF-PQ serving matches batch ivfPqTopK's scored candidates") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(48)
    val (m, ksub, iters, nCells, nProbe) = (2, 4, 2, 4, 2)
    // batch search trains its quantizers in-query through the SAME
    // deterministic builder the static artifacts come from, so equal inputs
    // must yield equal candidate scores. k = corpus size exposes the whole
    // scored frame for comparison.
    val queryIds = Seq(3L, 17L, 29L)
    val queries = emb.filter(col("vec_id").isInCollection(queryIds))
    val batch = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
        m, ksub, iters, nCells, nProbe, k = 48)
      .select("query_id", "neighbor_id", "adc_d2")
      .as[(Long, Long, Long)].collect().toSet
    // static artifacts: build once batch-side, collect, pack
    val (coarse, pqc, codes) = Similarity.ivfPqIndexBuild(
      emb, "vec_id", "embedding", m, ksub, iters, nCells)
    val coarseArr = Similarity.collectCoarse(coarse)
    val codebook = Similarity.collectCodebook(pqc)
    val packed = Similarity.packCodes(codes).localCheckpoint()
    // the projection form on a batch frame first
    val static0 = Similarity.ivfPqSearchStatic(queries, packed, coarseArr,
        codebook, "vec_id", "embedding", m, nProbe)
      .select("query_id", "vec_id", "adc_d2")
      .as[(Long, Long, Long)].collect().toSet
    assert(static0 == batch, s"static batch run diverges: ${static0 -- batch} / ${batch -- static0}")
    // and identically on an append-mode stream across micro-batches
    val qRows = queries.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val served = Similarity.ivfPqSearchStatic(
      input.toDF().toDF("vec_id", "embedding"), packed, coarseArr,
      codebook, "vec_id", "embedding", m, nProbe)
    val q = served.writeStream.format("memory").queryName("ivfpq_out")
      .option("checkpointLocation", tempDir("ivfpq-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(qRows.take(1): _*)
      q.processAllAvailable()
      input.addData(qRows.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("ivfpq_out")
        .select("query_id", "vec_id", "adc_d2")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch, "streamed IVF-PQ candidates diverge from batch")
    } finally q.stop()
  }

  test("streaming SQ8 scoring matches batch int8TopK's scored frame (static amax)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(40)
    val queryIds = Seq(2L, 11L, 23L)
    val queries = emb.filter(col("vec_id").isInCollection(queryIds))
    // k = corpus size exposes the whole scored frame for comparison
    val batch = Similarity.int8TopK(queries, emb, "vec_id", "embedding", k = 40)
      .select("query_id", "neighbor_id", "iscore")
      .as[(Long, Long, Long)].collect().toSet
    val amax = Similarity.int8Amax(emb, col("embedding"))
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val scored = Similarity.int8ScoreStatic(
      input.toDF().toDF("vec_id", "embedding"), queries, "vec_id", "embedding", amax)
    val q = scored.writeStream.format("memory").queryName("sq8_out")
      .option("checkpointLocation", tempDir("sq8-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(17): _*)
      q.processAllAvailable()
      input.addData(rows.drop(17): _*)
      q.processAllAvailable()
      val got = spark.table("sq8_out")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch, "streamed SQ8 scores diverge from batch")
    } finally q.stop()
  }

  test("streaming semantic dedup admits a vector similar only to a rejected one") {
    implicit val sqlCtx = spark.sqlContext
    // A~B (reject B), B~C but A!~C: admission keeps C — the retained-set
    // semantics the scaladoc pins (batch pair rule would drop C here)
    // unit vectors at 0°, 17°, 34°: adjacent cosines cos(17°) ≈ 0.956, the
    // A-C cosine cos(34°) ≈ 0.829
    val a = Seq(1.0f, 0.0f); val b = Seq(0.956f, 0.292f); val c = Seq(0.829f, 0.559f)
    assert(cos(a, b) >= 0.95 && cos(b, c) >= 0.95 && cos(a, c) < 0.95)
    val input = MemoryStream[(Long, Seq[Float])]
    val verdicts = StatefulOps.semanticDedupStream(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      Array((0, Seq(1.0, 0.0))), tau = 0.95)
    val q = verdicts.writeStream.format("memory").queryName("semchain_out")
      .option("checkpointLocation", tempDir("semc-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, a)); q.processAllAvailable()
      input.addData((2L, b)); q.processAllAvailable()
      input.addData((3L, c)); q.processAllAvailable()
      val got = spark.table("semchain_out")
        .select("vec_id", "sem_keep").as[(Long, Int)].collect().toMap
      assert(got == Map(1L -> 1, 2L -> 0, 3L -> 1), got.toString)
    } finally q.stop()
  }

  private def cos(x: Seq[Float], y: Seq[Float]): Double = {
    val d = x.lazyZip(y).map(_.toDouble * _.toDouble).sum
    d / (math.sqrt(x.map(v => v.toDouble * v).sum) * math.sqrt(y.map(v => v.toDouble * v).sum))
  }

  test("nearDupStream flags near-duplicates across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val hits = StatefulOps.nearDupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = hits.writeStream.format("memory").queryName("neardup_out")
      .option("checkpointLocation", tempDir("nd-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base + " bank"),
        (2L, "completely different content with no overlap whatsoever here"))
      q.processAllAvailable()
      assert(spark.table("neardup_out").isEmpty) // nothing similar yet
      // a near-copy of doc 1 arrives TWO batches later — batch dedup would
      // need a full recompute; the bucket state catches it immediately
      input.addData((3L, "unrelated filler row to advance the stream alone"))
      q.processAllAvailable()
      input.addData((4L, base + " bend"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 4L)))
      val est = spark.table("neardup_out").select(max(col("est_jaccard")))
        .as[Double].collect()(0)
      assert(est >= 0.5 && est <= 1.0)
    } finally q.stop()
  }

  test("nearDupStream bucket cap: overflow docs still match the anchor set") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val hits = StatefulOps.nearDupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxPerBucket = 1)
    val q = hits.writeStream.format("memory").queryName("ndcap_out")
      .option("checkpointLocation", tempDir("ndc-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base)); q.processAllAvailable()
      input.addData((2L, base)); q.processAllAvailable() // hit vs 1, NOT added
      input.addData((3L, base)); q.processAllAvailable() // hit vs 1 only
      val pairs = spark.table("ndcap_out").select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      // every overflow doc stays connected to the resident anchor; the
      // (2,3) edge is the capped recall trade
      assert(pairs == Set((1L, 2L), (1L, 3L)))
    } finally q.stop()
  }

  test("streaming fingerprint dedup drops whitespace/case near-copies") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val deduped = input.toDF().toDF("doc_id", "text", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withColumn("fingerprint", TextOps.fingerprint(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fingerprint")
    val q = deduped.writeStream.format("memory").queryName("fp_out")
      .option("checkpointLocation", tempDir("fp-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, "Hello  World", "2024-01-01 10:00:00"),
        (2L, "hello world", "2024-01-01 10:00:05"), // same fingerprint as 1
        (3L, "different", "2024-01-01 10:00:06"))
      q.processAllAvailable()
      val kept = spark.table("fp_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming length gate via static percentile thresholds matches batch percentileGate") {
    implicit val sqlCtx = spark.sqlContext
    // lengths 1..20 in one source: p10-p90 band = values 3..19 by
    // percent_rank; the streaming gate must admit exactly the batch set
    val rows = (1L to 20L).map(i => (i, ("tok " * i.toInt).trim, "s1"))
    val batchDocs = rows.toDF("doc_id", "text", "source")
    val lenCol = size(TextOps.tokens(TextOps.normalize(col("text"))))
    val batchKept = Sampling.percentileGate(batchDocs, col("source"),
        col("doc_id"), lenCol, lo = 0.1, hi = 0.9)
      .select("doc_id").as[Long].collect().toSet

    // thresholds freeze as a batch-trained artifact; the stream
    // broadcast-joins and range-filters — a pure stream-static shape
    val thresholds = Sampling.percentileThresholds(batchDocs, col("source"),
      lenCol, lo = 0.1, hi = 0.9)
    val input = MemoryStream[(Long, String, String)]
    val streamed = input.toDF().toDF("doc_id", "text", "source")
      .withColumn("grp", col("source"))
      .withColumn("gate_value", lenCol.cast("long"))
      .join(broadcast(thresholds), Seq("grp"))
      .filter(col("gate_value").between(col("v_lo"), col("v_hi")))
      .select("doc_id")
    val q = streamed.writeStream.format("memory").queryName("len_gate_out")
      .option("checkpointLocation", tempDir("len-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(10): _*)
      q.processAllAvailable()
      input.addData(rows.drop(10): _*)
      q.processAllAvailable()
      val got = spark.table("len_gate_out").as[Long].collect().toSet
      assert(got == batchKept, s"stream $got != batch $batchKept")
      assert(batchKept.nonEmpty && batchKept.size < rows.size)
    } finally q.stop()
  }

  test("streaming URL dedup: canonical-key dropDuplicates collapses crawl variants") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Web
    val input = MemoryStream[(Long, String, String)] // (doc_id, url, event_time)
    // normalizeUrl is a pure projection, so the batch canonicalization
    // composes directly into the watermarked streaming dedup — the C4 URL
    // pass as a continuous-ingest job with state bounded by the horizon
    val deduped = input.toDF().toDF("doc_id", "url", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
      .withColumn("url_norm", Web.normalizeUrl(col("url")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("url_norm")
    val q = deduped.writeStream.format("memory").queryName("url_out")
      .option("checkpointLocation", tempDir("url-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, "https://a.com/p?b=2&a=1", "2024-01-01 10:00:00"),
        (2L, "HTTPS://A.COM:443/p/?a=1&b=2&utm_x=9", "2024-01-01 10:00:05"))
      q.processAllAvailable()
      input.addData( // later micro-batch: still the same canonical key
        (3L, "https://a.com/p?a=1&b=2&fbclid=zz", "2024-01-01 10:00:10"),
        (4L, "https://b.com/p?a=1&b=2", "2024-01-01 10:00:15"))
      q.processAllAvailable()
      val kept = spark.table("url_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L))
    } finally q.stop()
  }

  test("tokenBudgetStream prefix rule matches batch tokenBudgetPerGroup across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).map(i =>
      (if (i % 2 == 0) "code" else "web", i, (i % 7) * 10 + 5))
    val df = rows.toDF("source", "doc_id", "n_tokens")
    val budget = 300L
    val batchKept = Sampling.tokenBudgetPerGroup(df, Seq(col("source")),
        col("doc_id"), col("n_tokens"), budget)
      .select(col("source"), col("doc_id"), col("cum_tokens"))
      .as[(String, Long, Long)].collect().toSet
    assert(batchKept.nonEmpty && batchKept.size < rows.size,
      "stress must exercise both kept and dropped documents")
    // arrival follows each group's portable-hash draw order, split across
    // two micro-batches — the one ordering under which batch and stream
    // must agree verdict for verdict
    val ordered = df
      .withColumn("h", TextOps.portableHash(col("doc_id").cast("string")))
      .orderBy(col("source"), col("h"), col("doc_id"))
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .as[(String, Long, Long)].collect()
    val byGroup = ordered.groupBy(_._1).values.toSeq
    val batch1 = byGroup.flatMap(g => g.take(g.length / 2))
    val batch2 = byGroup.flatMap(g => g.drop(g.length / 2))

    val input = MemoryStream[(String, Long, Long)]
    val streamed = StatefulOps.tokenBudgetStream(
      input.toDF().toDF("source", "doc_id", "n_tokens"),
      "source", "doc_id", "n_tokens", budget)
    val q = streamed.writeStream.format("memory").queryName("budget_out")
      .option("checkpointLocation", tempDir("budget-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val verdicts = spark.table("budget_out")
        .as[(String, Long, Long, Long, Int)].collect()
      assert(verdicts.length == rows.size, "every arrival gets a verdict")
      val admitted = verdicts.filter(_._5 == 1)
        .map(v => (v._1, v._2, v._4)).toSet
      assert(admitted == batchKept, s"stream $admitted != batch $batchKept")
    } finally q.stop()
  }

  test("tokenBudgetStream skipOver admits later smaller docs past a rejected big one") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val streamed = StatefulOps.tokenBudgetStream(
      input.toDF().toDF("source", "doc_id", "n_tokens"),
      "source", "doc_id", "n_tokens", budget = 300L, skipOver = true)
    val q = streamed.writeStream.format("memory").queryName("budget_skip_out")
      .option("checkpointLocation", tempDir("budget-skip-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // one doc per micro-batch: arrival order is the admission order
      Seq(("s", 1L, 200L), ("s", 2L, 150L), ("s", 3L, 100L)).foreach { r =>
        input.addData(r)
        q.processAllAvailable()
      }
      val got = spark.table("budget_skip_out")
        .as[(String, Long, Long, Long, Int)].collect()
        .sortBy(_._2).map(v => (v._2, v._4, v._5)).toSeq
      // 200 admitted; 150 would cross (350 > 300) -> rejected, does NOT
      // consume budget; 100 fits the remaining 100 exactly
      assert(got == Seq((1L, 200L, 1), (2L, 200L, 0), (3L, 300L, 1)))
    } finally q.stop()
  }

  test("streaming KMV sketch matches batch kmvDistinct across micro-batches") {
    // The KMinValues TypedImperativeAggregate is mergeable, so the batch
    // builder runs unchanged on a streaming frame in Complete mode — the
    // sketch state (≤ k longs per group) IS the streaming state, and the
    // final estimate must be the estimate batch computes over all rows.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)] // (grp, value)
    val streamed = graft.operators.Sketches.kmvDistinct(
      input.toDF().toDF("grp", "v"), col("grp"), col("v"), k = 16)
    val q = streamed.writeStream.format("memory").queryName("kmv_out")
      .option("checkpointLocation", tempDir("kmv-cp").toString)
      .outputMode(OutputMode.Complete).start()
    try {
      val batch1 = (1 to 30).map(i => ("a", s"v$i")) ++ (1 to 5).map(i => ("b", s"w$i"))
      val batch2 = (20 to 60).map(i => ("a", s"v$i")) ++ (1 to 5).map(i => ("b", s"w$i"))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*) // overlaps batch1: set semantics must hold
      q.processAllAvailable()
      val got = spark.table("kmv_out")
        .as[(String, Int, Long, Double)].collect().toSet
      val expected = graft.operators.Sketches.kmvDistinct(
        (batch1 ++ batch2).toDF("grp", "v"), col("grp"), col("v"), k = 16)
        .as[(String, Int, Long, Double)].collect().toSet
      assert(got == expected)
      // group b saw 5 distinct < k → the streaming estimate is EXACT
      assert(got.find(_._1 == "b").get._4 == 5.0)
    } finally q.stop()
  }

  test("streaming Count-Min sketch matches the batch build across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val streamed = graft.operators.Sketches.countMinSketch(
      input.toDF().toDF("k"), col("k"), depth = 4, width = 32)
    val q = streamed.writeStream.format("memory").queryName("cms_out")
      .option("checkpointLocation", tempDir("cms-cp").toString)
      .outputMode(OutputMode.Complete).start()
    try {
      val batch1 = Seq.fill(40)("hot") ++ (1 to 10).map(i => s"r$i")
      val batch2 = Seq.fill(60)("hot") ++ (5 to 15).map(i => s"r$i")
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("cms_out")
        .as[(Int, Long, Long)].collect().toSet
      val expected = graft.operators.Sketches.countMinSketch(
        (batch1 ++ batch2).toDF("k"), col("k"), depth = 4, width = 32)
        .as[(Int, Long, Long)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming HLL registers match the batch build across micro-batches") {
    // max-per-(grp,bucket) is mergeable, so hllRegisters runs unchanged on
    // a streaming frame in Complete mode: streaming state is the register
    // table itself (≤ m small ints per group). Estimate parity follows for
    // free — hllEstimate is a deterministic function of the registers.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val streamed = graft.operators.Sketches.hllRegisters(
      input.toDF().toDF("grp", "v"), col("grp"), col("v"))
    val q = streamed.writeStream.format("memory").queryName("hll_out")
      .option("checkpointLocation", tempDir("hll-cp").toString)
      .outputMode(OutputMode.Complete).start()
    try {
      val batch1 = (1 to 400).map(i => ("a", s"u$i")) ++ (1 to 50).map(i => ("b", s"x$i"))
      val batch2 = (200 to 900).map(i => ("a", s"u$i")) // overlap: set semantics
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("hll_out")
        .as[(String, Long, Long)].collect().toSet
      val batchRegs = graft.operators.Sketches.hllRegisters(
        (batch1 ++ batch2).toDF("grp", "v"), col("grp"), col("v"))
      assert(got == batchRegs.as[(String, Long, Long)].collect().toSet)
      val est = graft.operators.Sketches.hllEstimate(spark.table("hll_out"))
        .as[(String, Long, Long, Double)].collect().toSet
      assert(est == graft.operators.Sketches.hllEstimate(batchRegs)
        .as[(String, Long, Long, Double)].collect().toSet)
    } finally q.stop()
  }

  test("streaming kNN candidates over the static index match the batch graph's pair set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    // batch truth: the pre-rank candidate pair set of the kNN graph is the
    // distinct same-bucket (src, dst, cosine) pairs — recompute it as
    // knnGraph with k = corpus size (rank never filters)
    val batch = Similarity.knnGraph(emb, "vec_id", "embedding", k = 50,
      nBands = 4, rowsPerBand = 2, dim = 64)
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    val index = Similarity.knnCorpusIndex(emb, "vec_id", "embedding",
      nBands = 4, rowsPerBand = 2, dim = 64).localCheckpoint()
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val served = Similarity.knnCandidatesStatic(index,
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      nBands = 4, rowsPerBand = 2, dim = 64)
    val q = served.writeStream.format("memory").queryName("knn_out")
      .option("checkpointLocation", tempDir("knn-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(23): _*); q.processAllAvailable()
      input.addData(rows.drop(23): _*); q.processAllAvailable()
      // distinct across bands happens downstream per the operator contract
      val got = spark.table("knn_out")
        .select("src_id", "dst_id").distinct()
        .as[(Long, Long)].collect().toSet
      assert(got == batch, "streamed kNN candidates diverge from batch graph pairs")
    } finally q.stop()
  }

  test("streaming entity-match serving matches batch entityMatchAgainst (Artifacts index)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val sfDir = "/root/testdata/sf0.001"
    // the Artifacts-persisted master blocking index (clean customers)
    val index = spark.read.parquet(Artifacts.entityIndex(spark, sfDir))
    // arrivals: the typo'd duplicate feed (the dedup_entity_admit synthesis)
    val cust = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      concat_ws(":", col("c_nationkey").cast("string"),
        col("c_mktsegment")).as("blk"),
      col("c_custkey").as("k"))
    val p = (lit(10) + col("k") % 9).cast("int")
    val d1 = cust.filter(col("k") % 3 === 0)
      .select((col("id") + 1000000000L).as("id"),
        concat(col("name").substr(lit(1), p - 1), lit("x"),
          col("name").substr(p + 1, length(col("name")))).as("name"),
        col("blk"))
    val d2 = cust.filter(col("k") % 9 === 0)
      .select((col("id") + 2000000000L).as("id"),
        concat(substring(col("name"), 1, 9), lit("xy"),
          col("name").substr(lit(12), length(col("name")))).as("name"),
        col("blk"))
    val pieces = Seq(substring(col("name"), 10, 3),
      substring(col("name"), 13, 3), substring(col("name"), 16, 3))
    val batch = Dedup.entityMatchAgainst(index, d1.unionAll(d2),
        col("id"), col("name"), col("blk"), pieces)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(batch.nonEmpty, "the parity set must not be vacuous")

    val rows = d1.unionAll(d2).as[(Long, String, String)].collect().toSeq
    val input = MemoryStream[(Long, String, String)]
    val served = StatefulOps.entityMatchStream(
      input.toDF().toDF("id", "name", "blk"), index,
      col("id"), col("name"), col("blk"), pieces)
    val q = served.writeStream.format("memory").queryName("entity_out")
      .option("checkpointLocation", tempDir("ent-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches; at-least-once per slot, so distinct downstream
      // per the operator contract
      input.addData(rows.take(rows.size / 2): _*); q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2): _*); q.processAllAvailable()
      val got = spark.table("entity_out").distinct()
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(got == batch,
        s"streamed entity matches diverge: ${got.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming seasonal anomaly scoring matches batch (Artifacts profile)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TimeSeries
    val sfDir = "/root/testdata/sf0.001"
    val profile = spark.read.parquet(Artifacts.seasonalProfile(spark, sfDir))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), hour(col("ts")).as("hr"),
        col("value"))
    def score(df: org.apache.spark.sql.DataFrame) =
      TimeSeries.scoreAgainstProfile(df, profile, col("user_id"),
        col("event_id"), col("hr"), col("value"), 1000L, 200000L)
    val batch = score(ev)
      .as[(Long, Long, Int, Long, Long, Long, Int)].collect().toSet
    assert(batch.nonEmpty)
    val rows = ev.as[(Long, Long, Int, Double)].collect().toSeq
    val input = MemoryStream[(Long, Long, Int, Double)]
    val q = score(input.toDF().toDF("user_id", "event_id", "hr", "value"))
      .writeStream.format("memory").queryName("seasonal_out")
      .option("checkpointLocation", tempDir("sea-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(rows.size / 2): _*); q.processAllAvailable()
      input.addData(rows.drop(rows.size / 2): _*); q.processAllAvailable()
      val got = spark.table("seasonal_out")
        .as[(Long, Long, Int, Long, Long, Long, Int)].collect().toSet
      assert(got == batch, "streamed seasonal scoring diverges from batch")
    } finally q.stop()
  }
}
