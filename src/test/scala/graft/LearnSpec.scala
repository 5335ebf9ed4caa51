package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Learn

/**
 * The distributed trainer's contract (Learn.scala): exact-integer full-batch
 * perceptron. Cross-engine trajectory parity is the catalog oracle's job
 * (`learn_perceptron`); these specs pin the LEARNING behavior itself.
 */
class LearnSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny hand-separable set: y = sign(x2 - x1) (4 positive, 4 negative,
    * margin ≥ 1 under w* = (-1, 1, 0)) — Novikoff guarantees the perceptron
    * converges; with these values it takes a handful of batch rounds. */
  private def toy() = Seq(
    (1L, 1L, 3L), (2L, 2L, 5L), (3L, 3L, 8L), (4L, 4L, 2L),
    (5L, 5L, 9L), (6L, 6L, 1L), (7L, 7L, 4L), (8L, 8L, 3L))
    .toDF("doc_id", "x1", "x2")
    .select(col("doc_id"),
      when(col("x2") > col("x1"), 1L).otherwise(-1L).as("y"),
      col("x1"), col("x2"), lit(1L).as("x_bias"))

  test("perceptron converges to zero mistakes on separable toy data") {
    val hist = Learn.perceptronHistory(toy(), iters = 32,
      fc = Seq("x1", "x2", "x_bias")).collect().sortBy(_.getLong(0))
    val finalMis = hist.last.getLong(hist.last.fieldIndex("n_mis"))
    assert(finalMis === 0L, s"did not converge: ${hist.map(_.toSeq).mkString("; ")}")
    // once converged the update is empty — weights freeze
    val frozen = hist.dropWhile(_.getLong(4) > 0)
    assert(frozen.nonEmpty && frozen.map(_.getLong(1)).distinct.length === 1)
  }

  test("trajectory is partition-invariant (exact integer sums)") {
    val base = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
    def run(parts: Int): Seq[Seq[Any]] =
      Learn.perceptronHistory(base.repartition(parts), iters = 6)
        .collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(run(1) === run(7))
  }

  test("corpus marker concept is learned: mistakes drop by 10x and accuracy is high") {
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
    val hist = Learn.perceptronHistory(feats, iters = 16)
      .collect().sortBy(_.getLong(0))
    val nMisIdx = hist.head.fieldIndex("n_mis")
    val (first, last) = (hist.head.getLong(nMisIdx), hist.last.getLong(nMisIdx))
    assert(first === 500L) // zero weights misclassify everything (margin 0)
    assert(last <= first / 10, s"no learning: n_mis $first -> $last")
    val preds = Learn.perceptronPredict(feats, iters = 16)
    val acc = preds.agg(avg(col("correct"))).head().getDouble(0)
    assert(acc >= 0.95, s"accuracy $acc")
  }

  test("averaged weights are the exact trajectory sum (sign-equivalent serving)") {
    val hist = Learn.perceptronHistory(toy(), iters = 8,
      fc = Seq("x1", "x2", "x_bias")).collect()
    val summed = Seq(1, 2, 3).map(i => hist.map(_.getLong(i)).sum)
    val avg = Learn.averagedWeights(toy(), iters = 8,
      fc = Seq("x1", "x2", "x_bias"))
    assert(avg.toSeq === summed)
  }

  test("streaming scoreStatic matches batch predict (stateless serving projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
    val w = Learn.perceptronWeights(feats, iters = 16)
    val batch = Learn.scoreStatic(feats, w.toSeq)
      .as[(Long, Long, Long, Int)].collect().toSet
    val rows = feats
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val input = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    val scored = Learn.scoreStatic(
      input.toDF().toDF("doc_id" +: "y" +: Learn.featureCols: _*), w.toSeq)
    val q = scored.writeStream.format("memory").queryName("learn_out")
      .option("checkpointLocation",
        tempDir("learn-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.take(200): _*)
      q.processAllAvailable()
      input.addData(rows.drop(200): _*)
      q.processAllAvailable()
      val got = spark.table("learn_out")
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == batch, "streamed perceptron scores diverge from batch")
    } finally q.stop()
  }

  test("weight artifact round-trips and validates its feature layout") {
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
    val w = Learn.perceptronWeights(feats, iters = 4)
    val path = tempDir("learn-w").toString + "/weights"
    Learn.writeWeights(spark, path, w.toSeq)
    assert(Learn.readWeights(spark, path).toSeq === w.toSeq)
    // layout mismatch must raise, not silently mis-score
    intercept[IllegalArgumentException] {
      Learn.readWeights(spark, path, fc = Seq("x1", "x2"))
    }
  }

  // ==== closed-form ridge: one-pass normal equations ======================

  test("ridge solves a hand-computed 2x2 system exactly") {
    // rows (x, y) = (1,2), (2,4), (3,6); features (x, bias), lambda = 1:
    // A = [[15, 6], [6, 4]], b = [28, 12], det = 24, wNum = (40, 12)
    // (w = (5/3, 1/2) — ridge shrinks the noise-free slope 2 toward 0).
    val f = Seq((1L, 1L, 2L), (2L, 2L, 4L), (3L, 3L, 6L))
      .toDF("doc_id", "x", "y").withColumn("x_bias", lit(1L))
    val m = Learn.ridgeFit(f, Seq("x", "x_bias"), "y")
    assert(m.det === BigInt(24))
    assert(m.wNum === Seq(BigInt(40), BigInt(12)))
  }

  test("ridge satisfies A*wNum = det*b exactly on corpus features") {
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
      .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
    val xc = Seq("x_scan", "x_join", "x_bias")
    val m = Learn.ridgeFit(feats, xc, "y_t")
    // rebuild A and b independently from a collect of the tiny corpus
    val rows = feats.select((xc :+ "y_t").map(col): _*).collect()
    val d = xc.length
    val a = Array.tabulate(d, d) { (i, j) =>
      rows.map(r => BigInt(r.getLong(i)) * BigInt(r.getLong(j))).sum +
        (if (i == j) BigInt(1) else BigInt(0))
    }
    val b = Array.tabulate(d)(i =>
      rows.map(r => BigInt(r.getLong(i)) * BigInt(r.getLong(d))).sum)
    assert(m.det > 0, "lambda >= 1 must make A positive definite")
    for (i <- 0 until d) {
      val lhs = (0 until d).map(j => a(i)(j) * m.wNum(j)).sum
      assert(lhs === m.det * b(i), s"normal equation row $i violated")
    }
  }

  test("ridge fit is partition-invariant and predictions carry exact residuals") {
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"))
      .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
    val xc = Seq("x_scan", "x_join", "x_bias")
    val m1 = Learn.ridgeFit(feats.repartition(1), xc, "y_t")
    val m7 = Learn.ridgeFit(feats.repartition(7), xc, "y_t")
    assert(m1 === m7)
    val preds = Learn.ridgePredict(feats, m1, col("doc_id"), "y_t").collect()
    assert(preds.nonEmpty)
    preds.foreach { r =>
      val y = BigInt(r.getLong(1))
      val pred = BigInt(r.getString(2))
      val res = BigInt(r.getString(3))
      assert(res === pred - m1.det * y, s"residual identity broken at $r")
    }
  }

  test("grouped ridge matches the driver-side solve per group, with no driver state") {
    val feats = Learn.markerFeatures(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      col("doc_id"), col("text"), carry = Seq("source"))
      .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
    val xc = Seq("x_scan", "x_join", "x_bias")
    val grouped = Learn.ridgeFitGrouped(feats, col("source"), xc, "y_t")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(3), r.getString(4)))
      .toMap
    val sources = feats.select("source").distinct().collect().map(_.getString(0))
    assert(sources.nonEmpty && grouped.size === sources.length * xc.length)
    sources.foreach { src =>
      val m = Learn.ridgeFit(feats.filter(col("source") === src), xc, "y_t")
      xc.indices.foreach { i =>
        assert(grouped((src, i.toLong)) ===
          ((m.wNum(i).toString, m.det.toString)),
          s"grouped solve diverges from per-group Bareiss for $src pos $i")
      }
    }
  }

  test("grouped ridge on empty input yields an empty frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      Learn.markerFeatures(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        col("doc_id"), col("text"), carry = Seq("source")).schema)
      .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
    assert(Learn.ridgeFitGrouped(empty, col("source"),
      Seq("x_scan", "x_join", "x_bias"), "y_t").count() === 0L)
  }

  test("ridge on empty input yields det = 1 and zero weights") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      Learn.markerFeatures(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        col("doc_id"), col("text")).schema)
      .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
    val m = Learn.ridgeFit(empty, Seq("x_scan", "x_join", "x_bias"), "y_t")
    assert(m.det === BigInt(1) && m.wNum.forall(_ === BigInt(0)))
  }

  test("empty input trains to zero weights without failing") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      Learn.markerFeatures(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        col("doc_id"), col("text")).schema)
    val hist = Learn.perceptronHistory(empty, iters = 3).collect()
    assert(hist.length === 3)
    assert(hist.forall(r => (1 to Learn.featureCols.length)
      .forall(i => r.getLong(i) == 0L)))
  }
}
