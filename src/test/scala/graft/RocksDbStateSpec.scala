package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StatefulOps

/**
 * Production state-store compatibility: every stateful streaming operator's
 * state (case classes through the product encoder) must round-trip through
 * the RocksDB state store provider — the provider a real cluster runs so
 * state spills off-heap instead of living on the executor heap
 * (`spark.sql.streaming.stateStore.providerClass`). The default in-memory
 * (HDFS-backed) provider used by the other streaming specs can mask
 * serialization issues RocksDB's byte-level storage surfaces; this spec
 * pins the cluster configuration on the two custom-state shapes with the
 * richest state types (nested lists of case classes, maps).
 */
class RocksDbStateSpec extends SparkSpec {

  // a CHILD session of the shared test context: the provider class is a
  // session-scoped SQL conf, so newSession() isolates it — and, critically,
  // nothing here may stop() the session, which would kill the one shared
  // SparkContext under every later suite in the forked JVM (the bug this
  // comment commemorates)
  private def withRocksSession[A](f: SparkSession => A): A = {
    val spark = TestSession.spark.newSession()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    SparkSession.setActiveSession(spark)
    try f(spark)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.setActiveSession(TestSession.spark)
    }
  }

  test("softDedupStream cluster state survives RocksDB round-trips across batches") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(Long, String)]
      val base = "the quick brown fox jumps over the lazy dog near the river"
      val out = StatefulOps.softDedupStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      val q = out.writeStream.format("memory").queryName("rocks_soft")
        .option("checkpointLocation", tempDir("rsoft-cp").toString)
        .outputMode(OutputMode.Append).start()
      try {
        // three batches: the bucket state (members with sigs + size map +
        // seq) must deserialize from RocksDB bytes on every batch
        input.addData((1L, base + " bank")); q.processAllAvailable()
        input.addData((2L, base + " bend")); q.processAllAvailable()
        input.addData((3L, base + " bond")); q.processAllAvailable()
        val rows = spark.table("rocks_soft")
          .groupBy("bkey", "doc_id")
          .agg(max(struct(col("upd_seq"), col("cluster_size"),
            col("weight_scaled"))).as("m"))
          .select(col("doc_id"), col("m.cluster_size"), col("m.weight_scaled"))
          .as[(Long, Long, Long)].collect().toSet
        val grown = rows.filter(_._2 == 3L)
        assert(grown.map(_._1) == Set(1L, 2L, 3L),
          s"cross-batch growth lost through RocksDB: $rows")
        grown.foreach { case (_, n, w) => assert(n == 3L && w == 1048576L / 3) }
        // prove RocksDB actually ran (a silent fallback to the default
        // provider would pass the behavioral asserts): the state operator's
        // custom metrics are provider-specific
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"state operator reports no rocksdb metrics: ${metrics.mkString(",")}")
      } finally q.stop()
    }
  }

  test("softDedupStream kill-and-restart from checkpoint: state intact + " +
      "output parity with an uninterrupted run") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog near the river"
      type W = graft.streaming.StatefulOps.ClusterWeight

      // run the same 3 single-doc batches, optionally killing the query
      // after batch 2 and restarting from the checkpoint (foreachBatch —
      // the memory sink does not support recovery)
      def run(kill: Boolean): Seq[(String, Long, Long, Long, Long, Long)] = {
        val input = MemoryStream[(Long, String)]
        val cp = tempDir("rsoftkill-cp").toString
        val emitted = scala.collection.mutable.ArrayBuffer[W]()
        def start() = StatefulOps.softDedupStream(
            input.toDF().toDF("doc_id", "text"), "doc_id", "text")
          .writeStream.option("checkpointLocation", cp)
          .outputMode(OutputMode.Append)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[W], _: Long) =>
            val rows = b.collect()
            emitted.synchronized { emitted ++= rows }; ()
          }.start()
        val q1 = start()
        input.addData((1L, base + " bank")); q1.processAllAvailable()
        input.addData((2L, base + " bend")); q1.processAllAvailable()
        var q = q1
        if (kill) {
          q1.stop() // crash after 2 committed batches
          q = start() // resume from the SAME checkpoint + source
        }
        input.addData((3L, base + " bond")); q.processAllAvailable()
        q.stop()
        emitted.synchronized(emitted.toSeq)
          .map(w => (w.bkey, w.doc_id, w.cluster_id, w.cluster_size,
            w.weight_scaled, w.upd_seq)).sorted
      }

      val interrupted = run(kill = true)
      // the restarted query must have recovered docs 1+2 as RESIDENTS:
      // doc 3's arrival grows the cluster to 3 and re-emits all members
      val grown = interrupted.filter(_._4 == 3L)
      assert(grown.map(_._2).toSet == Set(1L, 2L, 3L),
        s"post-restart growth lost pre-crash members: $grown")
      grown.foreach { case (_, _, cid, _, w, _) =>
        assert(cid == 1L && w == 1048576L / 3, grown.toString)
      }
      // and the FULL emitted stream (batch seqs included) must be
      // indistinguishable from a run that was never killed
      val uninterrupted = run(kill = false)
      assert(interrupted == uninterrupted,
        s"kill/restart output diverges from uninterrupted run:\n" +
          s"  killed : ${interrupted.take(5)}…\n" +
          s"  clean  : ${uninterrupted.take(5)}…")
    }
  }

  test("sessionizeStream kill-and-restart: parked session survives the " +
      "checkpoint round-trip and still times out") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      type S = graft.streaming.StatefulOps.UserSession
      val input = MemoryStream[(String, String)]
      val cp = tempDir("rsesskill-cp").toString
      val emitted = scala.collection.mutable.ArrayBuffer[S]()
      def start() = StatefulOps.sessionizeStream(
          input.toDF().toDF("user_id", "ts_s")
            .withColumn("ts", col("ts_s").cast("timestamp")),
          "user_id", "ts", watermark = "10 seconds", gapMs = 60000L)
        .writeStream.option("checkpointLocation", cp)
        .outputMode(OutputMode.Append)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[S], _: Long) =>
          val rows = b.collect()
          emitted.synchronized { emitted ++= rows }; ()
        }.start()
      // phase 1: u1's 2-event session parks in state (watermark far behind
      // its close — nothing emitted), one committed batch, then crash
      val q1 = start()
      input.addData(("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 10:00:30"))
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.isEmpty),
        "session must still be parked at crash time")
      q1.stop()
      // phase 2: restart from the checkpoint; advancing the watermark past
      // the parked session's close must emit it — which can only happen if
      // the EventTimeTimeout state deserialized from RocksDB intact
      val q2 = start()
      input.addData(("u2", "2024-01-01 10:10:00")); q2.processAllAvailable()
      input.addData(("u2", "2024-01-01 10:20:00")); q2.processAllAvailable()
      q2.stop()
      val got = emitted.synchronized(emitted.toSeq)
        .map(s => (s.user_id, s.n_events)).toSet
      assert(got.contains(("u1", 2L)),
        s"u1's pre-crash 2-event session must emit once after restart: $got")
    }
  }

  test("sessionizeStream event-time state + timeouts work under RocksDB") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(String, String)]
      val sessions = StatefulOps.sessionizeStream(
        input.toDF().toDF("user_id", "ts_s")
          .withColumn("ts", col("ts_s").cast("timestamp")),
        "user_id", "ts", watermark = "10 seconds", gapMs = 60000L)
      val q = sessions.writeStream.format("memory").queryName("rocks_sess")
        .option("checkpointLocation", tempDir("rsess-cp").toString)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 10:00:30"))
        q.processAllAvailable()
        // advance the watermark far past the session's close
        input.addData(("u2", "2024-01-01 10:10:00")); q.processAllAvailable()
        input.addData(("u2", "2024-01-01 10:20:00")); q.processAllAvailable()
        val got = spark.table("rocks_sess")
          .select("user_id", "n_events").as[(String, Long)].collect().toSet
        assert(got.contains(("u1", 2L)),
          s"u1's merged 2-event session must close and emit once: $got")
      } finally q.stop()
    }
  }

  test("cepStreamAll anchor-list state survives RocksDB round-trips across batches") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val input = MemoryStream[(Long, Long, String, Long)]
      val out = StatefulOps.cepStreamAll(
        input.toDF().toDF("user_id", "event_id", "event_type", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        "user_id", "ts", "event_id",
        Seq(col("event_type") === "a", col("event_type") === "c"),
        col("event_type") === "n", 3600L, maxSpans = 4)
      val q = out.writeStream.format("memory").queryName("rocks_cepall")
        .option("checkpointLocation", tempDir("rcepall-cp").toString)
        .outputMode(OutputMode.Append).start()
      try {
        // the anchor ARRAY state (Array[Long] pairs) must deserialize from
        // RocksDB bytes on every batch: anchors accumulate across three
        // batches before the close fans out over all of them
        input.addData((1L, 1L, "a", 10L)); q.processAllAvailable()
        input.addData((1L, 2L, "a", 20L)); q.processAllAvailable()
        input.addData((1L, 3L, "a", 30L), (1L, 4L, "c", 40L))
        q.processAllAvailable()
        val got = spark.table("rocks_cepall")
          .select(col("close_id"), expr("element_at(step_us, 1) div 1000000"),
            col("span_rank"))
          .as[(Long, Long, Int)].collect().toSet
        assert(got == Set((4L, 30L, 1), (4L, 20L, 2), (4L, 10L, 3)),
          s"anchor list lost through RocksDB: $got")
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"state operator reports no rocksdb metrics: ${metrics.mkString(",")}")
      } finally q.stop()
    }
  }

  test("forecastScoreStream seeded counter survives RocksDB round-trips across batches") {
    withRocksSession { spark =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.functions._
      import graft.operators.TimeSeries
      // training history: key 1 is the exact line y = 6 + i over its last
      // 4 readings (the TimeSeriesSpec fixture), quantScale 1
      val hist = (1 to 10).map(i => (1L, i.toLong, i.toLong, i.toDouble))
        .toDF("key", "tie", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec")))
      val prof = TimeSeries.trendProfile(hist, col("key"), col("ts"),
        col("tie"), col("value"), lastN = 4, quantScale = 1L)
      val input = MemoryStream[(Long, Long, Long, Double)]
      // seeded at h0 = 2: the first streamed reading scores at horizon 3
      val out = StatefulOps.forecastScoreStream(
        input.toDF().toDF("key", "tie", "sec", "value")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        prof, "key", "ts", "tie", "value", quantScale = 1L, tauScaled = 1L,
        seed = Some(Seq((1L, 2L)).toDF("k", "h0")))
      val q = out.writeStream.format("memory").queryName("rocks_fcseed")
        .option("checkpointLocation", tempDir("rfcseed-cp").toString)
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1 initializes from the seed (h=3); batch 2 must resume
        // from the RocksDB-serialized counter (h=4), NOT re-seed
        input.addData((1L, 100L, 100L, 13.0)); q.processAllAvailable()
        input.addData((1L, 101L, 101L, 14.0)); q.processAllAvailable()
        val got = spark.table("rocks_fcseed")
          .select(col("id"), col("h"), col("fc_num"), col("is_surprise"))
          .as[(Long, Long, Long, Int)].collect().toSet
        // line y = 6 + i at den 20: h=3 → fc_num 120 + 20·7 = 260 (13.0
        // on the line), h=4 → 280 (14.0 on the line) — exact, no surprise
        assert(got == Set((100L, 3L, 260L, 0), (101L, 4L, 280L, 0)),
          s"seeded counter lost through RocksDB: $got")
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"state operator reports no rocksdb metrics: ${metrics.mkString(",")}")
      } finally q.stop()
    }
  }
}
