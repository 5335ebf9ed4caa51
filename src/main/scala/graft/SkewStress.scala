package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/**
 * Hot-key skew stress for the corpus-count text operators: the scenario
 * boilerplate detection exists for — one shingle shared by a large fraction
 * of the corpus — is exactly the scenario the whole-partition-window form
 * cannot survive at scale, because every row of the hot key lands in one
 * task. [[ScaleStress]] deliberately salts copies injectively (no shared
 * shingles), so its flat 1×→10× ratios never exercised this.
 *
 * Here we inject a constant 3-token sentence into `hotPct`% of a 10× corpus
 * and measure each form's max single-task shuffle-read rows and duration.
 * The run uses 2048 shuffle partitions (AQE partition coalescing off) to
 * model cluster-scale task granularity: on a 1000-executor cluster the
 * uniform per-task share of the exploded frame is tiny, so a key held by
 * 30% of documents is a 10-100× task-size outlier — at local[32]'s default
 * 32 partitions the uniform share (1/32 of the frame) would drown exactly
 * the signal this stress exists to expose. With 2048 partitions the uniform
 * share here is ~1.1k rows; the hot shingle is ~15k rows in ONE window
 * task, while the skew-safe form routes those rows through the broadcast
 * attach and its per-task shuffle fan-in stays at the uniform share,
 * bounded regardless of hotPct.
 *
 * Prints one JSON line per (query, form, hotPct); recorded in BASELINE.md.
 * Run via: sbt "runMain graft.SkewStress"
 */
object SkewStress {

  private class MaxTaskListener extends SparkListener {
    val maxTaskMs = new AtomicLong(0)
    val maxShuffleRows = new AtomicLong(0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskInfo != null) {
        maxTaskMs.getAndUpdate(m => math.max(m, e.taskInfo.duration))
        if (e.taskMetrics != null) {
          val rows = e.taskMetrics.shuffleReadMetrics.recordsRead
          maxShuffleRows.getAndUpdate(m => math.max(m, rows))
        }
      }
    }
    def reset(): Unit = { maxTaskMs.set(0); maxShuffleRows.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = 10 // corpus scale
    // well below the hot key's ~15k occurrences, well above the salted long
    // tail — the injected key must classify as heavy
    val heavyCut = 1000L
    val spark = GraftSession.builder(cpus)
      // cluster-granularity tasks; keep AQE from re-merging them
      .config("spark.sql.shuffle.partitions", "2048")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // CRITICAL for the AQE skew-join block below, and a real 100 TB
      // deployment lesson: above spark.shuffle
      // .minNumPartitionsToHighlyCompress (2000) reducers, MapStatus
      // reports only AVERAGE block sizes — exact sizes only for blocks over
      // spark.shuffle.accurateBlockThreshold (default 100 MB) — so AQE's
      // skew detection is BLIND to any hot partition smaller than that.
      // This is a STATIC conf; it cannot be fixed per-query. (r12 finding:
      // with the default, OptimizeSkewedJoin logged "skewed partitions:
      // left 0" on a 30%-hot key at 2048 partitions.)
      .config("spark.shuffle.accurateBlockThreshold", "2k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MaxTaskListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000000).selectExpr("sum(id)").collect()

    Seq(0, 30).foreach { hotPct =>
      // 10× injectively-salted corpus (copy-local shingles, as in
      // ScaleStress) + the hot sentence appended UNSALTED to hotPct% of
      // docs, so one shingle is genuinely shared across hotPct% of the
      // grown corpus.
      val dir = s"/tmp/graft-skew-${k}x-$hotPct"
      ScaleStress.scaledCorpus(spark, baseDir, k)
        .withColumn("text",
          when(col("doc_id") % 100 < hotPct,
            concat(col("text"), lit(" graft boiler plate graft boiler plate")))
            .otherwise(col("text")))
        .coalesce(cpus.toInt)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)

      val runs: Seq[(String, String, () => DataFrame)] = Seq(
        ("text_boilerplate", "window",
          () => TextOps.boilerplateStats(docs, col("text"), col("doc_id"),
            skewSafe = false)),
        ("text_boilerplate", "skewsafe",
          () => TextOps.boilerplateStats(docs, col("text"), col("doc_id"),
            skewSafe = true, heavyCut = heavyCut)),
        ("text_lm_score", "window",
          () => TextOps.lmScore(docs, col("text"), col("doc_id"),
            skewSafe = false)),
        ("text_lm_score", "skewsafe",
          () => TextOps.lmScore(docs, col("text"), col("doc_id"),
            skewSafe = true, heavyCut = heavyCut)))

      // force the FULL physical plan: .count() would let Catalyst prune the
      // very window/attach stages this stress measures
      def run(df: DataFrame): Long = df.queryExecution.toRdd.count()
      runs.foreach { case (_, _, build) =>
        run(build()) // warm codegen + file listing so forms compare fairly
      }
      runs.foreach { case (name, form, build) =>
        listener.reset()
        val t0 = System.nanoTime()
        val n = run(build())
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000) // let the listener bus drain task-end events
        println(f"""{"query":"$name","form":"$form","scale":$k,"hot_pct":$hotPct,""" +
          f""""sec":$sec%.2f,"rows":$n,"max_task_ms":${listener.maxTaskMs.get},""" +
          f""""max_task_shuffle_rows":${listener.maxShuffleRows.get}}""")
      }
    }

    // ---- AQE skew-join vs Skew.saltedJoin (verdict-r11 item 7) ----------
    // The same hot key, this time through a shuffle JOIN: 30% of the 10×
    // corpus shares join key 0 against a 1001-row dim modeled as
    // too-large-to-broadcast (both broadcast thresholds -1 — when the dim
    // fits, broadcast is the answer and neither technique is needed).
    // Three forms over identical inputs: `plain` (skew ignored — one task
    // reads every hot row), `aqe` (OptimizeSkewedJoin splits the hot
    // partition at runtime; thresholds lowered to cluster-granularity task
    // sizes), `salted` (Skew.saltedJoin, 16 salts). Task-level max fan-in
    // + wall per form, recorded in BASELINE.md with the recommendation.
    {
      val hotPct = 30
      val dir = s"/tmp/graft-skew-${k}x-$hotPct" // corpus written above
      val docs = Tables.documents(spark, dir)
      val large = docs.select(col("doc_id"),
        when(col("doc_id") % 100 < hotPct, lit(0L))
          .otherwise(pmod(xxhash64(col("doc_id")), lit(1000L)) + 1L).as("key"))
      val small = spark.range(0, 1001)
        .select(col("id").as("key"), (col("id") * 7 % 97).as("payload"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // thresholds scaled to this corpus's task granularity (the hot
      // partition is ~300 KB at 2048 partitions; defaults are 256 MB) —
      // on a real cluster the same RATIO tuning applies
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
      val joinRuns: Seq[(String, Boolean, () => DataFrame)] = Seq(
        ("plain", false, () => large.join(small, "key")),
        ("aqe", true, () => large.join(small, "key")),
        ("salted", false,
          () => graft.operators.Skew.saltedJoin(large, small, "key",
            col("doc_id"), saltFactor = 16)))
      def run(df: DataFrame): Long = df.queryExecution.toRdd.count()
      joinRuns.foreach { case (_, skewOn, build) =>
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        run(build()) // warm
      }
      joinRuns.foreach { case (form, skewOn, build) =>
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        listener.reset()
        val t0 = System.nanoTime()
        val n = run(build())
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000)
        println(f"""{"query":"skew_join","form":"$form","scale":$k,"hot_pct":$hotPct,""" +
          f""""sec":$sec%.2f,"rows":$n,"max_task_ms":${listener.maxTaskMs.get},""" +
          f""""max_task_shuffle_rows":${listener.maxShuffleRows.get}}""")
      }
    }
    spark.stop()
  }
}
