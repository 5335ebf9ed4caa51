package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StatefulOps

/**
 * [[StatefulOps.softDedupStream]] — streaming cluster-weight maintenance
 * (the streaming analogue of the batch `dedup_soft_weights` row): arriving
 * near-duplicates join per-bucket clusters, and the weights of EARLIER
 * members are re-emitted as their cluster grows. Parity contract: a replay
 * of the same rows equals an independent transitive closure over the same
 * pairwise signature relation, per bucket.
 */
class StreamingSoftDedupSpec extends SparkSpec {
  import spark.implicits._

  private def latest(table: String) =
    spark.table(table)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("bkey"), col("doc_id"))
          .orderBy(col("upd_seq").desc)))
      .filter(col("rn") === 1)
      .select("bkey", "doc_id", "cluster_id", "cluster_size", "weight_scaled")

  test("cluster growth re-emits shrunken weights for earlier members") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val out = StatefulOps.softDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("soft_out")
      .option("checkpointLocation", tempDir("soft-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base + " bank")); q.processAllAvailable()
      val w1 = latest("soft_out").filter(col("doc_id") === 1L)
        .select("weight_scaled").as[Long].collect().toSet
      assert(w1 == Set(1048576L), s"singleton weight must be 2^20, got $w1")
      // a near-copy arrives a LATER batch: doc 1's weight must be refreshed
      input.addData((2L, base + " bend")); q.processAllAvailable()
      val rows = latest("soft_out")
        .select("doc_id", "cluster_id", "cluster_size", "weight_scaled")
        .as[(Long, Long, Long, Long)].collect().toSet
      // every bucket doc1 and doc2 share: cluster 1 of size 2, weight halved
      val shared = rows.filter(_._3 == 2L)
      assert(shared.nonEmpty, s"no shared-bucket cluster grew: $rows")
      shared.foreach { case (_, cid, n, w) =>
        assert(cid == 1L && n == 2L && w == 524288L, rows.toString)
      }
      assert(shared.map(_._1) == Set(1L, 2L),
        s"both members must carry the refreshed weight: $rows")
    } finally q.stop()
  }

  test("single-batch replay ≡ independent per-bucket transitive closure") {
    implicit val sqlCtx = spark.sqlContext
    // 4 near-dup families × 4 members + 4 singletons; suffix variations keep
    // within-family est-jaccard high and across-family overlap nil
    val fam = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "solar lunar stellar nebula quasar pulsar comet meteor orbit axis",
      "maple birch cedar spruce willow aspen poplar alder rowan yew",
      "copper bronze silver golden nickel cobalt carbon silicon boron argon")
    val docs: Seq[(Long, String)] =
      (for ((f, fi) <- fam.zipWithIndex; j <- 0 until 4)
        yield ((fi * 10 + j).toLong, f + " tail" + j)) ++
      (100L until 104L).map(i => (i, s"lone document number $i about topic ${i * 7}"))
    val input = MemoryStream[(Long, String)]
    val out = StatefulOps.softDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minEstJaccard = 0.5, maxPerBucket = 1024)
    val q = out.writeStream.format("memory").queryName("softpar_out")
      .option("checkpointLocation", tempDir("softp-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*); q.processAllAvailable()
      val got = latest("softpar_out")
        .select("bkey", "doc_id", "cluster_id", "cluster_size", "weight_scaled")
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

      // independent reference: batch signature entries → per-bucket pairwise
      // relation → transitive closure (order-free union-find)
      val entries = graft.operators.Dedup
        .signatureEntries(docs.toDF("doc_id", "text"), col("text"), col("doc_id"),
          keepSig = true)
        .select(concat_ws(":", col("band"), col("bucket")).as("bkey"),
          col("doc_id"), col("sig"))
        .as[(String, Long, Seq[Long])].collect()
      val expected = entries.groupBy(_._1).flatMap { case (bkey, rows) =>
        val ms = rows.map(r => r._2 -> r._3).sortBy(_._1)
        val parent = scala.collection.mutable.Map(ms.map(m => m._1 -> m._1): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        ms.toSeq.combinations(2).foreach { pair =>
          val (a, sa) = pair(0)
          val (b, sb) = pair(1)
          if (sa.zip(sb).count { case (x, y) => x == y }.toDouble / 16 >= 0.5) {
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
        }
        val roots = ms.toSeq.map { case (d, _) => d -> find(d) }
        val sizes = roots.groupBy(_._2).map { case (r, xs) => r -> xs.size.toLong }
        roots.map { case (d, r) =>
          (bkey, d) -> ((r, sizes(r), 1048576L / sizes(r)))
        }
      }.toMap
      assert(got.keySet == expected.keySet,
        s"coverage differs: missing=${expected.keySet -- got.keySet} " +
          s"extra=${got.keySet -- expected.keySet}")
      val diffs = expected.collect {
        case (k, v) if got(k) != v => (k, v, got(k))
      }
      assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    } finally q.stop()
  }

  test("bucket cap: overflow docs get a verdict and count toward the size") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val out = StatefulOps.softDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxPerBucket = 1)
    val q = out.writeStream.format("memory").queryName("softcap_out")
      .option("checkpointLocation", tempDir("softc-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base)); q.processAllAvailable()
      input.addData((2L, base)); q.processAllAvailable()
      input.addData((3L, base)); q.processAllAvailable()
      val rows = latest("softcap_out")
        .select("doc_id", "cluster_id", "cluster_size", "weight_scaled")
        .as[(Long, Long, Long, Long)].collect().toSet
      // all three cluster at root 1; overflow docs 2 and 3 counted the size
      // up to 3 even though only doc 1 is resident
      assert(rows.map(_._1) == Set(1L, 2L, 3L), rows.toString)
      rows.foreach { case (_, cid, _, _) => assert(cid == 1L, rows.toString) }
      val docRows = rows.groupBy(_._1)
      // doc 1 (resident) is re-emitted every touch, so its final size is 3;
      // overflow rows carry the size AS OF their arrival
      assert(docRows(1L).exists(r => r._3 == 3L && r._4 == 1048576L / 3),
        rows.toString)
    } finally q.stop()
  }

  test("redelivered overflow doc does not re-inflate its cluster's size") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val out = StatefulOps.softDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", maxPerBucket = 1)
    val q = out.writeStream.format("memory").queryName("softredel_out")
      .option("checkpointLocation", tempDir("softr-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base)); q.processAllAvailable()
      input.addData((2L, base)); q.processAllAvailable() // overflow, links → size 2
      input.addData((2L, base)); q.processAllAvailable() // at-least-once replay
      val rows = latest("softredel_out")
        .select("doc_id", "cluster_size").as[(Long, Long)].collect().toMap
      // without the recent-overflow guard the replay of doc 2 would count
      // the cluster up to 3 (StatefulOps advice item, round 12)
      assert(rows(1L) == 2L && rows(2L) == 2L, rows.toString)
    } finally q.stop()
  }

  test("non-linking overflow doc is a zero-footprint singleton emission") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog near the river"
    // minEstJaccard > 1 means NOTHING can link: every doc after the first
    // resident takes the non-linking-overflow path in its shared buckets
    val out = StatefulOps.softDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minEstJaccard = 1.01, maxPerBucket = 1)
    val q = out.writeStream.format("memory").queryName("softsing_out")
      .option("checkpointLocation", tempDir("softs-cp").toString)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, base)); q.processAllAvailable()
      input.addData((2L, base)); q.processAllAvailable()
      val rows = latest("softsing_out")
        .select("doc_id", "cluster_id", "cluster_size", "weight_scaled")
        .as[(Long, Long, Long, Long)].collect().toSet
      // both docs are size-1 full-weight singletons rooted at themselves
      assert(rows.map(_._1) == Set(1L, 2L), rows.toString)
      rows.foreach { case (d, cid, n, w) =>
        assert(cid == d && n == 1L && w == 1048576L, rows.toString)
      }
    } finally q.stop()
  }
}
