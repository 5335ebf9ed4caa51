package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Incremental near-dedup against a persisted signature index — the
  * corpus-growth admission path. Three contracts:
  *  1. semantics: admitting a batch incrementally is indistinguishable from
  *     re-running the whole near-dedup from scratch on the union;
  *  2. history: dropped docs stay in the index as attractors, so a later
  *     near-dup of a dropped doc is itself dropped;
  *  3. physics: with the index persisted bucketed on `bucket`, the admission
  *     plan never re-partitions the index — only the new batch shuffles.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def fromScratchKeep(docs: DataFrame): DataFrame = {
    val cands = Dedup.lshCandidates(Dedup.lshBuckets(
      Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
    val drops = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
      .filter(col("jaccard") >= 0.8).select(col("doc_b").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti").select(col("doc_id"))
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  test("incremental admission equals from-scratch near-dedup on the union") {
    val docs = Tables.documents(spark, sf)
    val cut = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
      .head().getLong(0)
    val oldDocs = docs.filter(col("doc_id") < cut)
    val newDocs = docs.filter(col("doc_id") >= cut)
    assert(newDocs.count() > 0 && oldDocs.count() > 0)

    val index = Dedup.signatureIndex(oldDocs, col("text"), col("doc_id"))
    val incremental = ids(fromScratchKeep(oldDocs)) ++
      ids(Dedup.incrementalNearDup(newDocs, docs, index, col("text"), col("doc_id")))
    assert(incremental == ids(fromScratchKeep(docs)))
  }

  test("projection-form signature entries equal the aggregated index rows, shuffle-free") {
    val docs = Tables.documents(spark, sf)
    val agg = Dedup.signatureIndex(docs, col("text"), col("doc_id"))
    val proj = Dedup.signatureEntries(docs, col("text"), col("doc_id"))
    assert(agg.exceptAll(proj).isEmpty && proj.exceptAll(agg).isEmpty)
    // the admission path signs the new batch with no exchange at all
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signing must be a pure projection:\n$plan")
  }

  test("dropped docs stay in the index and attract later near-dups") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val fillers = Seq(
      (2L, "completely unrelated first filler document about spark physics"),
      (3L, "another unrelated filler text mentioning warehouses and parquet"))
    val b1 = (Seq((1L, text)) ++ fillers).toDF("doc_id", "text")
    val b2 = Seq((11L, text)).toDF("doc_id", "text")      // dup of 1 → dropped
    val b3 = Seq((21L, text)).toDF("doc_id", "text")      // dup of 1 AND 11

    val idx1 = Dedup.signatureIndex(b1, col("text"), col("doc_id"))
    val keep2 = ids(Dedup.incrementalNearDup(
      b2, b1.unionByName(b2), idx1, col("text"), col("doc_id")))
    assert(keep2 == Set.empty[Long]) // 11 dropped against 1

    // index grows by ALL of batch 2 (including the dropped 11)
    val idx2 = idx1.unionByName(
      Dedup.signatureEntries(b2, col("text"), col("doc_id")))
    val corpus = b1.unionByName(b2).unionByName(b3)
    val keep3 = ids(Dedup.incrementalNearDup(
      b3, corpus, idx2, col("text"), col("doc_id")))
    assert(keep3 == Set.empty[Long]) // 21 dropped — candidates with 1 and 11

    // and the two admissions together match from-scratch on the union
    val incremental = ids(fromScratchKeep(b1)) ++ keep2 ++ keep3
    assert(incremental == ids(fromScratchKeep(corpus)))
  }

  test("admission never re-partitions a bucketed index: only the new batch shuffles") {
    val docs = Tables.documents(spark, sf)
    val cut = 40L
    val oldDocs = docs.filter(col("doc_id") < cut)
    val newDocs = docs.filter(col("doc_id") >= cut)

    spark.sql("DROP TABLE IF EXISTS sig_idx")
    new scala.reflect.io.Directory(new java.io.File("spark-warehouse/sig_idx"))
      .deleteRecursively()
    Dedup.writeSignatureIndex(
      Dedup.signatureIndex(oldDocs, col("text"), col("doc_id")), "sig_idx",
      nBuckets = 4)
    // same rows as plain (un-bucketed) parquet — the only delta is layout
    val plainDir = tempDir("sig_plain").toString
    Dedup.signatureIndex(oldDocs, col("text"), col("doc_id"))
      .write.mode("overwrite").parquet(plainDir)

    val entries = Dedup.signatureEntries(newDocs, col("text"), col("doc_id"))
    def nShuffles(index: DataFrame): (Int, Set[(Long, Long)]) = {
      val cands = Dedup.incrementalCandidates(index, entries)
      val got = cands.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      val plan = cands.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==")(0)
      ("[+:]- Exchange ".r.findAllIn(plan).length, got)
    }
    val (nBucketed, gotBucketed) = nShuffles(spark.table("sig_idx"))
    val (nPlain, gotPlain) = nShuffles(spark.read.parquet(plainDir))
    assert(gotBucketed == gotPlain, "candidates must not depend on index layout")
    assert(nBucketed < nPlain,
      s"bucketed index still re-partitions: $nBucketed vs $nPlain exchanges")
    // the incremental candidates match what a from-scratch run would emit
    // for pairs touching the new batch (monotonic ids, no hot buckets here)
    val scratch = Dedup.lshCandidates(Dedup.lshBuckets(
        Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
      .filter(col("doc_b") >= cut)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(gotBucketed == scratch)

    spark.sql("DROP TABLE IF EXISTS sig_idx")
    new scala.reflect.io.Directory(new java.io.File("spark-warehouse/sig_idx"))
      .deleteRecursively()
  }
}
