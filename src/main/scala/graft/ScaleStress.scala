package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * Dedup-chain scale-stress harness: times the three headline dedup queries
 * (`dedup_lsh_candidates`, `dedup_near_keep`, `dedup_incremental`) against
 * the sf0.1 documents corpus self-unioned to 3× and 10×, through the EXACT
 * catalog code paths (the scaled corpus is written as a `documents.parquet`
 * dir and read back via `Queries.queries(name)(spark, dir)`).
 *
 * Corpus construction: copy `i` remaps `doc_id` by `i * idSpan` and rewrites
 * every token `w` to `w_cI` — an INJECTIVE per-copy token mapping. Injectivity
 * is the load-bearing property: within a copy every pairwise shingle-Jaccard
 * is exactly preserved (shingles map 1:1), so each copy carries the original
 * corpus's internal duplicate structure unchanged; across copies no shingle
 * is shared at all. Duplicate-pair density per row therefore stays CONSTANT
 * as the corpus grows. (An earlier draft salted the inter-word gaps with one
 * constant per-copy token — that token's shingles were shared by every doc in
 * the copy, inflating LSH candidate density ~500× and distorting the scaling
 * measurement in the too-hard direction.) That is the honest scaling
 * measurement: k× rows of representative data, not k² cross-copy pairs of a
 * degenerate all-duplicates corpus (which no dedup engine — including the
 * from-scratch oracle — scales linearly on, because the answer itself is
 * quadratic).
 *
 * Prints one JSON line per (scale, query) with wall seconds; run via
 *   sbt "runMain graft.ScaleStress"
 * Results are recorded in BASELINE.md's scale-stress table.
 */
object ScaleStress {

  // dedup chain (the round-6/7 focus) + the heavy window-count text
  // operators (r7 rewrite: one exploded frame + whole-partition window
  // counts — stressed here to prove the rewrite holds its linearity)
  private val queries = Seq("dedup_lsh_candidates", "dedup_near_keep",
    "dedup_incremental", "text_boilerplate", "text_lm_score",
    // r8 additions: the bounded-equi-join substring runs (pair structure
    // per-copy by injectivity) and the broadcast-model DSIR weights
    "text_substring_runs", "text_dsir_weights",
    // r9: the cut half — same bounded pair space + per-doc interval sweep
    "text_substring_cut",
    // r10: chunk-keeper election (hot-chunk min-struct agg + hash join
    // back; the boilerplate chunks get k× hotter per copy — exactly the
    // skew the map-side partial must absorb), canonical-URL dedup (the
    // synthesized key space is doc_id-mod-driven so it stays CONSTANT
    // under scaling: k× recrawl pressure per URL, the hot-key agg shape),
    // and the tf-idf chain (31-term vocab per copy-rewrite → k×31 terms,
    // per-doc windows unchanged)
    "dedup_paragraphs", "web_url_dedup", "text_tfidf_topk",
    // r10b: decontamination both ways — the bloom prefilter's prune rate
    // should WIDEN its lead as the train side grows (test side stays a
    // fixed fraction; every non-candidate train shingle dies map-side) —
    // and the v4 composition (chunk-dedup → decon → token budget)
    "text_contamination", "text_contamination_bloom", "corpus_pipeline_v4",
    // r11: from-scratch components (the cold side of the warm-admission
    // comparison below)
    "dedup_components")

  def scaledCorpus(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = Tables.documents(spark, baseDir)
    val idSpan = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until k).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * idSpan)).as("doc_id"),
        // injective token rewrite: copy-local shingles, Jaccard preserved
        regexp_replace(col("text"), "(\\S+)", s"$$1_c$i").as("text"),
        // lang/source survive the rewrite so distribution-conditioned
        // operators (text_dsir_weights targets the English slice, the web
        // rows key URLs on source) stress unchanged; n_chars recomputed
        // from the rewritten text (the ScaleAll rule)
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "(\\S+)", s"$$1_c$i")).cast("long")
          .as("n_chars"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", "/tmp/graft-scale-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a killed prior run leaves index-table locations the fresh session's
    // catalog doesn't know about — DROP IF EXISTS is then a no-op and the
    // CTAS fails on LOCATION_ALREADY_EXISTS, so clear the warehouse first
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File("/tmp/graft-scale-warehouse"))

    // warm up codegen/JVM so the 1x numbers aren't absorbing startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    Queries.queries("dedup_near_keep")(spark, baseDir).count()

    val scales = Seq(1, 3, 10)
    val results = scales.flatMap { k =>
      val dir =
        if (k == 1) baseDir
        else {
          val d = s"/tmp/graft-scale-${k}x"
          scaledCorpus(spark, baseDir, k).coalesce(cpus.toInt)
            .write.mode("overwrite").parquet(s"$d/documents.parquet")
          d
        }
      queries.map { name =>
        val t0 = System.nanoTime()
        val n = Queries.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"scale":$k,"query":"$name","sec":$sec%.2f,"rows":$n}""")
        (k, name, sec)
      } :+ {
        // The production incremental shape: the catalog's `dedup_incremental`
        // rebuilds the signature index in-query every run (at 10× that build
        // is ~80 % of its wall time — BASELINE.md "Dedup scale-stress"), but
        // at real scale the index and the corpus shingle store are
        // persisted, append-only artifacts. Build both OUTSIDE the timer,
        // then time only the unit of incremental work: sign the new batch,
        // find candidates against the bucketed index, verify, keep.
        val docs = Tables.documents(spark, dir)
        val cut = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
          .head().getLong(0)
        val oldDocs = docs.filter(col("doc_id") < cut)
        val newDocs = docs.filter(col("doc_id") >= cut)
        val tbl = s"scale_stress_idx_${k}x"
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        Dedup.writeSignatureIndex(
          Dedup.signatureEntries(oldDocs, col("text"), col("doc_id")), tbl)
        val shingleStore =
          Dedup.shingleSets(docs, col("text"), col("doc_id")).localCheckpoint()
        val t0 = System.nanoTime()
        val n = Dedup.incrementalNearDup(newDocs, docs, spark.table(tbl),
          col("text"), col("doc_id"), corpusShingles = Some(shingleStore)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"scale":$k,"query":"incr_warm_admit","sec":$sec%.2f,"rows":$n}""")
        (k, "incr_warm_admit", sec)
      } :+ {
        // r11: warm COMPONENTS admission — the label artifact is persisted
        // (computed outside the timer, like the index and shingle store);
        // the timed unit is sign-batch → candidates → verify → star rounds
        // over the CONTRACTED batch graph → broadcast remap of the artifact.
        // Compare against the cold `dedup_components` row above: the warm
        // path must be a small fraction of recompute, and its wall must
        // scale with the BATCH, not the corpus.
        val docs = Tables.documents(spark, dir)
        val cut = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
          .head().getLong(0)
        val oldDocs = docs.filter(col("doc_id") < cut)
        val newDocs = docs.filter(col("doc_id") >= cut)
        val tbl = s"scale_stress_cidx_${k}x"
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        Dedup.writeSignatureIndex(
          Dedup.signatureEntries(oldDocs, col("text"), col("doc_id")), tbl)
        val index = spark.table(tbl)
        val shingleStore =
          Dedup.shingleSets(docs, col("text"), col("doc_id")).localCheckpoint()
        val oldEdges = Dedup.ngramJaccardOnShingles(
            Dedup.lshCandidates(index), shingleStore)
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        val labelArtifact = Dedup.connectedComponents(
            oldDocs.select(col("doc_id").as("id")), oldEdges).localCheckpoint()
        val t0 = System.nanoTime()
        val entries = Dedup.signatureEntries(newDocs, col("text"), col("doc_id"))
          .localCheckpoint()
        val newEdges = Dedup.ngramJaccardOnShingles(
            Dedup.incrementalCandidates(index, entries), shingleStore)
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        val n = Dedup.admitComponents(labelArtifact,
          newDocs.select(col("doc_id").as("id")), newEdges).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"scale":$k,"query":"components_warm_admit","sec":$sec%.2f,"rows":$n}""")
        (k, "components_warm_admit", sec)
      } :+ {
        // r11: rounds-to-convergence telemetry for the star rewrites on the
        // FULL corpus dup graph (BASELINE.md's growth table) — round count,
        // not wall, is what grows if the algorithm degrades with corpus
        // size (O(log² n) expected: flat-to-tiny growth per 10×).
        val docs = Tables.documents(spark, dir)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val dupPairs = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8)
          .select(col("doc_a"), col("doc_b"))
        val t0 = System.nanoTime()
        // maxLocalEdges=0 forces the star rounds: this probe measures the
        // DISTRIBUTED algorithm's round growth, which the driver union-find
        // tier would otherwise absorb at these scales
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(
          docs.select(col("doc_id").as("id")), dupPairs, maxLocalEdges = 0L)
        val n = labels.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"scale":$k,"query":"components_rounds","sec":$sec%.2f,""" +
          f""""rows":$n,"rounds":$rounds}""")
        (k, "components_rounds", sec)
      }
    }
    // summary: per-row scaling ratio vs 1x, and incremental-vs-keep ratios
    // (cold = catalog query incl. in-query index rebuild; warm = persisted
    // index + shingle store, batch admission only)
    val t = results.map { case (k, q, s) => (k, q) -> s }.toMap
    scales.filter(_ > 1).foreach { k =>
      (queries ++ Seq("incr_warm_admit", "components_warm_admit")).foreach { q =>
        println(f"""{"summary":"per_row_ratio","query":"$q","scale":$k,""" +
          f""""ratio":${t((k, q)) / (t((1, q)) * k)}%.2f}""")
      }
      println(f"""{"summary":"incr_cold_vs_keep","scale":$k,""" +
        f""""ratio":${t((k, "dedup_incremental")) / t((k, "dedup_near_keep"))}%.2f}""")
      println(f"""{"summary":"incr_warm_vs_keep","scale":$k,""" +
        f""""ratio":${t((k, "incr_warm_admit")) / t((k, "dedup_near_keep"))}%.2f}""")
      println(f"""{"summary":"components_warm_vs_cold","scale":$k,""" +
        f""""ratio":${t((k, "components_warm_admit")) / t((k, "dedup_components"))}%.2f}""")
    }
    spark.stop()
  }
}
