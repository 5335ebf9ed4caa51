package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Learn, Similarity, TextOps}

/**
 * Fixture-persisted serving artifacts for the `*_served` catalog rows — the
 * warm half of the train-once/serve-many ladder the operator layer exposes
 * (`Similarity.writeCodebook`/`writeCoarse`, `TextOps.writeBpeVocab`,
 * `Learn.writeWeights`, persisted signature index / component labels).
 *
 * The catalog's honest-recompute convention makes every heavy row retrain
 * its model inside the query, which measures TRAINING; these builders
 * materialize the trained artifact ONCE per (sf-dir, family) per JVM —
 * deterministically, at catalog-construction time (the `dedup_incremental`
 * eager precedent) — so the `*_served` rows' returned frames are pure
 * serving plans over reloaded artifacts, gated on the SAME oracles as their
 * training twins. Under Bench's min-of-2-runs discipline the first run pays
 * build+serve (visible in `queries_run1`), the min run measures warm
 * serving — both shapes land in the artifact, per the round-11 verdict.
 *
 * Determinism: every trainer in the ladder is integer-exact on the
 * quantized/md5-hash domain, so artifact bytes are a pure function of the
 * input dir and parquet round-trips are lossless (longs/strings end to
 * end) — which is why a served row equals its training twin.
 *
 * Artifacts live and die with the JVM that built them: each JVM builds into
 * its own root and deletes it at exit, so no process ever serves an
 * artifact that another process (or older code) built.
 */
object Artifacts {
  private val memo = scala.collection.concurrent.TrieMap.empty[String, Any]

  private def cached[A](key: String)(build: => A): A =
    memo.getOrElseUpdate(key, build).asInstanceOf[A]

  /** This JVM's artifact root, `<java.io.tmpdir>/graft-artifacts-*`,
    * created on first use and deleted when the JVM exits: no artifact
    * outlives the process (and so the code) that built it. */
  private lazy val jvmRoot: Path = {
    val r = Files.createTempDirectory("graft-artifacts-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(r)))
    r
  }

  /** Builds one family's artifacts into a fresh directory under
    * [[jvmRoot]] and returns its path. Every build gets its own directory,
    * so concurrent or retried builds never share files. */
  private def built(family: String)(build: String => Unit): String = {
    val dir = Files.createTempDirectory(jvmRoot, family).toString
    build(dir)
    dir
  }

  private def deleteRec(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p): Unit)
    finally paths.close()
  }

  /** IVF-PQ serving index over the embeddings table — same hyperparameters
    * as the `sim_ivfpq_topk` training row (m=4, ksub=16, iters=2,
    * nCells=16). Returns (coarsePath, codebookPath, packedCodesPath). */
  def ivfPq(s: SparkSession, d: String): (String, String, String) =
    cached(s"ivfpq:$d") {
      val r = built("ivfpq") { out =>
        val emb = Tables.embeddings(s, d)
        val (coarse, pqc, codes) = Similarity.ivfPqIndexBuild(
          emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 2, nCells = 16)
        Similarity.writeCoarse(coarse, s"$out/coarse")
        Similarity.writeCodebook(pqc, s"$out/codebook")
        Similarity.packCodes(codes).write.mode("overwrite").parquet(s"$out/codes")
      }
      (s"$r/coarse", s"$r/codebook", s"$r/codes")
    }

  /** Near-dedup admission state over the lowest-4/5-of-ids corpus slice
    * (the same batch boundary as the `dedup_*_incremental` rows): the
    * signature index, the component-label artifact, and the old-side
    * keep list. Returns (cut, indexPath, labelsPath, oldKeepPath) —
    * cut = -1 marks an empty corpus (no artifacts written).
    *
    * Plain parquet, not the bucketed `writeSignatureIndex` table: the
    * bucket-co-location property is pinned in IncrementalDedupSpec against
    * a real bucketed table; catalog rows avoid shared-metastore table
    * names so parallel harnesses can't collide. */
  def dedupIndex(s: SparkSession, d: String): (Long, String, String, String) =
    cached(s"dedup:$d") {
      val docs = Tables.documents(s, d)
      val cutBoxed = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
        .head().getAs[java.lang.Long](0)
      if (cutBoxed == null) (-1L, "", "", "")
      else {
        val cut = cutBoxed.longValue()
        val r = built("dedup") { out =>
          val oldDocs = docs.filter(col("doc_id") < cut)
          val index = Dedup.signatureIndex(oldDocs, col("text"), col("doc_id"))
            .localCheckpoint()
          val shingles = Dedup.shingleSets(docs, col("text"), col("doc_id"))
            .localCheckpoint()
          val oldEdges = Dedup.ngramJaccardOnShingles(
              Dedup.lshCandidates(index), shingles)
            .filter(col("jaccard") >= 0.8)
            .select(col("doc_a"), col("doc_b")).localCheckpoint()
          index.write.mode("overwrite").parquet(s"$out/index")
          Dedup.connectedComponents(oldDocs.select(col("doc_id").as("id")), oldEdges)
            .write.mode("overwrite").parquet(s"$out/labels")
          oldDocs.select(col("doc_id"))
            .join(oldEdges.select(col("doc_b").as("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
            .write.mode("overwrite").parquet(s"$out/old_keep")
        }
        (cut, s"$r/index", s"$r/labels", s"$r/old_keep")
      }
    }

  /** Trained BPE vocabulary (3 merges, the `text_bpe_train` parameters),
    * persisted via the vocab artifact and reloaded into [[TextOps.bpeEncode]]'s
    * ordered literal rule form. */
  def bpeRules(s: SparkSession, d: String): Seq[(String, String)] =
    cached(s"bpe:$d") {
      val r = built("bpe") { out =>
        TextOps.writeBpeVocab(
          TextOps.bpeTrain(Tables.documents(s, d), col("text"), merges = 3),
          s"$out/vocab")
      }
      TextOps.readBpeVocab(s, s"$r/vocab")
    }

  /** Trained perceptron weights (16 iterations, the `learn_perceptron`
    * parameters), persisted via the weight artifact and reloaded —
    * validated against the feature layout — into [[Learn.scoreStatic]]'s
    * literal form. */
  def perceptronWeights(s: SparkSession, d: String): Array[Long] =
    cached(s"perceptron:$d") {
      val r = built("learn") { out =>
        val feats = Learn.markerFeatures(Tables.documents(s, d),
          col("doc_id"), col("text"))
        Learn.writeWeights(s, s"$out/weights",
          Learn.perceptronWeights(feats, iters = 16).toSeq)
      }
      Learn.readWeights(s, s"$r/weights")
    }

  /** The catalog's pinned label-spread TRAINING chain (k=5 LSH kNN graph →
    * symmetrized distinct edges → 10% audited seeds → 2 synchronous
    * majority rounds) — ONE definition shared by the `graph_label_spread`
    * row, the incremental row's base labeling, and the served artifact
    * builder, so the hyperparameters cannot drift between the three (the
    * clfWeights one-source-of-truth convention). */
  def labelSpreadChain(emb: DataFrame): DataFrame = {
    val g = Similarity.knnGraph(emb, "vec_id", "embedding",
      k = 5, nBands = 4, rowsPerBand = 2, dim = 64)
      .select(col("src_id"), col("dst_id")).localCheckpoint()
    val edges = g.select(col("src_id").as("src"), col("dst_id").as("dst"))
      .union(g.select(col("dst_id").as("src"), col("src_id").as("dst")))
      .distinct()
    val seeds = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("node"), col("label"))
    graft.operators.Graph.labelPropagate(edges, seeds, rounds = 2)
  }

  /** Propagated corpus labeling over the embedding kNN graph — the
    * [[labelSpreadChain]] result persisted once so downstream joins serve
    * the labeling as a plain parquet scan instead of re-running graph
    * construction + propagation per query. All-integer columns
    * (node/label/is_seed/origin_round) round-trip losslessly. */
  def labelSpread(s: SparkSession, d: String): String =
    cached(s"labelspread:$d") {
      val r = built("labelspread") { out =>
        labelSpreadChain(Tables.embeddings(s, d))
          .write.mode("overwrite").parquet(s"$out/labels")
      }
      s"$r/labels"
    }

  /** Entity-resolution master blocking index
    * ([[Dedup.entityBlockingIndex]]) over the CLEAN customer records —
    * the persisted snapshot the CDC record-linkage serving path
    * (`StatefulOps.entityMatchStream`, batch `Dedup.entityMatchAgainst`)
    * equi-joins arriving dirty records against. Same segment scheme and
    * hot-key cap as the `dedup_entity_*` catalog rows; (key, id, name)
    * strings round-trip losslessly. */
  def entityIndex(s: SparkSession, d: String): String =
    cached(s"entityidx:$d") {
      val r = built("entityidx") { out =>
        val base = Tables.customer(s, d).select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          concat_ws(":", col("c_nationkey").cast("string"),
            col("c_mktsegment")).as("blk"))
        Dedup.entityBlockingIndex(base, col("id"), col("name"), col("blk"),
            Queries.entityPieces, maxKeySize = 64)
          .write.mode("overwrite").parquet(s"$out/index")
      }
      s"$r/index"
    }

  /** Entity-resolution LABEL artifact: the (id, entity_id) mapping from
    * the dedup_entity_resolve training chain ([[Dedup.entityResolve]] —
    * blocking → levenshtein → transitive components) over the canonical
    * dirty customer corpus, persisted once per sf-dir. The corpus is
    * DERIVED here (Queries.dirtyCustomers), never passed in, so the cache
    * key (sf-dir) and the trained corpus can't diverge (r14 self-review
    * find). At 100 TB this is the piece worth persisting: the sf10 bench
    * showed the components solve crossing the local union-find tier into
    * distributed star rounds (41 s); the SERVED row's election over this
    * artifact is a join + window. */
  def entityLabels(s: SparkSession, d: String): String =
    cached(s"entitylabels:$d") {
      val r = built("entitylabels") { out =>
        val dirty = Queries.dirtyCustomers(s, d)
        Dedup.entityResolve(dirty, col("id"), col("name"), col("blk"),
            Queries.entityPieces, maxDist = 2, maxKeySize = 64)
          .write.mode("overwrite").parquet(s"$out/labels")
      }
      s"$r/labels"
    }

  /** Per-sf-dir synthesized MEDIA PAYLOAD fixture (verdict-r16 item 1):
    * the GVID/GIMG content schedules of the four container-decoding media
    * rows ([[MediaFixtures]]) materialized ONCE as parquet — (doc_id,
    * payload binary) per table — so every phash/cross/video bench run
    * measures decode + bucket-join instead of re-paying the three
    * checkpointed synthesis stages (~1.85M frames at sf10) and their GC.
    * A real deployment reads payloads from storage; this fixture IS that
    * storage. Binary columns round-trip parquet byte-exactly and the
    * schedules are deterministic functions of `documents`. Returns the
    * fixture root; tables: vnd_videos, vimatch_videos/images,
    * cross_videos/images, phash_videos/images, phashy_videos/images. */
  def mediaPayloads(s: SparkSession, d: String): String =
    cached(s"media:$d") {
      built("media") { out =>
        def write(df: DataFrame, name: String): Unit =
          df.write.mode("overwrite").parquet(s"$out/$name")
        write(MediaFixtures.vndVideos(s, d), "vnd_videos")
        val (vmv, vmi) = MediaFixtures.vimatchPair(s, d)
        write(vmv, "vimatch_videos"); write(vmi, "vimatch_images")
        val (cv, ci) = MediaFixtures.crossPair(s, d)
        write(cv, "cross_videos"); write(ci, "cross_images")
        val (pv, pi) = MediaFixtures.phashPair(s, d)
        write(pv, "phash_videos"); write(pi, "phash_images")
        val (pyv, pyi) = MediaFixtures.phashYPair(s, d)
        write(pyv, "phashy_videos"); write(pyi, "phashy_images")
      }
    }

  /** ANN-eval serving artifacts (verdict-r16 item 4): the trained/derived
    * corpus-side state of the `eval_recall_map_ann` ladder's three
    * retrain-per-run tiers, persisted once per sf-dir so the `_served`
    * twin greets each query batch with pure lookups:
    *
    *  - `lsh_corpus` — (vec_id, bucket) hyperplane-LSH assignments
    *    (nPlanes = 8, the `sim_recall_lsh` parameters). The planes
    *    themselves are md5-derived plan constants; what costs at corpus
    *    scale is the per-vector 8×dim projection pass — that is what the
    *    artifact caches;
    *  - `ivf_centroids` — (cell_id, cellv) spherical k-means cells
    *    (nCells = 16, 2 Lloyd iterations — `sim_recall_ivf`'s defaults);
    *  - `ivf_corpus` — (cell_id, corpus_id) nearest-cell assignments
    *    against those centroids (the inverted lists);
    *  - `pq_codebook` / `pq_codes` — the raw-vector PQ coder (m = 4,
    *    ksub = 16, 2 iters — distinct from [[ivfPq]]'s RESIDUAL codebook)
    *    and each vector's codes.
    *
    * Everything integer/md5-deterministic or decimal-routed, so parquet
    * round-trips are lossless and the served tiers are bit-identical to
    * their training twins (one oracle gates both). */
  def annEval(s: SparkSession, d: String): String =
    cached(s"anneval:$d") {
      built("anneval") { out =>
        val emb = Tables.embeddings(s, d)
        emb.select(col("vec_id"),
            Similarity.lshBucket(Similarity.asDouble(col("embedding")), 8)
              .as("bucket"))
          .write.mode("overwrite").parquet(s"$out/lsh_corpus")
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          16, 2).localCheckpoint()
        cents.select(col("cell_id").cast("int").as("cell_id"), col("cellv"))
          .repartition(1).sortWithinPartitions("cell_id")
          .write.mode("overwrite").parquet(s"$out/ivf_centroids")
        Similarity.assignCells(emb, cents, "vec_id", "embedding")
          .select(col("cell_id"), col("vec_id").as("corpus_id"))
          .write.mode("overwrite").parquet(s"$out/ivf_corpus")
        val pqc = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2).localCheckpoint()
        Similarity.writeCodebook(pqc, s"$out/pq_codebook")
        Similarity.pqEncode(emb, pqc, "vec_id", "embedding", m = 4)
          .write.mode("overwrite").parquet(s"$out/pq_codes")
      }
    }

  /** Seasonal (user, hour-of-day) profile over the events table — exact
    * (sum, count) longs per cell ([[graft.operators.TimeSeries
    * .seasonalProfile]]), the persisted norm the streaming anomaly scorer
    * stream-static-joins against. */
  def seasonalProfile(s: SparkSession, d: String): String =
    cached(s"seasonal:$d") {
      val r = built("seasonal") { out =>
        graft.operators.TimeSeries.seasonalProfile(Tables.events(s, d),
            col("user_id"), hour(col("ts")), col("value"), 1000L)
          .write.mode("overwrite").parquet(s"$out/profile")
      }
      s"$r/profile"
    }

  /** Persisted per-key changepoint baseline — (k, s_num, s_cnt) exact
    * longs from [[graft.operators.TimeSeries.keyProfile]]: the CUSUM
    * scorer's static side (train the baseline once per corpus snapshot;
    * batch re-scores and the streaming `cusumStream` both join it). */
  def keyProfile(s: SparkSession, d: String): String =
    cached(s"keyprofile:$d") {
      val r = built("keyprofile") { out =>
        graft.operators.TimeSeries.keyProfile(Tables.events(s, d),
            col("user_id"), col("value"), 1000L)
          .write.mode("overwrite").parquet(s"$out/profile")
      }
      s"$r/profile"
    }
}
