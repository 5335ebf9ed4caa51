package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** kNN graph over LSH candidates + the fixed-point density gate. */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private def randCorpus(n: Int, dim: Int, seed: Int = 11) = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Seq.fill(dim)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
  }

  test("knnGraph: every edge is a same-bucket candidate, ranked by cosine desc with id ties") {
    val corpus = randCorpus(80, 16)
    val g = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 3,
      nBands = 4, rowsPerBand = 2, dim = 16)
      .collect()
    // rank is 1..k dense per src, ordered by cosine desc
    val bySrc = g.groupBy(_.getLong(0))
    bySrc.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val cosines = sorted.map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sortBy(-_))
    }
    // no self-edges, no duplicate (src, dst)
    assert(g.forall(r => r.getLong(0) != r.getLong(2)))
    val pairs = g.map(r => (r.getLong(0), r.getLong(2)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("knnGraph: static-fold form is bit-identical to the windowed reference form") {
    // the r18 static-LUT knnGraph (first-generating-band dedup, collected
    // cell stats) against knnGraphJoined (Window bsize/anchor + distinct):
    // same rows on (a) a random corpus with cross-band duplicates (4 bands
    // over 4 buckets/band guarantees heavy multi-band collisions), (b) an
    // all-identical corpus over the cap (pure star lanes), (c) a mixed
    // corpus where the same pair is clique in one band and star in another
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).sortBy(identity).toSeq
    val rand = randCorpus(150, 16)
    assert(canon(Similarity.knnGraph(rand, "vec_id", "embedding", 5,
        nBands = 4, rowsPerBand = 2, dim = 16)) ==
      canon(Similarity.knnGraphJoined(rand, "vec_id", "embedding", 5,
        nBands = 4, rowsPerBand = 2, dim = 16)))
    val ident = (0L until 40L).map(i => (i, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    assert(canon(Similarity.knnGraph(ident, "vec_id", "embedding", 5,
        nBands = 2, rowsPerBand = 2, dim = 8, maxBucketSize = 8)) ==
      canon(Similarity.knnGraphJoined(ident, "vec_id", "embedding", 5,
        nBands = 2, rowsPerBand = 2, dim = 8, maxBucketSize = 8)))
    // mixed lanes: 20 identical vectors (over an 8-cap wherever they land
    // together) + 40 random (small cells); a cross pair can be star at one
    // band and clique at another, exercising the per-band lane term of the
    // first-generating-band predicate
    val mixed = ((0L until 20L).map(i => (i, Seq.fill(16)(1.0f))) ++
      randCorpus(40, 16, seed = 5).as[(Long, Seq[Float])].collect()
        .map { case (i, v) => (i + 100L, v) }).toDF("vec_id", "embedding")
    assert(canon(Similarity.knnGraph(mixed, "vec_id", "embedding", 4,
        nBands = 4, rowsPerBand = 2, dim = 16, maxBucketSize = 8)) ==
      canon(Similarity.knnGraphJoined(mixed, "vec_id", "embedding", 4,
        nBands = 4, rowsPerBand = 2, dim = 16, maxBucketSize = 8)))
    // md5 bucket variant (dim <= 0) rides the same LUT path
    assert(canon(Similarity.knnGraph(rand, "vec_id", "embedding", 3,
        nBands = 2, rowsPerBand = 2)) ==
      canon(Similarity.knnGraphJoined(rand, "vec_id", "embedding", 3,
        nBands = 2, rowsPerBand = 2)))
  }

  test("knnGraph: a cell space over the 4096-cell cap fails before any Spark job") {
    // 1·2^13 cells; the input throws if any job evaluates it, so only the
    // up-front check can raise IllegalArgumentException
    val poisoned = spark.range(4).select(col("id").as("vec_id"),
      udf((id: Long) =>
        if (id >= 0) throw new IllegalStateException("a Spark job ran")
        else Seq(0f)).apply(col("id")).as("embedding"))
    val e = intercept[IllegalArgumentException](Similarity.knnGraph(poisoned,
      "vec_id", "embedding", 5, nBands = 1, rowsPerBand = 13, dim = 8))
    assert(e.getMessage.contains("4096"))
  }

  test("knnGraph recall vs brute-force graph is reasonable on random vectors") {
    val corpus = randCorpus(120, 16)
    val approx = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 5,
      nBands = 4, rowsPerBand = 2, dim = 16)
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineTopK(corpus, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 4 bands × 2 planes keeps ~half the corpus as candidates per doc here;
    // floor pinned well below measured so the spec flags collapse, not noise
    assert(recall >= 0.5, s"recall $recall")
  }

  test("knnGraphRefined: one NN-descent round lifts recall vs brute force, never degrades") {
    val corpus = randCorpus(120, 16)
    def recallOf(g: Set[(Long, Long)], exact: Set[(Long, Long)]) =
      (exact intersect g).size.toDouble / exact.size
    val exact = Similarity.cosineTopK(corpus, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val base = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 5,
        nBands = 4, rowsPerBand = 2, dim = 16)
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.knnGraphRefined(corpus, "vec_id", "embedding",
        k = 5, nBands = 4, rowsPerBand = 2, dim = 16, rounds = 1)
      .select("src_id", "dst_id").as[(Long, Long)].collect().toSet
    val (rBase, rRef) = (recallOf(base, exact), recallOf(refined, exact))
    info(f"recall@5: base $rBase%.3f -> refined $rRef%.3f")
    // monotone: the round unions current edges before re-ranking, and every
    // replacement has strictly higher cosine, so per-query recall of the
    // TRUE top-k can only stay or rise... measured uplift must be real on
    // random vectors where LSH recall has headroom
    assert(rRef >= rBase, f"refinement degraded recall $rBase%.3f -> $rRef%.3f")
    assert(rRef > rBase + 0.02,
      f"expected a measurable uplift, got $rBase%.3f -> $rRef%.3f")
    // graph shape invariants survive refinement
    val g2 = Similarity.knnGraphRefined(corpus, "vec_id", "embedding", k = 5,
      nBands = 4, rowsPerBand = 2, dim = 16, rounds = 1).collect()
    g2.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
    }
    assert(g2.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("nnDescentRound: candidate space stays bounded under a hub node") {
    // star corpus: vector 0 is a hub similar to everyone; the reverse-side
    // cap (k per node) must keep the expansion from going quadratic.
    // 200 spokes nearly parallel to the hub direction, tiny per-spoke noise.
    val rng = new scala.util.Random(7)
    val dim = 8
    val hub = Seq.fill(dim)(1.0f)
    val corpus = ((0L, hub) +: (1L until 201L).map { i =>
      (i, hub.zipWithIndex.map { case (x, j) =>
        x + (if (j == (i % dim).toInt) 0.2f * (rng.nextFloat() - 0.5f) else 0f) })
    }).toDF("vec_id", "embedding")
    val vectors = corpus
      .select(col("vec_id").as("id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("n", graft.operators.Similarity.norm(col("v")))
    val g = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 5,
      nBands = 4, rowsPerBand = 2, dim = dim).localCheckpoint()
    val refined = Similarity.nnDescentRound(g, vectors, k = 5)
    val rows = refined.count()
    // output is ≤ k per src by construction; the property that matters is
    // the run completes with bounded intermediate pair space — assert the
    // output contract and per-src cap
    assert(rows <= 201L * 5)
    val perSrc = refined.groupBy("src_id").count()
      .agg(max("count")).head().getLong(0)
    assert(perSrc <= 5)
  }

  test("knnGraph: identical-vector corpus over the cap degrades to the anchor star (bounded pairs)") {
    val n = 64
    val corpus = (0L until n.toLong).map(i =>
      (i, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(corpus, "vec_id", "embedding", k = 5,
      nBands = 2, rowsPerBand = 2, dim = 8, maxBucketSize = 8)
      .collect()
    // all vectors share one bucket per band -> every cell oversized -> star:
    // pair space is O(n) (anchor<->member), never n^2
    val edges = g.map(r => (r.getLong(0), r.getLong(2))).distinct
    assert(edges.length <= 2L * n, s"${edges.length} edges")
    // every member still keeps the anchor as its neighbor...
    val srcs = g.map(_.getLong(0)).toSet
    assert(srcs.size == n, s"only ${srcs.size} of $n docs have edges")
    // ...and the anchor (min id) ranks its members
    assert(g.filter(_.getLong(0) == 0L).map(_.getLong(2)).toSet.subsetOf(
      (1L until n.toLong).toSet))
  }

  test("knnDensityGate: candidate-less docs gate to keep=0; fixed-point mean matches tau semantics") {
    // two tight clusters + one far outlier that shares no LSH bucket reliably:
    // use a corpus where doc 99 is orthogonal to everything else
    val base = (0L until 20L).map(i => (i, Seq.fill(8)(1.0f)))
    val corpus = base.toDF("vec_id", "embedding")
    val gated = Similarity.knnDensityGate(corpus, "vec_id", "embedding",
      k = 3, tau = 0.9, nBands = 2, rowsPerBand = 2, dim = 8)
    val rows = gated.collect()
    assert(rows.length == 20)
    // identical vectors: cosine 1.0 everywhere -> density floor(2^30)*n >= tau_q*n
    rows.foreach { r =>
      val (n, keep) = (r.getLong(2), r.getInt(3))
      if (n > 0) assert(keep == 1, s"row $r")
    }
    // schema: src_id, density_q, knn_n, dense_keep
    assert(gated.columns.toSeq == Seq("src_id", "density_q", "knn_n", "dense_keep"))
    // a doc with NO candidates (single-doc corpus -> empty graph) keeps the
    // (0, 0, keep=0) sentinel via the left join
    val lone = Similarity.knnDensityGate(
      Seq((7L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, tau = 0.0, nBands = 2, rowsPerBand = 2,
      dim = 8).collect()
    assert(lone.length == 1 && lone(0).getLong(1) == 0L &&
      lone(0).getLong(2) == 0L && lone(0).getInt(3) == 0)
  }

  test("knnClusters: separated tight clusters form distinct components with sizes") {
    // cluster size = k + 1: every member's top-k is exactly the other k
    // members, so mutuality is total in-cluster. (Clusters LARGER than k+1
    // legitimately fragment — each doc ranks only k of its siblings — which
    // is why cluster-size-vs-k is a caller dial, not a bug.)
    val a = (0L until 6L).map(i => (i, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    val b = (10L until 16L).map(i => (i, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val got = Similarity.knnClusters(corpus, "vec_id", "embedding", k = 5,
      nBands = 4, rowsPerBand = 2, dim = 8)
      .select("vec_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 12)
    val byId = got.map(r => r._1 -> r).toMap
    // in-cluster cosines are exactly 1 vs 0 across: top-5 lists are the
    // cluster siblings, mutual edges never cross, min id labels the cluster
    assert((0L until 6L).forall(i => byId(i)._2 == 0L && byId(i)._3 == 6L))
    assert((10L until 16L).forall(i => byId(i)._2 == 10L && byId(i)._3 == 6L))
  }

  test("diverseSample: one representative per cluster, ties to lowest id") {
    // same two-cluster fixture as knnClusters: identical in-cluster vectors
    // make every member's density equal, so the tie-break elects the min id
    val a = (0L until 6L).map(i => (i, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
    val b = (10L until 16L).map(i => (i, Seq(0f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val got = Similarity.diverseSample(corpus, "vec_id", "embedding", k = 5,
      nBands = 4, rowsPerBand = 2, dim = 8)
      .select("vec_id", "cluster_id", "rep_keep")
      .as[(Long, Long, Int)].collect()
    assert(got.length == 12)
    val reps = got.filter(_._3 == 1).map(r => r._2 -> r._1).toMap
    assert(reps == Map(0L -> 0L, 10L -> 10L))
    // exactly one representative per cluster
    assert(got.groupBy(_._2).forall { case (_, rows) => rows.count(_._3 == 1) == 1 })
  }

  test("knnClusters: edge-free corpus stays all-singleton") {
    val corpus = Seq((1L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnClusters(corpus, "vec_id", "embedding", k = 3,
      nBands = 2, rowsPerBand = 2, dim = 8)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 1L, 1L)))
  }

  test("knnDensityGate: gate splits dense cluster from sparse tail at tau") {
    val rng = new scala.util.Random(3)
    // cluster: 30 near-identical vectors; tail: 10 random vectors
    val cluster = (0L until 30L).map { i =>
      val base = Array.fill(8)(1.0f)
      base(rng.nextInt(8)) += rng.nextFloat() * 0.05f
      (i, base.toSeq)
    }
    val tail = (100L until 110L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val corpus = (cluster ++ tail).toDF("vec_id", "embedding")
    val gated = Similarity.knnDensityGate(corpus, "vec_id", "embedding",
      k = 5, tau = 0.99, nBands = 4, rowsPerBand = 2, dim = 8)
      .select("src_id", "dense_keep").as[(Long, Int)].collect().toMap
    // the tight cluster passes a 0.99 mean-cosine bar
    assert((0L until 30L).forall(gated(_) == 1))
    // random tail vectors can't average 0.99 against anything
    assert((100L until 110L).forall(gated(_) == 0))
  }
}
