package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, Graph}

/**
 * Structural checks for the integer-exact PageRank and the quantized label
 * centroids (their corpus-scale outputs are oracle-gated by graph_pagerank /
 * emb_label_centroids in the catalog).
 */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: symmetric 2-cycle keeps equal ranks at full mass") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 3)
      .orderBy("node").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a", "b"))
    // perfect symmetry: both nodes identical; mass conserved up to floor
    // loss (≤ 1 unit per node per iteration)
    assert(r(0).getLong(1) == r(1).getLong(1))
    assert(math.abs(r(0).getLong(1) - Graph.RankScale) <= 3)
  }

  test("pageRank: star center outranks leaves; leaves tie exactly") {
    // leaves point at the center; center points back at every leaf
    val leaves = (1 to 4).map(i => s"l$i")
    val edges = (leaves.map(_ -> "hub") ++ leaves.map("hub" -> _))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 3).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(leaves.map(r).distinct.size == 1, "leaves must tie exactly")
    assert(r("hub") > r(leaves.head), "hub collects the leaves' mass")
  }

  test("pageRank: node with no in-edges settles at the base rank") {
    // a -> b, b -> b(self): a receives nothing
    val edges = Seq(("a", "b"), ("b", "b")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 3).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r("a") == (Graph.RankScale * 3) / 20)
    assert(r("b") > r("a"))
  }

  test("pageRank: partition-count invariant (exact longs, no FP drift)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val one = Graph.pageRank(edges.repartition(1), iterations = 4)
      .orderBy("node").collect().map(_.getLong(1)).toSeq
    val many = Graph.pageRank(edges.repartition(7), iterations = 4)
      .orderBy("node").collect().map(_.getLong(1)).toSeq
    assert(one == many)
  }

  test("personalizedPageRank: unreachable-from-seeds node is exactly 0; all-seeds = pageRank") {
    // a -> b -> c chain plus isolated pair d <-> e; seed = {a}
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "c"), ("d", "e"), ("e", "d"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPageRank(edges, seeds, iterations = 3).collect()
      .map(row => row.getString(0) -> row.getLong(2)).toMap
    assert(r("d") == 0L && r("e") == 0L, "mass must not reach the seedless component")
    assert(r("a") == (Graph.RankScale * 3) / 20) // no in-edges: base only
    assert(r("b") > 0L && r("c") > 0L, "downstream of the seed inherits mass")
    // seeding EVERY node reduces to plain pageRank, rank for rank
    val all = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val ppr = Graph.personalizedPageRank(edges, all, iterations = 3)
      .select("node", "rank").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val pr = Graph.pageRank(edges, iterations = 3)
      .select("node", "rank").collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ppr == pr)
  }

  test("triangleCount: hand-counted graphs — K4, square+diagonal, triangle-free") {
    // K4: 4 triangles, 4 nodes, 6 edges
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a != b } yield (a.toLong, b.toLong))
      .toDF("src", "dst") // both directions + no self-loops: normalization's job
    val r4 = Graph.triangleCount(k4).collect()(0)
    assert((r4.getAs[Long]("n_nodes"), r4.getAs[Long]("n_edges"),
      r4.getAs[Long]("n_triangles")) == ((4L, 6L, 4L)))
    // square with one diagonal: 2 triangles; wedge count is the oriented
    // work bound, strictly under the naive Σdeg² blowup
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val rs = Graph.triangleCount(sq).collect()(0)
    assert(rs.getAs[Long]("n_edges") == 5L && rs.getAs[Long]("n_triangles") == 2L)
    // triangle-free: a 4-cycle — all degrees tie, id order orients 1→2 and
    // 1→4, so exactly ONE wedge forms and fails to close (a star would be
    // the degenerate case: every edge points INTO the hub, zero wedges)
    val cyc4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val rst = Graph.triangleCount(cyc4).collect()(0)
    assert(rst.getAs[Long]("n_triangles") == 0L && rst.getAs[Long]("n_wedges") == 1L)
  }

  test("triangleCount: orientation bounds wedge work on a celebrity node") {
    // hub connected to 40 leaves, leaves form a 40-cycle: naive wedges at
    // the hub alone = C(40,2) = 780; degree-orientation gives the hub NO
    // out-edges (its degree 40 outranks every leaf's 3), so oriented wedge
    // count stays small while the triangle count (each cycle edge + hub)
    // is exact
    val hub = (1L to 40L).map(i => (0L, i))
    val cycle = (1L to 40L).map(i => (i, if (i == 40L) 1L else i + 1))
    val r = Graph.triangleCount((hub ++ cycle).toDF("src", "dst")).collect()(0)
    assert(r.getAs[Long]("n_triangles") == 40L) // one per cycle edge
    assert(r.getAs[Long]("n_wedges") <= 200L,
      s"orientation failed to bound wedges: ${r.getAs[Long]("n_wedges")}")
  }

  test("triangleCount: duplicate/reversed/self-loop edges normalize away") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
      .toDF("src", "dst")
    val r = Graph.triangleCount(messy).collect()(0)
    assert(r.getAs[Long]("n_edges") == 3L && r.getAs[Long]("n_triangles") == 1L)
  }

  test("labelCentroids: hand-computed quantized means") {
    val docs = Seq(
      (0, Seq(1.0f, -2.0f)),
      (0, Seq(3.0f, 4.0f)),
      (1, Seq(0.5f, 0.25f))
    ).toDF("label", "embedding")
    val r = Embeddings.labelCentroids(docs, col("label"), col("embedding"), dim = 2)
      .orderBy("label").collect()
    // label 0: exact values → centroid = ((1+3)/2, (-2+4)/2) = (2, 1)
    assert(r(0).getLong(1) == 2L)
    val c0 = r(0).getSeq[Double](3)
    assert(c0 == Seq(2.0, 1.0))
    assert(r(0).getLong(2) == (4L + 2L) * (1L << 20)) // qsum of exact ints
    // label 1: 0.5 and 0.25 are exact in binary → centroid exact
    val c1 = r(1).getSeq[Double](3)
    assert(c1 == Seq(0.5, 0.25))
  }

  private def lp(edges: Seq[(String, String)], seeds: Seq[(String, Int)],
      rounds: Int): Map[String, (Int, Int, Int)] = {
    import spark.implicits._
    Graph.labelPropagate(edges.toDF("src", "dst"),
        seeds.toDF("node", "label"), rounds)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
  }

  test("labelPropagate: majority vote, smallest-label ties, unlabeled stay out") {
    // x has labeled in-neighbors {a:1, b:1, c:2} -> majority 1
    // y has {a:1, c:2} -> tie -> smaller label 1
    // z has no labeled neighbor in round 1
    val edges = Seq("a" -> "x", "b" -> "x", "c" -> "x", "a" -> "y", "c" -> "y",
      "x" -> "z")
    val seeds = Seq("a" -> 1, "b" -> 1, "c" -> 2)
    val r1 = lp(edges, seeds, rounds = 1)
    assert(r1("x") == ((1, 0, 1)) && r1("y") == ((1, 0, 1)))
    assert(!r1.contains("z"), "no labeled neighbor -> absent")
    // round 2: z inherits through x (synchronous: round 2 sees round 1's x)
    val r2 = lp(edges, seeds, rounds = 2)
    assert(r2("z") == ((1, 0, 2)))
    // unchanged nodes keep their round-1 origin stamp
    assert(r2("x") == ((1, 0, 1)) && r2("y") == ((1, 0, 1)))
  }

  test("labelPropagate: seeds are clamped against any majority") {
    // seed s:5 is surrounded by three label-9 voters — must stay 5
    val edges = Seq("a" -> "s", "b" -> "s", "c" -> "s")
    val seeds = Seq("s" -> 5, "a" -> 9, "b" -> 9, "c" -> 9)
    val r = lp(edges, seeds, rounds = 2)
    assert(r("s") == ((5, 1, 0)))
  }

  test("labelPropagate: a flipped label restamps origin_round") {
    // round 1: x's only labeled neighbor is a:1 -> label 1 (origin 1);
    // y and w inherit 2 from c. round 2: x sees {a:1, y:2, w:2} -> flips
    // to 2, origin restamps to 2; y/w unchanged keep origin 1.
    val edges = Seq("a" -> "x", "y" -> "x", "w" -> "x", "c" -> "y", "c" -> "w")
    val seeds = Seq("a" -> 1, "c" -> 2)
    val r1 = lp(edges, seeds, rounds = 1)
    assert(r1("x") == ((1, 0, 1)))
    val r2 = lp(edges, seeds, rounds = 2)
    assert(r2("x") == ((2, 0, 2)), "flip 1 -> 2 must restamp origin to 2")
    assert(r2("y") == ((2, 0, 1)) && r2("w") == ((2, 0, 1)))
  }

  private def admit(base: Seq[(Long, Seq[Float])], baseLabels: Seq[(Long, Int)],
      newBatch: Seq[(Long, Seq[Float])], newSeeds: Seq[(Long, Int)],
      k: Int, cap: Int = 1024): Map[Long, (Int, Int, Long)] = {
    import spark.implicits._
    Graph.labelAdmit(
        base.toDF("vec_id", "embedding"),
        baseLabels.toDF("node", "label"),
        newBatch.toDF("vec_id", "embedding"),
        newSeeds.toDF("node", "label"),
        "vec_id", "embedding", k = k, nBands = 4, rowsPerBand = 2, dim = 2,
        maxBucketSize = cap)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
  }

  private val ex = Seq(1.0f, 0.0f)

  test("labelAdmit: majority of top-k base neighbors; ties to smallest label") {
    // three identical base vectors (same buckets, cosine 1): labels 1,2,2
    val base = Seq(1L -> ex, 2L -> ex, 3L -> ex)
    val r = admit(base, Seq(1L -> 1, 2L -> 2, 3L -> 2),
      Seq(10L -> ex), Seq.empty, k = 3)
    assert(r(10L) == ((2, 0, 2L)), "majority 2 with 2 votes")
    // k=2 keeps base ids 1,2 (cosine tie -> old_id asc): 1 vote each -> tie
    // -> smaller label
    val tie = admit(base, Seq(1L -> 1, 2L -> 2, 3L -> 2),
      Seq(10L -> ex), Seq.empty, k = 2)
    assert(tie(10L) == ((1, 0, 1L)))
  }

  test("labelAdmit: new seeds are clamped; unlabeled-neighbor nodes stay out") {
    val base = Seq(1L -> ex, 2L -> ex)
    val r = admit(base, Seq(1L -> 2, 2L -> 2),
      Seq(10L -> ex), Seq(10L -> 9), k = 2)
    assert(r(10L) == ((9, 1, 0L)), "audited new doc keeps its label")
    // no base labeling at all: nothing to inherit, node absent
    val none = admit(base, Seq.empty, Seq(10L -> ex), Seq.empty, k = 2)
    assert(!none.contains(10L))
  }

  test("labelAdmit: bucket cap keeps the smallest base ids, deterministically") {
    // cap 1: every cell keeps only base id 1, so the vote comes from its
    // label alone even though id 2's label would win uncapped
    val base = Seq(1L -> ex, 2L -> ex, 3L -> ex)
    val r = admit(base, Seq(1L -> 7, 2L -> 3, 3L -> 3),
      Seq(10L -> ex), Seq.empty, k = 3, cap = 1)
    assert(r(10L) == ((7, 0, 1L)))
  }

  test("labelAdmit: static-cutoff form is bit-identical to the joined reference form") {
    import spark.implicits._
    // random base + new batch at a dim where cross-band bucket collisions
    // are heavy, with a cap low enough that some cells truncate — both the
    // dedup predicate's cutoff term and the clique-ish lane get exercised
    val rng = new scala.util.Random(23)
    val base = (0L until 120L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val baseLabels = (0L until 120L by 3L).map(i => (i, (i % 5).toInt))
    val nw = (200L until 260L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val seeds = Seq((200L, 9))
    def run(fn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String, Int, Int, Int, Int, Int) => org.apache.spark.sql.DataFrame,
        cap: Int) =
      fn(base.toDF("vec_id", "embedding"), baseLabels.toDF("node", "label"),
        nw.toDF("vec_id", "embedding"), seeds.toDF("node", "label"),
        "vec_id", "embedding", 4, 4, 2, 8, cap)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getLong(3))).sortBy(identity).toSeq
    for (cap <- Seq(5, 1024))
      assert(run(Graph.labelAdmit, cap) == run(Graph.labelAdmitJoined, cap),
        s"parity broke at cap $cap")
  }

  test("labelAdmit: a cell space over the 4096-cell cap fails before any Spark job") {
    import spark.implicits._
    // 1·2^13 cells; the inputs throw if any job evaluates them, so only the
    // up-front check can raise IllegalArgumentException
    val poisoned = spark.range(4).select(col("id").as("vec_id"),
      udf((id: Long) =>
        if (id >= 0) throw new IllegalStateException("a Spark job ran")
        else Seq(0f)).apply(col("id")).as("embedding"))
    val e = intercept[IllegalArgumentException](Graph.labelAdmit(poisoned,
      Seq((0L, 1)).toDF("node", "label"), poisoned,
      Seq.empty[(Long, Int)].toDF("node", "label"), "vec_id", "embedding",
      k = 3, nBands = 1, rowsPerBand = 13, dim = 8))
    assert(e.getMessage.contains("4096"))
  }

  test("labelPropagate: partition-count invariant (integer votes, total tie order)") {
    import spark.implicits._
    val edges = (1 to 40).flatMap(i =>
      Seq((s"n${i % 7}", s"n${i % 11}"), (s"n${i % 11}", s"n${i % 7}")))
      .toDF("src", "dst")
    val seeds = Seq(("n0", 3), ("n1", 1), ("n2", 1)).toDF("node", "label")
    def run(p: Int) = Graph.labelPropagate(edges.repartition(p),
        seeds.repartition(math.max(1, p / 2)), rounds = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).sortBy(_._1).toSeq
    assert(run(1) == run(13))
  }
}
