package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed graph analytics beyond the dedup components fixpoint
 * ([[Dedup.connectedComponents]]): integer-exact PageRank over an edge
 * frame — the canonical "importance over a link graph" signal a crawl
 * pipeline uses for source weighting and seed selection.
 */
object Graph {

  /** Rank fixed-point scale: ranks are longs in units of 2^-30. Chosen so
    * per-node inbound mass stays inside a long even adversarially — total
    * mass is N·2^30, so N up to ~8e9 nodes cannot overflow 2^63 even if one
    * node received ALL of it. */
  val RankScale: Long = 1L << 30

  /**
   * PageRank with damping 17/20 (=0.85) for a fixed iteration count, in
   * exact integer arithmetic end-to-end:
   *
   *  - ranks are scaled longs (units of 2^-30, [[RankScale]]);
   *  - each node's per-edge contribution is `rank div outdeg` (truncating
   *    long division — floor on non-negatives, identical in every engine);
   *  - inbound mass is an exact long sum, order-independent under parallel
   *    aggregation (the reason for integers: a double formulation's sums
   *    would be partition-order-dependent and unverifiable cross-engine);
   *  - damping applies as `(inb div 20)·17 + ((inb mod 20)·17) div 20` —
   *    exactly floor(inb·17/20) without ever forming the overflow-prone
   *    product inb·17.
   *
   * Semantics notes, pinned deliberately: dangling mass is DROPPED (nodes
   * without out-edges contribute nothing — the common simplified variant;
   * the bipartite both-direction construction used by the catalog has no
   * dangling nodes), and nodes with no in-edges settle at the base rank
   * 0.15·scale. Floor losses make total mass decrease by ≤1 ulp per node
   * per iteration — deterministic everywhere.
   *
   * Scale shape per iteration: one broadcast-or-shuffle equi-join of ranks
   * to out-degrees, one shuffle of contributions on dst (map-side combined
   * sum), one left join back to the node set. O(iterations) rounds of fully
   * distributed work, no driver-side state; the standard power-iteration
   * dataflow. `edges` should be deduplicated; self-loops are legal.
   */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col("src"), col("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val base = (RankScale * 3) / 20 // floor(0.15 · scale)
    var ranks = nodes.withColumn("rank", lit(RankScale))
    for (_ <- 1 to iterations) {
      val contrib = ranks
        .join(outdeg, col("node") === col("src"))
        .selectExpr("src", "rank div outdeg AS contrib")
      val inbound = e.join(contrib, "src")
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inb"))
      ranks = nodes
        .join(inbound, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("inb"), lit(0L)).as("inb"))
        .selectExpr("node",
          s"${base}L + (inb div 20) * 17 + ((inb % 20) * 17) div 20 AS rank")
    }
    ranks.withColumn("rank_norm", col("rank").cast("double") / lit(RankScale.toDouble))
  }

  /**
   * Personalized PageRank: [[pageRank]] with the teleport mass restricted
   * to a SEED set — the seed-biased importance a crawl pipeline uses to
   * rank the frontier "from" trusted sources (and a feature-store standby
   * for related-item scoring). Same integer discipline end-to-end: the
   * only change is the base term — `0.15·scale` lands on seed nodes only,
   * non-seeds keep purely inherited mass (so a node unreachable from every
   * seed settles at exactly 0, a property the spec pins).
   *
   * `seeds` is a 1-column frame of node ids; it joins into the node frame
   * once (broadcast when small — the usual case) and the per-iteration
   * dataflow is identical to [[pageRank]]'s.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col("src"), col("dst"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val seedSet = seeds.toDF("node").distinct().withColumn("is_seed", lit(1))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedSet, Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0)).as("is_seed"))
    val base = (RankScale * 3) / 20
    var ranks = nodes.withColumn("rank",
      when(col("is_seed") === 1, lit(RankScale)).otherwise(lit(0L)))
    for (_ <- 1 to iterations) {
      val contrib = ranks
        .join(outdeg, col("node") === col("src"))
        .selectExpr("src", "rank div outdeg AS contrib")
      val inbound = e.join(contrib, "src")
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inb"))
      ranks = nodes
        .join(inbound, col("node") === col("dst"), "left")
        .select(col("node"), col("is_seed"),
          coalesce(col("inb"), lit(0L)).as("inb"))
        .selectExpr("node", "is_seed",
          s"CASE WHEN is_seed = 1 THEN ${base}L ELSE 0L END" +
            " + (inb div 20) * 17 + ((inb % 20) * 17) div 20 AS rank")
    }
    ranks.select(col("node"), col("is_seed"), col("rank"),
      (col("rank").cast("double") / lit(RankScale.toDouble)).as("rank_norm"))
  }

  /**
   * Global triangle count over an UNDIRECTED simple graph, by
   * degree-ordered edge orientation (the compact-forward / node-iterator
   * algorithm): the scalable form of the clustering / community-density
   * signal.
   *
   * Why orientation is the whole story at scale: the naive wedge join
   * (neighbors-of-neighbors) explodes Σ deg(v)² pairs — a single celebrity
   * node with 10M neighbors yields 10¹⁴ wedges. Orienting every edge from
   * its lower-ranked endpoint to its higher-ranked one under the TOTAL
   * order (degree, node) makes every node's OUT-degree O(√m) — a node of
   * degree d > √(2m) cannot have d higher-ranked neighbors of degree ≥ d —
   * so the wedge space is Σ outdeg(v)² ≤ O(m^1.5), the theoretical optimum,
   * REGARDLESS of skew. Each triangle then has exactly one apex (its
   * lowest-ranked vertex — the orientation is acyclic, so each triangle's
   * three edges form one length-2 path plus its closing edge) and is
   * counted exactly once, no /3 or /6 correction.
   *
   * Input contract: `src`/`dst` columns; direction, duplicates, and
   * self-loops are all normalized away first (canonical u < v edge set).
   * Output: ONE row — n_nodes, n_edges (canonical), n_wedges (oriented
   * length-2 paths — the work actually done), n_triangles. All exact longs.
   *
   * Plan shape: degree = one map-side-combined aggregation; orientation =
   * two equi-joins of the edge list to the (node, degree) table; wedges =
   * one self-equi-join on the oriented source; closing = one equi-join of
   * wedges against the canonical edge set; then a single global-count
   * collapse. No window over neighbor lists, no per-node array
   * materialization — a hot node's edges stay spread across tasks.
   */
  def triangleCount(edges: DataFrame): DataFrame = {
    // materialized once: e0 feeds the degree table, both orientation joins,
    // the closing join and the edge count — without the checkpoint each of
    // those subtrees would re-run the normalize+distinct (and the aliased
    // self-join sides sit below the exchange, where ReuseExchange cannot
    // dedupe them — the embeddingNearDupBucketed lesson)
    val e0 = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orientation: src = the (deg, node)-lexicographically smaller endpoint;
    // materialized so the wedge self-join's two sides read it, not re-join it
    val o = e0
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint()
    // wedges from a shared apex; dst-order dedup halves the pair space and
    // lines the wedge up with the canonical (u < v) closing edge. The
    // closing probe is a LEFT join so ONE pass over the wedge space yields
    // both the wedge count and the triangle count (e0 is distinct, so the
    // join cannot inflate the wedge rows).
    val wedges = o.alias("a")
      .join(o.alias("b"), col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"))
    val closedAgg = wedges
      .join(e0.withColumn("hit", lit(1)), Seq("u", "v"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("hit")).as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e0.agg(count(lit(1)).as("n_edges"))
    // three 1-row frames — the cross joins are scalar assembly, not data flow
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(closedAgg))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
  }

  /**
   * Semi-supervised majority-vote label propagation: spread a sparse seed
   * labeling (e.g. hand-audited quality/topic labels on a few percent of a
   * corpus) across a similarity graph — the standard trick for labeling a
   * 100 TB corpus from a small audited sample (spam labels over a host
   * graph, topic labels over an embedding kNN graph).
   *
   * Semantics, pinned for cross-engine determinism:
   *  - SYNCHRONOUS rounds: round r votes read ONLY the round r-1 labeling.
   *  - Seeds are CLAMPED — a seed node never changes its label.
   *  - A non-seed node's round-r label is the label with the most currently
   *    labeled in-neighbors (one vote per edge `src -> dst`; pass a
   *    symmetrized edge frame for undirected semantics). Ties break to the
   *    SMALLEST label — integer votes + total tie order = deterministic.
   *  - Nodes with no labeled neighbor stay unlabeled that round (and are
   *    absent from the output if still unlabeled after the last round).
   *  - Non-seed labels are recomputed every round from scratch (they can
   *    flip as the labeled frontier grows) — `origin_round` reports the
   *    round that produced the FINAL value.
   *
   * Scale shape per round: one equi-join of edges to the current labeling
   * (shuffle on node id), one map-side-combined vote count on
   * (dst, label), one window top-1 per dst — all key-partitioned; O(rounds)
   * rounds, no driver state. Edge frame should be deduplicated: parallel
   * edges would double-vote.
   *
   * `edges`: `src`/`dst` columns. `seeds`: `node`/`label` (label integer).
   * Output: (node, label, is_seed, origin_round).
   */
  def labelPropagate(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "need at least one round")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src"), col("dst"))
    val seed = seeds.select(col("node"), col("label").cast("int").as("label"))
      .withColumn("is_seed", lit(1)).withColumn("origin_round", lit(0))
    var labels = seed
    for (r <- 1 to rounds) {
      val votes = e
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val top = Window.partitionBy(col("dst"))
        .orderBy(col("votes").desc, col("label").asc)
      val inferredAll = votes
        .withColumn("rk", row_number().over(top))
        .filter(col("rk") === 1)
        .select(col("dst").as("node"), col("label"))
        // seeds are clamped: an inferred value never overrides one
        .join(seed.select(col("node")), Seq("node"), "left_anti")
      // origin_round = the round that produced the final value: keep r-1's
      // stamp when the label is unchanged, restamp to r when it flipped or
      // the node is newly labeled
      val prevInferred = labels.filter(col("is_seed") === 0)
        .select(col("node"), col("label").as("prev_label"),
          col("origin_round").as("prev_round"))
      val inferred = inferredAll
        .join(prevInferred, Seq("node"), "left")
        .select(col("node"), col("label"), lit(0).as("is_seed"),
          when(col("prev_label") === col("label"), col("prev_round"))
            .otherwise(lit(r)).as("origin_round"))
      // materialize each round: the next round references this frame twice
      // (votes + prevInferred), so without the cut the unexecuted lineage
      // doubles per round — the knnGraphRefined per-round discipline
      labels = seed.unionByName(inferred).localCheckpoint()
    }
    labels
  }

  /**
   * Incremental label ADMISSION: label a new batch of vectors against an
   * already-propagated base labeling WITHOUT re-running graph construction
   * or propagation over the base — the arriving-shard counterpart of
   * [[labelPropagate]] (a 100 TB corpus labels yesterday's snapshot once;
   * today's ingest must inherit labels at ingest cost, not corpus cost).
   *
   *  - Candidates come from shared LSH band buckets (the same
   *    [[Similarity.lshBandBucketsFast]] planes as the kNN graph), new
   *    side × base side — an equi-join on (band, bucket), never new×base.
   *  - Each new node keeps its top-`k` base neighbors by exact cosine
   *    (ties dst-id ascending) and takes the MAJORITY label among those
   *    that are labeled (ties to the smallest label).
   *  - Audited new nodes (`newSeeds`) keep their own label, clamped.
   *  - A new node whose neighbors carry no label is absent from the
   *    output (same contract as [[labelPropagate]]).
   *
   * Scale guard: base rows inside one (band, bucket) cell are capped at
   * `maxBucketSize` (kept = the cap smallest base ids — deterministic
   * degradation on pathological cells; identity when no cell exceeds the
   * cap, which the oracle gate verifies at catalog scales — the
   * [[Similarity.knnGraph]] cap discipline).
   *
   * Output: (node, label, is_seed, n_votes) — n_votes = 0 for seeds.
   */
  def labelAdmit(base: DataFrame, baseLabels: DataFrame, newBatch: DataFrame,
      newSeeds: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nBands: Int = 4, rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Similarity.{asDouble, lshBandBuckets, lshBandBucketsFast, norm}
    // Same cross-band dedup surgery as [[Similarity.knnGraph]]: the cell
    // space is ≤ nBands·2^rowsPerBand by construction, so instead of
    // distinct()-ing the scored (new, old) pairs — an O(pairs) exchange +
    // two O(pairs) hash aggregates — collect one bounded scalar per cell
    // and drop duplicates at the source with a codegen first-generating-
    // band filter. The per-cell scalar here is the cap CUTOFF: the capped
    // base side keeps the `maxBucketSize` smallest ids of a cell, so "old
    // was kept in cell (bp, u)" ⟺ old_id ≤ max(kept ids of that cell).
    require(rowsPerBand <= 12 && (nBands.toLong << rowsPerBand) <= 4096,
      s"labelAdmit: $nBands bands · 2^$rowsPerBand exceed the 4096-cell cap")
    val nBuckets = 1 << rowsPerBand
    def buckets(df: DataFrame): DataFrame = {
      val b =
        if (dim > 0) lshBandBucketsFast(col("v"), nBands, rowsPerBand, dim)
        else lshBandBuckets(col("v"), nBands, rowsPerBand)
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", norm(col("v")))
        .withColumn("bkts", b)
        .select(col("id"), col("v"), col("n"), col("bkts"),
          posexplode(col("bkts")).as(Seq("band", "bucket")))
    }
    val byCell = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("id"))
    val baseB = buckets(base)
      .withColumn("cr", row_number().over(byCell))
      .filter(col("cr") <= maxBucketSize)
      .select(col("band"), col("bucket"), col("id").as("old_id"),
        col("v").as("bv"), col("n").as("bn"), col("bkts").as("obkts"))
      .localCheckpoint()
    // bounded: ≤ nBands·2^rowsPerBand rows (one per non-empty cell); a cell
    // a generated pair refers to always contains its own old side, so the
    // null default for absent cells is never compared
    val idType = baseB.schema("old_id").dataType
    val cutoffArr = Array.fill[Any](nBands, nBuckets)(null)
    baseB.groupBy(col("band"), col("bucket"))
      .agg(max(col("old_id")).as("cutoff")).collect()
      .foreach(r => cutoffArr(r.getInt(0))(r.getLong(1).toInt) = r.get(2))
    def cutoffLit(b: Int): Column = array(cutoffArr(b).map(a =>
      if (a == null) lit(null).cast(idType) else lit(a)).toSeq: _*)
    val newB = buckets(newBatch)
      .select(col("band"), col("bucket"), col("id").as("new_id"),
        col("v").as("nv"), col("n").as("nn"), col("bkts").as("nbkts"))
    // a pair survives only in the FIRST band that generates it: band bp
    // generates (new, old) iff their buckets match at bp AND old survived
    // bp's cap — i.e. old_id ≤ cutoff(bp, bucket)
    val dupEarlier = (0 until nBands - 1).map { bp =>
      val nb = element_at(col("nbkts"), lit(bp + 1))
      val ob = element_at(col("obkts"), lit(bp + 1))
      (col("band") > bp) && (nb === ob) &&
        (col("old_id") <= element_at(cutoffLit(bp), (nb + 1).cast("int")))
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cand = newB.join(baseB, Seq("band", "bucket"))
      .filter(!dupEarlier)
      .select(col("new_id"), col("old_id"),
        (Similarity.dot(col("nv"), col("bv")) / (col("nn") * col("bn")))
          .as("cosine"))
    val topK = Window.partitionBy(col("new_id"))
      .orderBy(col("cosine").desc, col("old_id").asc)
    val knn = cand.withColumn("rk", row_number().over(topK))
      .filter(col("rk") <= k)
      .select(col("new_id"), col("old_id"))
    val votes = knn
      .join(baseLabels.select(col("node").as("old_id"),
        col("label").cast("int").as("label")), "old_id")
      .groupBy(col("new_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy(col("new_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    val seedOut = newSeeds
      .select(col("node"), col("label").cast("int").as("label"))
      .withColumn("is_seed", lit(1)).withColumn("n_votes", lit(0L))
    val admitted = votes
      .withColumn("rk", row_number().over(byVotes))
      .filter(col("rk") === 1)
      .select(col("new_id").as("node"), col("label"),
        lit(0).as("is_seed"), col("n_votes"))
      .join(seedOut.select(col("node")), Seq("node"), "left_anti")
    seedOut.unionByName(admitted)
  }

  /** Reference implementation of [[labelAdmit]] (the pre-r18 form):
    * cross-band duplicate candidates removed by a full distinct() over the
    * scored pairs. Kept verbatim so the static-cutoff form stays
    * parity-checked against an independent derivation (GraphSpec), the
    * knnGraphJoined discipline. */
  private[graft] def labelAdmitJoined(base: DataFrame,
      baseLabels: DataFrame, newBatch: DataFrame, newSeeds: DataFrame,
      idCol: String, vecCol: String, k: Int = 5, nBands: Int = 4,
      rowsPerBand: Int = 2, dim: Int = -1,
      maxBucketSize: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Similarity.{asDouble, lshBandBuckets, lshBandBucketsFast, norm}
    def buckets(df: DataFrame): DataFrame = {
      val b =
        if (dim > 0) lshBandBucketsFast(col("v"), nBands, rowsPerBand, dim)
        else lshBandBuckets(col("v"), nBands, rowsPerBand)
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("n", norm(col("v")))
        .select(col("id"), col("v"), col("n"),
          posexplode(b).as(Seq("band", "bucket")))
    }
    val byCell = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("id"))
    val baseB = buckets(base)
      .withColumn("cr", row_number().over(byCell))
      .filter(col("cr") <= maxBucketSize)
      .select(col("band"), col("bucket"), col("id").as("old_id"),
        col("v").as("bv"), col("n").as("bn"))
    val newB = buckets(newBatch)
      .select(col("band"), col("bucket"), col("id").as("new_id"),
        col("v").as("nv"), col("n").as("nn"))
    val cand = newB.join(baseB, Seq("band", "bucket"))
      .select(col("new_id"), col("old_id"),
        (Similarity.dot(col("nv"), col("bv")) / (col("nn") * col("bn")))
          .as("cosine"))
      .distinct()
    val topK = Window.partitionBy(col("new_id"))
      .orderBy(col("cosine").desc, col("old_id").asc)
    val knn = cand.withColumn("rk", row_number().over(topK))
      .filter(col("rk") <= k)
      .select(col("new_id"), col("old_id"))
    val votes = knn
      .join(baseLabels.select(col("node").as("old_id"),
        col("label").cast("int").as("label")), "old_id")
      .groupBy(col("new_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = Window.partitionBy(col("new_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    val seedOut = newSeeds
      .select(col("node"), col("label").cast("int").as("label"))
      .withColumn("is_seed", lit(1)).withColumn("n_votes", lit(0L))
    val admitted = votes
      .withColumn("rk", row_number().over(byVotes))
      .filter(col("rk") === 1)
      .select(col("new_id").as("node"), col("label"),
        lit(0).as("is_seed"), col("n_votes"))
      .join(seedOut.select(col("node")), Seq("node"), "left_anti")
    seedOut.unionByName(admitted)
  }
}
