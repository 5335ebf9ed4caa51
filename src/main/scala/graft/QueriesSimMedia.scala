package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Queries._

/** Similarity/ANN ladder, embeddings, multimodal — one slice of the driver-facing catalog, mechanically moved out
  * of Queries.scala in the round-15 maintainability split (verdict-r14
  * item 8). Rows are UNCHANGED; shared helpers and the cross-engine
  * determinism conventions live in [[Queries]]; the one `queries` map is
  * composed there. */
object QueriesSimMedia {

  /** The warm IVF-PQ top-5 over the Artifacts-persisted quantizers —
    * shared by `sim_ivfpq_served` and `eval_ndcg_ann`. Output is
    * identical to the in-query-trained `ivfPqTopK` (the artifact derives
    * from the same corpus), so both rows gate on the one ivfPqSql-chain
    * oracle. Empty corpus falls back to the (empty-safe) batch path. */
  private def ivfPqTop5Served(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 5)
    val (coarsePath, codebookPath, codesPath) = Artifacts.ivfPq(s, d)
    val coarse = Similarity.readCoarse(s, coarsePath)
    if (coarse.isEmpty)
      Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", m = 4,
        ksub = 16, iters = 2, nCells = 16, nProbe = 4, k = 5)
    else {
      val cents = Similarity.readCodebook(s, codebookPath)
      val packed = s.read.parquet(codesPath)
      val cand = Similarity.ivfPqSearchStatic(q, packed, coarse, cents,
        "vec_id", "embedding", m = 4, nProbe = math.min(4, coarse.length))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_d2"), col("vec_id"))
      cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("adc_d2"))
    }
  }

  private[graft] def rows
      : Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    ("sim_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
      },
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve FROM embeddings),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |s AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         list_dot_product(q.ve, c.ve)
          |           / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) AS cosine
          |  FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |SELECT query_id, cast("rank" AS int) AS "rank", neighbor_id
          |FROM (SELECT query_id, neighbor_id,
          |             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
          |      FROM s)
          |WHERE "rank" <= 5""".stripMargin)),

    // SQ8 scalar-quantized search: the cheapest ANN tier — corpus + queries
    // quantized to int8 with ONE corpus-trained symmetric scale, scored by
    // integer dot products (4× smaller vectors, integer-only loop, and —
    // unlike the LSH/IVF pruning tiers — every candidate is still scored).
    // Fully integer-exact: rank, neighbor and iscore carry no float anywhere.
    ("sim_topk_int8",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        Similarity.int8TopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank").cast("int").as("rank"),
            col("neighbor_id"), col("iscore"))
      },
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |a AS (SELECT max(list_aggregate(list_transform(ve, x -> abs(x)), 'max')) AS amax
          |      FROM v),
          |l AS (SELECT vec_id,
          |             list_transform(ve, x -> CASE WHEN amax = 0 THEN 0
          |               ELSE round(x / amax * 127.0)::int END) AS lv
          |      FROM v CROSS JOIN a),
          |q AS (SELECT * FROM l WHERE vec_id < 10),
          |s AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         list_sum(list_transform(generate_series(1, len(q.lv)),
          |           i -> (q.lv[i] * c.lv[i])::bigint))::bigint AS iscore
          |  FROM q CROSS JOIN l c WHERE q.vec_id != c.vec_id)
          |SELECT query_id, cast("rank" AS int) AS "rank", neighbor_id, iscore
          |FROM (SELECT query_id, neighbor_id, iscore,
          |             row_number() OVER (PARTITION BY query_id
          |                                ORDER BY iscore DESC, neighbor_id) AS "rank"
          |      FROM s)
          |WHERE "rank" <= 5""".stripMargin)),

    // SQ8 recall gate against the exact-MIPS baseline (raw inner product —
    // the score the integer dot approximates; cosine would be the wrong
    // baseline for a corpus with varying norms). Quantization only reorders
    // near-ties, so recall sits far above the pruning tiers.
    ("sim_recall_int8",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val brute = Similarity.dotTopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.int8TopK(q, emb, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |a AS (SELECT max(list_aggregate(list_transform(ve, x -> abs(x)), 'max')) AS amax
          |      FROM v),
          |l AS (SELECT vec_id,
          |             list_transform(ve, x -> CASE WHEN amax = 0 THEN 0
          |               ELSE round(x / amax * 127.0)::int END) AS lv
          |      FROM v CROSS JOIN a),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve) DESC, c.vec_id) AS rnk
          |    FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5),
          |ql AS (SELECT * FROM l WHERE vec_id < 10),
          |approx AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_sum(list_transform(generate_series(1, len(q.lv)),
          |               i -> (q.lv[i] * c.lv[i])::bigint)) DESC, c.vec_id) AS rnk
          |    FROM ql q CROSS JOIN l c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5)
          |SELECT b.query_id,
          |       count(*) AS n_true,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |         / count(*) AS recall
          |FROM brute b
          |LEFT JOIN approx a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          |GROUP BY 1""".stripMargin)),

    // Corpus self-kNN graph: every document's 5 nearest in-corpus neighbors
    // drawn from the banded-hyperplane LSH candidate set (same planes/bands
    // as dedup_embedding_near, same hot-bucket cap discipline). The graph is
    // DEFINED by the algorithm (planes, bands, cap, id tie-break), so the
    // oracle recomputes the identical projections; recall vs the exact
    // brute-force graph is a spec-measured property, not the gate. At sf0.01
    // every (band, bucket) holds ≤ ~162 rows, far under the 1024 cap, so the
    // capped star never fires here and the oracle needn't model it (the
    // degenerate-corpus spec covers that path).
    ("sim_knn_graph",
      (s: SparkSession, d: String) =>
        Similarity.knnGraph(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, nBands = 4, rowsPerBand = 2, dim = 64),
      Some(knnGraphCte +
        "SELECT src_id, rank, dst_id, cosine FROM g")),

    // One NN-descent refinement round over the LSH kNN graph: expand each
    // node's candidates through the symmetrized graph (reverse side capped
    // at k per node — hub guard), exact-rescore, re-rank top-k. Candidate
    // space ≤ 4k² per mid node, linear in the corpus. Deterministic, so the
    // refined graph itself is the oracle contract; the recall UPLIFT vs
    // brute force is spec-measured (KnnGraphSpec).
    ("sim_knn_refined",
      (s: SparkSession, d: String) =>
        Similarity.knnGraphRefined(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 5, nBands = 4, rowsPerBand = 2, dim = 64,
          rounds = 1),
      Some(knnGraphCte +
        """, rev AS (
          |  SELECT dst_id AS src_id, src_id AS dst_id
          |  FROM (SELECT src_id, dst_id,
          |               row_number() OVER (PARTITION BY dst_id
          |                                  ORDER BY cosine DESC, src_id) AS rrank
          |        FROM g) WHERE rrank <= 5),
          |e AS (SELECT src_id, dst_id FROM g UNION SELECT src_id, dst_id FROM rev),
          |twohop AS (
          |  SELECT DISTINCT a.src_id, b.dst_id
          |  FROM e a JOIN e b ON b.src_id = a.dst_id
          |  WHERE b.dst_id <> a.src_id),
          |cand AS (SELECT src_id, dst_id FROM twohop
          |         UNION SELECT src_id, dst_id FROM g),
          |scored AS (
          |  SELECT c.src_id, c.dst_id,
          |         list_dot_product(a.ve, b.ve) / (a.nn * b.nn) AS cosine
          |  FROM cand c
          |  JOIN n a ON a.vec_id = c.src_id
          |  JOIN n b ON b.vec_id = c.dst_id)
          |SELECT src_id,
          |       row_number() OVER (PARTITION BY src_id
          |                          ORDER BY cosine DESC, dst_id)::int AS rank,
          |       dst_id, cosine
          |FROM scored QUALIFY rank <= 5""".stripMargin)),

    // kNN-density outlier gate: mean top-k neighbor cosine below tau marks a
    // document as isolated in embedding space (off-topic / garbled / badly
    // embedded) — evaluated in fixed point (Σ floor(cosine·2^30) ≥
    // floor(tau·2^30)·n) so the gate is order-free exact long arithmetic,
    // never a float mean whose partial-sum order differs between engines.
    // tau = 0.31 ≈ the corpus median mean-top-5 cosine.
    ("emb_knn_density",
      (s: SparkSession, d: String) =>
        Similarity.knnDensityGate(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, tau = 0.31, nBands = 4, rowsPerBand = 2, dim = 64),
      Some(knnGraphCte +
        """, d AS (SELECT src_id, sum(floor(cosine * 1073741824)::bigint)::bigint AS density_q,
          |              count(*) AS knn_n
          |       FROM g GROUP BY 1)
          |SELECT v.vec_id AS src_id,
          |       coalesce(d.density_q, 0) AS density_q,
          |       coalesce(d.knn_n, 0) AS knn_n,
          |       (CASE WHEN coalesce(d.knn_n, 0) > 0
          |               AND coalesce(d.density_q, 0) >= 332859965 * coalesce(d.knn_n, 0)
          |             THEN 1 ELSE 0 END)::int AS dense_keep
          |FROM v LEFT JOIN d ON d.src_id = v.vec_id""".stripMargin)),

    // Mutual-kNN clustering: components over the MUTUAL kNN edges (a↔b in
    // each other's top-k) — mutuality stops hub docs welding unrelated
    // neighborhoods together. cluster_id = min member id; cluster_size feeds
    // diversity sampling / soft-dedup downweighting.
    ("sim_knn_clusters",
      (s: SparkSession, d: String) =>
        Similarity.knnClusters(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 5, nBands = 4, rowsPerBand = 2, dim = 64),
      Some(knnGraphCte +
        """, m AS (
          |  SELECT a.src_id AS doc_a, a.dst_id AS doc_b
          |  FROM g a JOIN g b ON b.src_id = a.dst_id AND b.dst_id = a.src_id
          |  WHERE a.src_id < a.dst_id),
          |comp AS (
          |  SELECT id AS vec_id, min(lbl) AS cluster_id
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT vec_id, vec_id FROM embeddings
          |      UNION
          |      SELECT e.s, r.lbl
          |      FROM (SELECT doc_a AS s, doc_b AS t FROM m
          |            UNION ALL
          |            SELECT doc_b AS s, doc_a AS t FROM m) e
          |      JOIN r ON r.id = e.t)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1)
          |SELECT vec_id, cluster_id,
          |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
          |FROM comp""".stripMargin)),

    // Diversity sampling: one representative per mutual-kNN cluster — the
    // member with the highest fixed-point kNN density (most central), ties
    // to the lowest id. The graph is built once and shared between the
    // component and density passes.
    ("sim_diverse_sample",
      (s: SparkSession, d: String) =>
        Similarity.diverseSample(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 5, nBands = 4, rowsPerBand = 2, dim = 64),
      Some(knnGraphCte +
        """, m AS (
          |  SELECT a.src_id AS doc_a, a.dst_id AS doc_b
          |  FROM g a JOIN g b ON b.src_id = a.dst_id AND b.dst_id = a.src_id
          |  WHERE a.src_id < a.dst_id),
          |comp AS (
          |  SELECT id AS vec_id, min(lbl) AS cluster_id
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT vec_id, vec_id FROM embeddings
          |      UNION
          |      SELECT e.s, r.lbl
          |      FROM (SELECT doc_a AS s, doc_b AS t FROM m
          |            UNION ALL
          |            SELECT doc_b AS s, doc_a AS t FROM m) e
          |      JOIN r ON r.id = e.t)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1),
          |dens AS (
          |  SELECT src_id, sum(floor(cosine * 1073741824)::bigint)::bigint AS density_q
          |  FROM g GROUP BY 1),
          |j AS (
          |  SELECT c.vec_id, c.cluster_id, coalesce(d.density_q, 0) AS density_q
          |  FROM comp c LEFT JOIN dens d ON d.src_id = c.vec_id)
          |SELECT vec_id, cluster_id, density_q,
          |       (CASE WHEN row_number() OVER (PARTITION BY cluster_id
          |                ORDER BY density_q DESC, vec_id) = 1
          |             THEN 1 ELSE 0 END)::int AS rep_keep
          |FROM j""".stripMargin)),

    // ---- Embedding transforms: normalize / quantize / project -------------
    // Array columns stay internal; the oracle compares scalar derivations
    // (norms, first elements, integer checksums) — all bit-exact because both
    // engines fold the same doubles in the same left-to-right order.
    ("emb_normalize",
      (s: SparkSession, d: String) =>
        Embeddings.normalized(Tables.embeddings(s, d), col("vec_id"), col("embedding"))
          .select(col("vec_id"), col("norm"),
            element_at(col("unit"), 1).as("unit0"),
            Similarity.norm(col("unit")).as("unit_norm")),
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS norm FROM v),
          |u AS (SELECT vec_id, norm, list_transform(ve, x -> x / norm) AS ue FROM n)
          |SELECT vec_id, norm, ue[1] AS unit0, sqrt(list_dot_product(ue, ue)) AS unit_norm
          |FROM u""".stripMargin)),

    // int8 quantization: the 4x storage lever for vector corpora. The integer
    // checksum (q_sum) verifies every element's level exactly.
    ("emb_quantize",
      (s: SparkSession, d: String) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
          .withColumn("vmin", array_min(col("v")))
          .withColumn("vmax", array_max(col("v")))
          .withColumn("q", Embeddings.quantizeInt8(col("v"), col("vmin"), col("vmax")))
          .select(col("vec_id"), col("vmin"), col("vmax"),
            element_at(col("q"), 1).as("q0"),
            aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max")),
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |m AS (SELECT vec_id, ve,
          |             list_aggregate(ve, 'min') AS vmin,
          |             list_aggregate(ve, 'max') AS vmax
          |      FROM v),
          |q AS (SELECT vec_id, vmin, vmax,
          |             list_transform(ve, x -> CASE WHEN vmax = vmin THEN 0
          |               ELSE round((x - vmin) / ((vmax - vmin) / 255.0))::int - 128 END) AS qe
          |      FROM m)
          |SELECT vec_id, vmin, vmax, qe[1]::int AS q0,
          |       list_sum(qe)::bigint AS q_sum,
          |       list_aggregate(qe, 'min')::int AS q_min,
          |       list_aggregate(qe, 'max')::int AS q_max
          |FROM q""".stripMargin)),

    // Johnson-Lindenstrauss random projection 64 -> 4 dims; each output dim is
    // one codegen'd dot product against a plan-time constant direction. The
    // oracle interpolates the SAME constants (Double.toString round-trips).
    ("emb_project",
      (s: SparkSession, d: String) => {
        val p = Embeddings.randomProject(Similarity.asDouble(col("embedding")), 4, 64)
        Tables.embeddings(s, d).select(col("vec_id"),
          element_at(p, 1).as("p0"), element_at(p, 2).as("p1"),
          element_at(p, 3).as("p2"), element_at(p, 4).as("p3"))
      },
      Some {
        // scientific notation → DuckDB parses as DOUBLE (a bare decimal
        // literal would parse as DECIMAL and truncate the mantissa);
        // Locale.ROOT so a comma-decimal default locale can't corrupt the SQL
        val dims = (0 until 4).map { o =>
          val coeffs = (0 until 64)
            .map(dd => String.format(java.util.Locale.ROOT, "%.17e",
              Double.box(Embeddings.projCoeffConst(o, dd))))
            .mkString("[", ", ", "]")
          s"list_dot_product(ve, $coeffs) AS p$o"
        }.mkString(",\n       ")
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
           |           FROM embeddings)
           |SELECT vec_id,
           |       $dims
           |FROM v""".stripMargin
      }),

    // Per-label centroids (class prototypes): element-wise means with each
    // element quantized to floor(x·2^20) longs first, so the sums are exact
    // in any aggregation order — the parallel-safe vector mean. One shuffle
    // on label, 64 partial long sums per group, no explode.
    ("emb_label_centroids",
      (s: SparkSession, d: String) =>
        Embeddings.labelCentroids(Tables.embeddings(s, d), col("label"),
            col("embedding"), dim = 64)
          .select(col("label"), col("n"), col("qsum"),
            element_at(col("centroid"), 1).as("c0"),
            element_at(col("centroid"), 2).as("c1"),
            element_at(col("centroid"), 3).as("c2"),
            element_at(col("centroid"), 4).as("c3")),
      Some {
        val els = (0 until 4)
          .map(i => s"cast(sum(qv[${i + 1}]) AS double) / (count(*) * 1048576.0) AS c$i")
          .mkString(",\n           |       ")
        s"""WITH q AS (
           |  SELECT label,
           |         list_transform(embedding, x -> floor(x::double * 1048576.0)::bigint) AS qv
           |  FROM embeddings)
           |SELECT label, count(*)::bigint AS n, sum(list_sum(qv))::bigint AS qsum,
           |       $els
           |FROM q GROUP BY 1""".stripMargin
      }),

    // Integer-exact PageRank (damping 17/20, 3 power iterations) over the
    // customer↔supplier bipartite trade graph — the source-importance signal
    // a crawl pipeline derives for seed weighting. Ranks are scaled longs so
    // every iteration's sums are order-independent (oracle-verifiable);
    // per-iteration dataflow is join + map-side-combined shuffle, no driver
    // state. The oracle unrolls the same three iterations in CTEs.
    ("graph_pagerank",
      (s: SparkSession, d: String) => {
        val lo = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("sv"))
        val edges = lo.select(col("c").as("src"), col("sv").as("dst"))
          .union(lo.select(col("sv").as("src"), col("c").as("dst")))
          .distinct()
        Graph.pageRank(edges, iterations = 3)
      },
      Some {
        val base = (Graph.RankScale * 3) / 20
        def iter(prev: String, n: Int): String =
          s"""c$n AS (SELECT src, rank // outdeg AS contrib FROM $prev JOIN outdeg ON node = src),
             |i$n AS (SELECT dst, sum(contrib)::bigint AS inb FROM edges JOIN c$n USING (src) GROUP BY 1),
             |r$n AS (SELECT node, ${base} + (coalesce(inb, 0) // 20) * 17 + ((coalesce(inb, 0) % 20) * 17) // 20 AS rank
             |        FROM nodes LEFT JOIN i$n ON node = dst),
             |""".stripMargin
        s"""WITH lo AS (
           |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS sv
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS (SELECT c AS src, sv AS dst FROM lo
           |          UNION
           |          SELECT sv AS src, c AS dst FROM lo),
           |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT node
           |          FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
           |r0 AS (SELECT node, ${Graph.RankScale}::bigint AS rank FROM nodes),
           |${iter("r0", 1)}${iter("r1", 2)}${iter("r2", 3).stripSuffix(",\n")}
           |SELECT node, rank::bigint AS rank, rank / ${Graph.RankScale}.0 AS rank_norm
           |FROM r3""".stripMargin
      }),

    // Personalized PageRank: teleport mass restricted to a seed set (every
    // 10th customer) — seed-biased importance over the same bipartite
    // purchase graph; non-seeds hold purely inherited mass. Oracle unrolls
    // the same three iterations with the seed-gated base term.
    ("graph_ppr",
      (s: SparkSession, d: String) => {
        val lo = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"),
            concat(lit("c"), col("o_custkey").cast("string")).as("c"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("sv"))
        val edges = lo.select(col("c").as("src"), col("sv").as("dst"))
          .union(lo.select(col("sv").as("src"), col("c").as("dst")))
          .distinct()
        val seeds = lo.filter(col("o_custkey") % 10 === 0)
          .select(col("c")).distinct()
        Graph.personalizedPageRank(edges, seeds, iterations = 3)
      },
      Some {
        val base = (Graph.RankScale * 3) / 20
        def iter(prev: String, n: Int): String =
          s"""c$n AS (SELECT src, rank // outdeg AS contrib FROM $prev JOIN outdeg ON node = src),
             |i$n AS (SELECT dst, sum(contrib)::bigint AS inb FROM edges JOIN c$n USING (src) GROUP BY 1),
             |r$n AS (SELECT node, is_seed,
             |               CASE WHEN is_seed = 1 THEN ${base} ELSE 0 END
             |                 + (coalesce(inb, 0) // 20) * 17 + ((coalesce(inb, 0) % 20) * 17) // 20 AS rank
             |        FROM nodes LEFT JOIN i$n ON node = dst),
             |""".stripMargin
        s"""WITH lo AS (
           |  SELECT DISTINCT o_custkey, 'c' || o_custkey AS c, 's' || l_suppkey AS sv
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |edges AS (SELECT c AS src, sv AS dst FROM lo
           |          UNION
           |          SELECT sv AS src, c AS dst FROM lo),
           |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
           |seeds AS (SELECT DISTINCT c AS node FROM lo WHERE o_custkey % 10 = 0),
           |nodes AS (SELECT n.node, CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
           |          FROM (SELECT DISTINCT node
           |                FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)) n
           |          LEFT JOIN seeds s ON s.node = n.node),
           |r0 AS (SELECT node, is_seed,
           |              CASE WHEN is_seed = 1 THEN ${Graph.RankScale} ELSE 0 END AS rank
           |       FROM nodes),
           |${iter("r0", 1)}${iter("r1", 2)}${iter("r2", 3).stripSuffix(",\n")}
           |SELECT node, is_seed::int AS is_seed, rank::bigint AS rank,
           |       rank / ${Graph.RankScale}.0 AS rank_norm
           |FROM r3""".stripMargin
      }),

    // Triangle counting by degree-ordered orientation (compact-forward):
    // the O(m^1.5) wedge bound that survives celebrity nodes — each edge
    // directed low→high in (degree, node) order caps every out-degree at
    // O(√m). Graph: parts co-purchased within an order (first two
    // lineitems, so the per-order pair expansion is bounded at 1). The
    // oracle re-runs orientation + wedge closing in CTEs; all-long outputs.
    ("graph_triangles",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d).filter(col("l_linenumber") <= 2)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val e = li.alias("x")
          .join(li.alias("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        Graph.triangleCount(e)
      },
      Some(
        """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
          |            FROM lineitem WHERE l_linenumber <= 2),
          |e0 AS (SELECT DISTINCT x.pk AS u, y.pk AS v
          |       FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
          |deg AS (SELECT node, count(*)::bigint AS deg
          |        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
          |        GROUP BY 1),
          |o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e0.u < e0.v)
          |                  THEN e0.u ELSE e0.v END AS src,
          |             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e0.u < e0.v)
          |                  THEN e0.v ELSE e0.u END AS dst
          |      FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
          |w AS (SELECT a.dst AS u, b.dst AS v
          |      FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst)
          |SELECT (SELECT count(*)::bigint FROM deg) AS n_nodes,
          |       (SELECT count(*)::bigint FROM e0) AS n_edges,
          |       (SELECT count(*)::bigint FROM w) AS n_wedges,
          |       (SELECT count(*)::bigint FROM w JOIN e0 USING (u, v)) AS n_triangles""".stripMargin)),

    // Semi-supervised label propagation: a 10% audited seed labeling spread
    // over the symmetrized embedding kNN graph by two synchronous
    // majority-vote rounds (ties to the smallest label, seeds clamped,
    // unlabeled-neighbor nodes stay out) — how a 100 TB corpus inherits
    // topic/quality labels from a small hand-audited sample. Integer votes
    // + total tie order make the full labeling deterministic, so the oracle
    // unrolls both rounds over the same LSH kNN graph CTE; origin_round
    // records which round produced each node's FINAL value.
    ("graph_label_spread",
      (s: SparkSession, d: String) =>
        Artifacts.labelSpreadChain(Tables.embeddings(s, d)),
      Some(labelSpreadOracle)),

    // WARM twin of graph_label_spread: the propagated labeling loads from
    // the persisted artifact (Artifacts.labelSpread — built once per
    // (sf-dir, family) per JVM) and serves as a PLAIN
    // PARQUET SCAN — zero exchanges, zero aggregates, no graph subtree —
    // gated on the SAME oracle as the training twin. This is how a
    // propagated corpus labeling is actually consumed at 100 TB: train on
    // the audited snapshot once, join the label table everywhere.
    ("graph_label_spread_served",
      (s: SparkSession, d: String) =>
        s.read.parquet(Artifacts.labelSpread(s, d))
          .select(col("node"), col("label"), col("is_seed"),
            col("origin_round")),
      Some(labelSpreadOracle)),

    // Incremental label ADMISSION — the dedup_incremental shape on the
    // graph family: the lowest-4/5 slice plays the already-propagated base
    // (2 full rounds, the graph_label_spread chain), the top 1/5 is the
    // arriving batch. New vectors take candidates from shared LSH buckets
    // (same planes), keep top-5 base neighbors by exact cosine, and inherit
    // the majority base label in ONE vote round — ingest-cost labeling,
    // never corpus-cost re-propagation. Audited new docs (vec_id % 10)
    // keep their own label, clamped. Eager scalar cut, same null-max empty
    // guard as dedup_incremental.
    ("graph_label_spread_incremental",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cutBoxed = emb.agg(floor(max(col("vec_id")) * 4 / 5).cast("long"))
          .head().getAs[java.lang.Long](0)
        if (cutBoxed == null)
          emb.filter(lit(false)).select(col("vec_id").as("node"),
            col("label").cast("int").as("label"), lit(1).as("is_seed"),
            lit(0L).as("n_votes"))
        else {
          val cut = cutBoxed.longValue()
          val old = emb.filter(col("vec_id") < cut)
          val nw = emb.filter(col("vec_id") >= cut)
          val oldLab = Artifacts.labelSpreadChain(old)
            .select(col("node"), col("label"))
          val newSeeds = nw.filter(col("vec_id") % 10 === 0)
            .select(col("vec_id").as("node"), col("label"))
          Graph.labelAdmit(old, oldLab, nw, newSeeds, "vec_id", "embedding",
            k = 5, nBands = 4, rowsPerBand = 2, dim = 64)
        }
      },
      Some(labelAdmitOracle)),

    // Min-max feature scaling: per-dimension corpus min/max fitted eagerly
    // to plan-time literals (the bm25-scalars pattern — no 1-row broadcast
    // join), transform stays a zero-shuffle projection. Scalar projections
    // + quantized checksum pin all 64 dims.
    ("emb_minmax_scale",
      (s: SparkSession, d: String) => {
        val dim = 64
        val emb = Tables.embeddings(s, d)
        val (mins, maxs) = Embeddings.minMaxStats(emb, col("embedding"), dim)
        val scaled = Embeddings.minMaxScale(col("embedding"), mins, maxs)
        emb.select(col("vec_id"),
          element_at(scaled, 1).as("s0"), element_at(scaled, 2).as("s1"),
          element_at(scaled, 3).as("s2"), element_at(scaled, 4).as("s3"),
          aggregate(transform(scaled, x => floor(x * lit(1048576.0)).cast("long")),
            lit(0L), (a, x) => a + x).as("qsum"))
      },
      Some {
        // aggregates cannot appear inside DuckDB lambdas — build the
        // min/max vectors as explicit per-dimension aggregate lists
        val mnList = (1 to 64).map(i => s"min(ve[$i])").mkString(", ")
        val mxList = (1 to 64).map(i => s"max(ve[$i])").mkString(", ")
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |stats AS (
          |  SELECT [$mnList] AS mn,
          |         [$mxList] AS mx
          |  FROM v),
          |sc AS (
          |  SELECT vec_id,
          |         list_transform(range(1, 65),
          |           i -> CASE WHEN mx[i] = mn[i] THEN 0.0
          |                ELSE (ve[i] - mn[i]) / (mx[i] - mn[i]) END) AS sv
          |  FROM v, stats)
          |SELECT vec_id, sv[1] AS s0, sv[2] AS s1, sv[3] AS s2, sv[4] AS s3,
          |       list_sum(list_transform(sv, x -> floor(x * 1048576.0)::bigint))::bigint AS qsum
          |FROM sc""".stripMargin
      }),

    // Robust per-group outlier profile: value quantized to exact longs so
    // n/Σq/Σq² are order-independent; mean/variance/z-threshold derived in
    // identical double arithmetic on both engines. The variance-aggregate
    // shape (sum/sum-of-squares through one exchange, stats broadcast back).
    ("events_outliers",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("q"))
        val stats = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
            sum(col("q") * col("q")).as("ss"))
          .withColumn("mean_q", col("s").cast("double") / col("n"))
          .withColumn("var_q",
            (col("ss").cast("double") - col("s").cast("double") * col("s").cast("double") / col("n"))
              / col("n"))
          .select(col("event_type"), col("n"), col("mean_q"), col("var_q"))
        ev.join(broadcast(stats), "event_type")
          .withColumn("is_out",
            (abs(col("q").cast("double") - col("mean_q")) >
              lit(1.5) * sqrt(col("var_q"))).cast("int"))
          .groupBy(col("event_type"), col("n"), col("mean_q"), col("var_q"))
          .agg(sum(col("is_out")).as("n_outliers"))
      },
      Some(
        """WITH ev AS (
          |  SELECT event_type, floor(value * 1000)::bigint AS q FROM events),
          |stats AS (
          |  SELECT event_type, count(*) AS n,
          |         cast(sum(q) AS double) / count(*) AS mean_q,
          |         (cast(sum(q * q) AS double)
          |            - cast(sum(q) AS double) * cast(sum(q) AS double) / count(*))
          |           / count(*) AS var_q
          |  FROM ev GROUP BY 1)
          |SELECT event_type, n, mean_q, var_q,
          |       sum(CASE WHEN abs(q::double - mean_q) > 1.5 * sqrt(var_q)
          |                THEN 1 ELSE 0 END)::bigint AS n_outliers
          |FROM ev JOIN stats USING (event_type)
          |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // ---- ANN scale path: hyperplane-LSH bucket assignment -----------------
    // Bucket id = sign bits of 8 md5-derived pseudo-random hyperplane
    // projections. Deterministic across engines: coefficients come from the
    // portable hash and both sides fold the projection sum left-to-right.
    ("sim_lsh_buckets",
      (s: SparkSession, d: String) =>
        Tables.embeddings(s, d).select(col("vec_id"),
          Similarity.lshBucket(Similarity.asDouble(col("embedding")), 8).as("bucket")),
      Some(
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings)
          |SELECT vec_id,
          |       list_sum(list_transform(generate_series(0, 7), p ->
          |         CASE WHEN list_sum(list_transform(generate_series(0, 63), d ->
          |                ve[d + 1] * ((('0x' || substr(md5(p || ':' || d), 1, 15))::bigint
          |                              / 1.152921504606846976e18) * 2 - 1))) >= 0
          |              THEN cast(pow(2.0, p) AS bigint) ELSE 0 END))::bigint AS bucket
          |FROM v""".stripMargin)),

    // ---- ANN recall gates: approx top-k vs brute force, per query ---------
    // Both sides are deterministic (md5-derived planes/centroids, unique-id
    // tie-breaks), so recall itself is oracle-checkable: the DuckDB oracle
    // recomputes the approximate AND exact top-k and must land on the exact
    // same per-query hit counts.
    ("sim_recall_lsh",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val brute = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.bucketedTopK(q, emb, "vec_id", "embedding", 5, nPlanes = 8)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |bk AS (
          |  SELECT vec_id,
          |         list_sum(list_transform(generate_series(0, 7), p ->
          |           CASE WHEN list_sum(list_transform(generate_series(0, len(ve) - 1), d ->
          |                  ve[d + 1] * ((('0x' || substr(md5(p || ':' || d), 1, 15))::bigint
          |                                / 1.152921504606846976e18) * 2 - 1))) >= 0
          |                THEN cast(pow(2.0, p) AS bigint) ELSE 0 END))::bigint AS bucket
          |  FROM v),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5),
          |approx AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q
          |    JOIN bk qb ON qb.vec_id = q.vec_id
          |    JOIN bk cb ON cb.bucket = qb.bucket AND cb.vec_id != q.vec_id
          |    JOIN v c ON c.vec_id = cb.vec_id)
          |  WHERE rnk <= 5)
          |SELECT b.query_id,
          |       count(*) AS n_true,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |         / count(*) AS recall
          |FROM brute b
          |LEFT JOIN approx a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          |GROUP BY 1""".stripMargin)),

    // MULTI-PROBE LSH recall (Similarity.bucketedTopKMultiProbe —
    // verdict-r16 item 6, Lv et al.'s standard production lever): each
    // query also scores the single-bit-flip neighbor buckets of its 5
    // closest hyperplanes (smallest |projection|, deterministic order),
    // lifting recall at ZERO index cost — the corpus keeps one bucket
    // per vector; only the query fans out nProbes = 6×. The probe
    // sequence is a
    // deterministic function of md5-derived projections, so measured
    // recall itself is the oracle-gated value (the sim_recall_lsh
    // precedent) — compare the two rows for the uplift.
    ("sim_recall_lsh_multiprobe",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val brute = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.bucketedTopKMultiProbe(q, emb, "vec_id",
            "embedding", 5, nPlanes = 8, nProbes = 6)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |bkp AS (
          |  SELECT vec_id, p,
          |         list_sum(list_transform(generate_series(0, len(ve) - 1), d ->
          |           ve[d + 1] * ((('0x' || substr(md5(p || ':' || d), 1, 15))::bigint
          |                         / 1.152921504606846976e18) * 2 - 1))) AS proj
          |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS p)),
          |bk AS (
          |  SELECT vec_id,
          |         sum(CASE WHEN proj >= 0 THEN cast(pow(2.0, p) AS bigint)
          |                  ELSE 0 END)::bigint AS bucket
          |  FROM bkp GROUP BY 1),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |flips AS (
          |  SELECT vec_id, p,
          |         row_number() OVER (PARTITION BY vec_id
          |                            ORDER BY abs(proj), p) AS rk
          |  FROM bkp WHERE vec_id < 10),
          |probes AS (
          |  SELECT vec_id, bucket AS pb FROM bk WHERE vec_id < 10
          |  UNION ALL
          |  SELECT f.vec_id, xor(b.bucket, cast(pow(2.0, f.p) AS bigint)) AS pb
          |  FROM flips f JOIN bk b USING (vec_id) WHERE f.rk <= 5),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5),
          |approx AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q
          |    JOIN probes pr ON pr.vec_id = q.vec_id
          |    JOIN bk cb ON cb.bucket = pr.pb AND cb.vec_id != q.vec_id
          |    JOIN v c ON c.vec_id = cb.vec_id)
          |  WHERE rnk <= 5)
          |SELECT b.query_id,
          |       count(*) AS n_true,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |         / count(*) AS recall
          |FROM brute b
          |LEFT JOIN approx a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          |GROUP BY 1""".stripMargin)),

    // The multiprobe QUALITY/COST CURVE (r18): corpus-wide recall@5 at
    // nProbes ∈ {1, 2, 4, 6, 8} in ONE frame — the dial a deployment
    // actually turns (probe count multiplies only the query-side scan
    // fraction, nProbes/2^nPlanes; the index never changes), measured so
    // the recall-per-probe trade is a pinned number instead of folklore.
    // nProbes = 1 reproduces the single-probe bucketedTopK row's recall
    // by construction; recall is monotone in nProbes (supersets of
    // candidates — spec-pinned in SimilaritySpec). The brute truth AND
    // the corpus bucket assignment are each checkpointed once — five
    // tiers share one corpus-wide LSH projection pass through the
    // SERVED form (bit-identical to the in-query form, SimilaritySpec)
    // instead of re-deriving the 8-plane md5 projections per tier.
    ("sim_recall_multiprobe_curve",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val brute = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint()
        val buckets = emb.select(col("vec_id"),
            Similarity.lshBucket(Similarity.asDouble(col("embedding")), 8)
              .as("bucket"))
          .localCheckpoint()
        def tier(p: Int): DataFrame = {
          val approx = Similarity.bucketedTopKMultiProbeServed(q, emb,
              buckets, "vec_id", "embedding", 5, nPlanes = 8, nProbes = p)
            .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
          brute
            .join(approx, Seq("query_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("n_true"),
              sum(coalesce(col("hit"), lit(0))).as("n_hit"))
            .withColumn("n_probes", lit(p))
        }
        Seq(1, 2, 4, 6, 8).map(tier).reduce(_ unionByName _)
          .select(col("n_probes"), col("n_true"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_true")).as("recall"))
      },
      Some(
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |bkp AS (
          |  SELECT vec_id, p,
          |         list_sum(list_transform(generate_series(0, len(ve) - 1), d ->
          |           ve[d + 1] * ((('0x' || substr(md5(p || ':' || d), 1, 15))::bigint
          |                         / 1.152921504606846976e18) * 2 - 1))) AS proj
          |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS p)),
          |bk AS (
          |  SELECT vec_id,
          |         sum(CASE WHEN proj >= 0 THEN cast(pow(2.0, p) AS bigint)
          |                  ELSE 0 END)::bigint AS bucket
          |  FROM bkp GROUP BY 1),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |flips AS (
          |  SELECT vec_id, p,
          |         row_number() OVER (PARTITION BY vec_id
          |                            ORDER BY abs(proj), p) AS rk
          |  FROM bkp WHERE vec_id < 10),
          |ps AS (SELECT unnest([1, 2, 4, 6, 8]) AS np),
          |probes AS (
          |  SELECT ps.np, b.vec_id, b.bucket AS pb
          |  FROM bk b CROSS JOIN ps WHERE b.vec_id < 10
          |  UNION ALL
          |  SELECT ps.np, f.vec_id, xor(b.bucket, cast(pow(2.0, f.p) AS bigint)) AS pb
          |  FROM flips f JOIN bk b USING (vec_id) CROSS JOIN ps
          |  WHERE f.rk <= ps.np - 1),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5),
          |approx AS (
          |  SELECT np, query_id, neighbor_id FROM (
          |    SELECT pr.np, q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY pr.np, q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q
          |    JOIN probes pr ON pr.vec_id = q.vec_id
          |    JOIN bk cb ON cb.bucket = pr.pb AND cb.vec_id != q.vec_id
          |    JOIN v c ON c.vec_id = cb.vec_id)
          |  WHERE rnk <= 5)
          |SELECT ps.np::int AS n_probes,
          |       count(*) AS n_true,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |         / count(*) AS recall
          |FROM ps CROSS JOIN brute b
          |LEFT JOIN approx a ON a.np = ps.np AND a.query_id = b.query_id
          |                  AND a.neighbor_id = b.neighbor_id
          |GROUP BY 1""".stripMargin)),

    ("sim_recall_ivf",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val brute = Similarity.cosineTopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 5,
            nCells = 16, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      // Oracle replicates ivfTopK's DEFAULT path: two unrolled k-means
      // iterations (decimal-routed means, bit-exact) from the 16 lowest-id
      // seeds, then probe/assign against the trained cells c2.
      Some {
        def assign(cents: String, out: String) =
          s"""$out AS (SELECT vec_id, ve, cell_id FROM (
             |  SELECT v.vec_id, v.ve, c.cell_id,
             |         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             |           list_dot_product(v.ve, c.cellv)
             |             / (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(c.cellv, c.cellv))) DESC,
             |           c.cell_id) AS rn
             |  FROM v CROSS JOIN $cents c) WHERE rn = 1)"""
        def update(from: String, out: String) =
          s"""$out AS (
             |  SELECT cell_id, list(cx ORDER BY dim) AS cellv FROM (
             |    SELECT cell_id, d AS dim,
             |           cast(sum(cast(ve[d + 1] AS decimal(30,15))) AS double) / count(*) AS cx
             |    FROM $from CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
             |    GROUP BY 1, 2)
             |  GROUP BY 1)"""
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
          |           FROM embeddings),
          |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::int AS cell_id, ve AS cellv
          |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
          |${assign("c0", "a0")},
          |${update("a0", "c1")},
          |${assign("c1", "a1")},
          |${update("a1", "c2")},
          |ranked AS (
          |  SELECT v.vec_id, v.ve, c.cell_id,
          |         row_number() OVER (PARTITION BY v.vec_id ORDER BY
          |           list_dot_product(v.ve, c.cellv)
          |             / (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(c.cellv, c.cellv))) DESC,
          |           c.cell_id) AS cell_rank
          |  FROM v CROSS JOIN c2 c),
          |assigned AS (SELECT vec_id, ve, cell_id FROM ranked WHERE cell_rank = 1),
          |probes AS (SELECT vec_id, ve, cell_id FROM ranked WHERE cell_rank <= 4 AND vec_id < 10),
          |q AS (SELECT * FROM v WHERE vec_id < 10),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |             list_dot_product(q.ve, c.ve)
          |               / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) DESC,
          |             c.vec_id) AS rnk
          |    FROM q CROSS JOIN v c WHERE q.vec_id != c.vec_id)
          |  WHERE rnk <= 5),
          |approx AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY p.vec_id ORDER BY
          |             list_dot_product(p.ve, a.ve)
          |               / (sqrt(list_dot_product(p.ve, p.ve)) * sqrt(list_dot_product(a.ve, a.ve))) DESC,
          |             a.vec_id) AS rnk
          |    FROM probes p JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id != p.vec_id)
          |  WHERE rnk <= 5)
          |SELECT b.query_id,
          |       count(*) AS n_true,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit,
          |       cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS double)
          |         / count(*) AS recall
          |FROM brute b
          |LEFT JOIN approx a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          |GROUP BY 1""".stripMargin
      }),

    // ---- IVF cell training: deterministic spherical k-means ---------------
    // Two fixed Lloyd iterations from lowest-id seeds; centroid means are
    // decimal-routed (order-independent), so the trained cells and the final
    // assignment are bit-exact reproducible — the DuckDB oracle unrolls the
    // same two iterations.
    ("sim_ivf_kmeans_cells",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
        Similarity.assignCells(emb, cent, "vec_id", "embedding")
          .select(col("vec_id"), col("cell_id"))
      },
      Some {
        def assign(cents: String, out: String) =
          s"""$out AS (SELECT vec_id, ve, cell_id FROM (
             |  SELECT v.vec_id, v.ve, c.cell_id,
             |         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             |           list_dot_product(v.ve, c.cellv)
             |             / (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(c.cellv, c.cellv))) DESC,
             |           c.cell_id) AS rn
             |  FROM v CROSS JOIN $cents c) WHERE rn = 1)"""
        def update(from: String, out: String) =
          s"""$out AS (
             |  SELECT cell_id, list(cx ORDER BY dim) AS cellv FROM (
             |    SELECT cell_id, d AS dim,
             |           cast(sum(cast(ve[d + 1] AS decimal(30,15))) AS double) / count(*) AS cx
             |    FROM $from CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
             |    GROUP BY 1, 2)
             |  GROUP BY 1)"""
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS ve
           |           FROM embeddings),
           |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::int AS cell_id, ve AS cellv
           |       FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
           |${assign("c0", "a0")},
           |${update("a0", "c1")},
           |${assign("c1", "a1")},
           |${update("a1", "c2")},
           |${assign("c2", "a2")}
           |SELECT vec_id, cell_id FROM a2""".stripMargin
      }),

    // Product quantization: per-subspace codebooks (joint Lloyd, m=4 × 16
    // dims, ksub=16, 2 iters) and the code each vector compresses to — the
    // IVF-PQ memory story at 100 TB (m small ints per vector in RAM instead
    // of dim floats). The oracle retrains both codebook iterations in CTEs.
    ("sim_pq_codes",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2)
        Similarity.pqEncode(emb, cents, "vec_id", "embedding", m = 4)
      },
      Some(PqOracle.codesSql)),

    // Incremental re-encode: the snapshot diff (corpus_snapshot_diff's
    // schedule) picks the added/changed docs of crawl B, and ONLY those are
    // PQ-encoded against the STATIC codebook (collectCodebook +
    // pqEncodeStatic — the serving-side artifact path). The operational
    // shape of "re-embed only what changed": delta discovery is one
    // full-outer fingerprint join, the encode touches |delta| vectors, and
    // unchanged docs keep their stored codes.
    ("corpus_incremental_codes",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val a = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("fp"))
        val b = docs.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("fp"))
        val delta = Layout.snapshotDiff(a, b, "doc_id")
          .filter(col("status").isin("added", "changed"))
          .select(col("id").as("vec_id"))
        val codebook = Similarity.collectCodebook(
          Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, ksub = 16,
            iters = 2))
        Similarity.pqEncodeStatic(emb.join(delta, Seq("vec_id")), codebook,
          "vec_id", "embedding", m = 4)
      },
      Some(PqOracle.incrementalCodesSql)),

    // ADC top-k over the PQ codes: query exact, corpus compressed, distance
    // = sum over subspaces of the precomputed query→codeword partial — the
    // lookup-table trick as a broadcast join, zero corpus shuffle before
    // the per-(query,vec) sum.
    ("sim_pq_adc_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2)
        val codes = Similarity.pqEncode(emb, cents, "vec_id", "embedding", m = 4)
        Similarity.pqAdcTopK(emb.filter(col("vec_id") < 5), codes, cents,
          "vec_id", "embedding", m = 4, k = 5)
      },
      Some(PqOracle.adcSql)),

    // Recall gate for ADC: fraction of the exact L2 top-5 the compressed
    // search recovers, per query — the measured answer to "what does 32×
    // compression cost in quality", pinned cross-engine.
    ("sim_recall_pq",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2)
        val codes = Similarity.pqEncode(emb, cents, "vec_id", "embedding", m = 4)
        val q = emb.filter(col("vec_id") < 5)
        val brute = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.pqAdcTopK(q, codes, cents,
            "vec_id", "embedding", m = 4, k = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(PqOracle.recallSql)),

    // ADC shortlist → exact re-rank: the production IVF-PQ serving shape —
    // compressed codes shortlist 50 candidates, only those touch full
    // vectors. The recall delta vs sim_recall_pq is the measured value of
    // re-ranking (compression's ordering noise concentrates near the
    // boundary, so a 10·k shortlist recovers most of it).
    ("sim_recall_pq_rerank",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2)
        val codes = Similarity.pqEncode(emb, cents, "vec_id", "embedding", m = 4)
        val q = emb.filter(col("vec_id") < 5)
        val brute = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.pqRerankTopK(q, codes, cents, emb,
            "vec_id", "embedding", m = 4, shortlist = 50, k = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(PqOracle.rerankRecallSql)),

    // The full IVF-PQ composite (IVFADC): coarse 16-cell quantizer →
    // integer residuals per inverted list → residual codebook → each query
    // probes its 4 nearest cells and ADC-scores ONLY their members. The
    // candidate space prunes to ~nProbe/nCells of the corpus before any
    // distance work — the 100 TB ANN serving shape. Oracle retrains both
    // quantizers and replays the probe + ADC chain in CTEs.
    ("sim_ivfpq_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", m = 4, ksub = 16, iters = 2,
          nCells = 16, nProbe = 4, k = 5)
      },
      Some(PqOracle.ivfPqSql)),

    // The WARM twin of sim_ivfpq_topk: quantizers + packed codes are a
    // fixture-persisted artifact (Artifacts.ivfPq — trained once per
    // sf-dir/JVM at catalog construction, parquet round-trip), and the
    // returned frame is the pure serving plan: ivfPqSearchStatic's literal
    // probe + stream-static code join + projection ADC, then the sink-side
    // top-k rank. Gated on the SAME oracle as the training row — the
    // train/persist/reload/serve ladder must be indistinguishable from
    // training in-query. Bench's min-of-2 runs measures the warm shape;
    // run1 keeps the cold build+serve number (verdict-r11 item 2).
    ("sim_ivfpq_served",
      (s: SparkSession, d: String) => ivfPqTop5Served(s, d),
      Some(PqOracle.ivfPqSql)),

    // Retrieval-quality grading of the ANN ladder itself (the eval ↔ sim
    // composition, verdict-r14 item 2's second half): NDCG@5 + reciprocal
    // rank of the IVF-PQ ranking against EXACT-L2 graded relevance
    // (rel = 6 − exact rank for the true top-5, 0 otherwise). Where the
    // recall rows count set membership, this grades ORDER — an ANN tier
    // that returns the right five in the wrong order scores < 1 here and
    // 1.0 there, which is exactly the quality dial a ranking consumer
    // tunes. Same plan-literal DCG weight table as the BM25 eval rows.
    ("eval_ndcg_ann",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        // the graded subject is the PRODUCTION serving path (warm
        // artifact search — identical output to the in-query-trained
        // form, so one oracle gates both); only the relevance baseline
        // pays an exact pass
        val approx = ivfPqTop5Served(s, d)
        val brute = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("brute_rank"))
        val hits = approx.join(brute, Seq("query_id", "neighbor_id"), "left")
          .withColumn("rel",
            coalesce(lit(6L) - col("brute_rank"), lit(0L)))
        Eval.ndcgAtK(hits, col("query_id"), col("neighbor_id"),
            -col("adc_d2"), col("rel"), k = 5)
          .withColumnRenamed("query", "query_id")
      },
      Some(PqOracle.ndcgAnnSql)),

    // Recall@5 + MAP of the WHOLE pruning/compression ladder against ONE
    // exact-L2 baseline (Eval.recallApAtK / recallMapSummary —
    // verdict-r15 item 4): four tiers (LSH planes, IVF probe, PQ-ADC,
    // IVF-PQ composite — the served path), each graded per query against
    // the same brute truth and rolled up per tier, so a tier regression
    // surfaces as ONE row moving in one frame instead of four separate
    // recall rows drifting independently. MAP grades ORDER within the
    // hit set (AP in 2^20 fixed point, floor-div exact cross-engine);
    // recall grades membership. The truth pass is the only brute scan;
    // every tier reuses its own row's machinery unchanged.
    ("eval_recall_map_ann",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        // ONE brute pass, materialized: recallApAtK references truth twice
        // (hit join + n_true) and five tiers grade against it, so the
        // un-checkpointed subtree replayed the exact-L2 scan+window 10×
        // inside one plan (plans/r18/eval_recall_map_ann_truthreplay_*).
        // 25 rows — the cents-checkpoint discipline, values unchanged.
        val truth = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
          .localCheckpoint()
        def grade(name: String, approx: DataFrame): DataFrame =
          Eval.recallMapSummary(
            Eval.recallApAtK(approx, truth, col("query_id"),
                col("neighbor_id"), col("rank"), col("query_id"),
                col("neighbor_id"))
              .withColumn("tier", lit(name)),
            Seq("tier"))
        // the PQ codebook is 64 tiny rows consumed by two branches (encode
        // + ADC LUT) — checkpoint it so the two-iteration Lloyd subtree
        // runs once, not once per consumer
        val cents = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4,
          ksub = 16, iters = 2).localCheckpoint()
        val codes = Similarity.pqEncode(emb, cents, "vec_id", "embedding", m = 4)
        grade("lsh", Similarity.bucketedTopK(q, emb, "vec_id", "embedding", 5,
            nPlanes = 8))
          // the multiprobe tier (verdict-r17 item 2): the recall lever a
          // user would actually pull when the lsh tier under-recalls —
          // same planes, query-side-only 6× probe fan-out
          .unionByName(grade("lsh_mp", Similarity.bucketedTopKMultiProbe(q,
            emb, "vec_id", "embedding", 5, nPlanes = 8, nProbes = 6)))
          .unionByName(grade("ivf", Similarity.ivfTopK(q, emb, "vec_id",
            "embedding", 5, nCells = 16, nProbe = 4)))
          .unionByName(grade("pq", Similarity.pqAdcTopK(q, codes, cents,
            "vec_id", "embedding", m = 4, k = 5)))
          .unionByName(grade("ivfpq", ivfPqTop5Served(s, d)))
      },
      Some(PqOracle.recallMapAnnSql)),

    // The WARM twin of eval_recall_map_ann (verdict-r16 item 4): the
    // three retrain-per-run tiers serve from Artifacts.annEval — LSH
    // corpus buckets, IVF centroids + inverted lists, the raw-vector PQ
    // codebook + codes — and the ivfpq tier was already the served path,
    // so the only non-lookup work left is the truth pass (the exact-L2
    // baseline is the EVAL's own honest cost, same as eval_ndcg_ann).
    // Served tiers are bit-identical to their training twins (persisted
    // longs/doubles round-trip losslessly; same expressions, same
    // tie-breaks), so the SAME oracle gates both rows.
    ("eval_recall_map_ann_served",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        // same 10×-replay cut as the training row: one brute pass,
        // materialized once (25 rows), values unchanged
        val truth = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
          .localCheckpoint()
        def grade(name: String, approx: DataFrame): DataFrame =
          Eval.recallMapSummary(
            Eval.recallApAtK(approx, truth, col("query_id"),
                col("neighbor_id"), col("rank"), col("query_id"),
                col("neighbor_id"))
              .withColumn("tier", lit(name)),
            Seq("tier"))
        val r = Artifacts.annEval(s, d)
        grade("lsh", Similarity.bucketedTopKServed(q, emb,
            Tables.artifact(s, s"$r/lsh_corpus"), "vec_id", "embedding", 5,
            nPlanes = 8))
          // served multiprobe reads the SAME lsh_corpus buckets — only
          // the query side fans out, so the tier is artifact-free
          .unionByName(grade("lsh_mp", Similarity.bucketedTopKMultiProbeServed(
            q, emb, Tables.artifact(s, s"$r/lsh_corpus"), "vec_id",
            "embedding", 5, nPlanes = 8, nProbes = 6)))
          .unionByName(grade("ivf", Similarity.ivfTopKServed(q, emb,
            Tables.artifact(s, s"$r/ivf_corpus"),
            s.read.parquet(s"$r/ivf_centroids"), "vec_id", "embedding", 5,
            nProbe = 4)))
          .unionByName(grade("pq", Similarity.pqAdcTopK(q,
            Tables.artifact(s, s"$r/pq_codes"),
            s.read.parquet(s"$r/pq_codebook"), "vec_id", "embedding",
            m = 4, k = 5)))
          .unionByName(grade("ivfpq", ivfPqTop5Served(s, d)))
      },
      Some(PqOracle.recallMapAnnSql)),

    // The complete production ANN query path: IVF-PQ probe → ADC shortlist
    // (50) → exact re-rank → recall vs brute. Re-ranking recovers ADC's
    // ordering noise; the residue is the probe's own membership ceiling
    // (raise nProbe, not shortlist, to move it) — the quality/cost dial a
    // 100 TB deployment actually turns, pinned cross-engine.
    ("sim_recall_ivfpq_rerank",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        val brute = Similarity.l2TopK(q, emb, "vec_id", "embedding", 5)
        val approx = Similarity.ivfPqRerankTopK(q, emb, "vec_id", "embedding",
            m = 4, ksub = 16, iters = 2, nCells = 16, nProbe = 4,
            shortlist = 50, k = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        brute.select(col("query_id"), col("neighbor_id"))
          .join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      },
      Some(PqOracle.ivfPqRerankRecallSql)),

    // Frame sampling: n evenly spaced byte windows per payload — the video
    // keyframe-extraction dataflow with the codec swapped for a byte slice.
    // Payload is ASCII-safe test data, so DuckDB verifies via substring.
    ("multimodal_frames",
      (s: SparkSession, d: String) => {
        val withBin = Tables.documents(s, d).withColumn("bin", col("text").cast("binary"))
        Multimodal.sampleFrames(withBin, col("doc_id"), col("bin"), n = 4)
          .select(col("media_id"), col("frame_idx"),
            length(col("frame_bytes")).as("frame_len"),
            md5(col("frame_bytes")).as("frame_hash"))
      },
      Some(
        """SELECT doc_id AS media_id, i::int AS frame_idx,
          |       length(f)::int AS frame_len,
          |       md5(f) AS frame_hash
          |FROM (SELECT doc_id, i,
          |             substring(text, ((i * length(text)) // 4 + 1)::int, 16) AS f
          |      FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i))""".stripMargin)),

    // Container decode with an OFFSET INDEX (toy GVID): variable-size GIMG
    // frames behind a uint32 index table, every 2nd frame located through
    // the index and header-decoded — offset indirection, the real-container
    // step past fixed-stride slicing. Spark must parse the actual bytes it
    // built (index + per-frame headers); the oracle recomputes the
    // generation SCHEDULE (the decode_header convention). Corrupt containers
    // (doc_id % 13, XVID magic) emit zero frames.
    ("multimodal_video_frames",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val n = (col("doc_id") % 4 + 1).cast("int")
        def w(i: Column) = ((col("doc_id") + lit(7L) * i) % 300 + 1).cast("int")
        def h(i: Column) = ((col("doc_id") + lit(11L) * i) % 200 + 1).cast("int")
        def pix(i: Column) = ((col("doc_id") + i) % 5).cast("int")
        def fsize(i: Column) = lit(9L) + pix(i).cast("long")
        def frame(i: Column) = concat(
          lit("GIMG".getBytes("US-ASCII")),
          unhex(lpad(hex(w(i)), 4, "0")),
          unhex(lpad(hex(h(i)), 4, "0")),
          unhex(lit("01")),
          lit("AAAA").substr(lit(1), pix(i)).cast("binary"))
        val idxSeq = sequence(lit(0), n - 1)
        def offset(i: Column) = aggregate(
          filter(idxSeq, j => j < i), lit(0L), (acc, j) => acc + fsize(j))
        val emptyBin = lit(Array.empty[Byte])
        val indexBytes = aggregate(
          transform(idxSeq, i => unhex(lpad(hex(offset(i)), 8, "0"))),
          emptyBin, (acc, b) => concat(acc, b))
        val framesBytes = aggregate(
          transform(idxSeq, i => frame(i)), emptyBin, (acc, b) => concat(acc, b))
        val magic = when(col("doc_id") % 13 === 0,
          lit("XVID".getBytes("US-ASCII")))
          .otherwise(lit("GVID".getBytes("US-ASCII")))
        val payload = concat(magic, unhex(lpad(hex(n), 4, "0")),
          indexBytes, framesBytes)
        Multimodal.videoFrameHeaders(docs.withColumn("payload", payload),
          col("doc_id"), col("payload"), stride = 2)
      },
      Some(
        """SELECT doc_id AS media_id, i::int AS frame_idx,
          |       ((doc_id + 7 * i) % 300 + 1)::double AS width,
          |       ((doc_id + 11 * i) % 200 + 1)::double AS height,
          |       1.0 AS channels,
          |       ((doc_id + i) % 5)::double AS n_pixel_bytes
          |FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
          |WHERE doc_id % 13 <> 0 AND i < doc_id % 4 + 1 AND i % 2 = 0""".stripMargin)),

    // ---- Multimodal plumbing: binary payload → metadata + stub features ---
    ("multimodal_features",
      (s: SparkSession, d: String) => {
        val withBin = Tables.documents(s, d).withColumn("bin", col("text").cast("binary"))
        Multimodal.extractFeatures(withBin, col("doc_id"), col("bin"))
          .select(col("media_id"), col("n_bytes"), col("content_hash"),
            col("features")(0).as("feature_0"), col("features")(1).as("feature_1"),
            col("features")(2).as("feature_2"), col("features")(3).as("feature_3"))
      },
      Some(
        """SELECT doc_id AS media_id,
          |       length(text)::int AS n_bytes,
          |       md5(text) AS content_hash,
          |       ('0x' || substr(md5('0:' || md5(text)), 1, 15))::bigint / 1.152921504606846976e18 AS feature_0,
          |       ('0x' || substr(md5('1:' || md5(text)), 1, 15))::bigint / 1.152921504606846976e18 AS feature_1,
          |       ('0x' || substr(md5('2:' || md5(text)), 1, 15))::bigint / 1.152921504606846976e18 AS feature_2,
          |       ('0x' || substr(md5('3:' || md5(text)), 1, 15))::bigint / 1.152921504606846976e18 AS feature_3
          |FROM documents""".stripMargin)),

    // A REAL decode through the MediaCodec seam: GIMG payloads (toy image
    // format — 4-byte magic, big-endian u16 dims, u8 channels, pixel bytes)
    // are constructed from documents, then header-parsed back by
    // GimgHeaderCodec via codegen'd substring/hex/conv — byte plumbing both
    // ways. Every 7th doc gets a corrupted magic and must take the -1
    // reject lane. The oracle never touches the bytes: it recomputes the
    // expected dimensions from the same doc_id arithmetic, so the decode is
    // checked against an INDEPENDENT derivation.
    ("multimodal_decode_header",
      (s: SparkSession, d: String) => {
        val w = (col("doc_id") % 300 + 1).cast("int")
        val h = (col("doc_id") % 200 + 1).cast("int")
        val ch = (col("doc_id") % 3 + 1).cast("int")
        val magic = when(col("doc_id") % 7 === 0, lit("XIMG")).otherwise(lit("GIMG"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(w), 4, "0")),
            unhex(lpad(hex(h), 4, "0")),
            unhex(lpad(hex(ch), 2, "0")),
            substring(col("text").cast("binary"), 1, 32)))
        Multimodal.extractFeatures(withPayload, col("doc_id"), col("payload"),
            Multimodal.GimgHeaderCodec())
          .select(col("media_id"),
            col("features")(0).as("width"), col("features")(1).as("height"),
            col("features")(2).as("channels"), col("features")(3).as("n_pixel_bytes"))
      },
      Some(
        """SELECT doc_id AS media_id,
          |       CASE WHEN doc_id % 7 = 0 THEN -1.0 ELSE (doc_id % 300 + 1)::double END AS width,
          |       CASE WHEN doc_id % 7 = 0 THEN -1.0 ELSE (doc_id % 200 + 1)::double END AS height,
          |       CASE WHEN doc_id % 7 = 0 THEN -1.0 ELSE (doc_id % 3 + 1)::double END AS channels,
          |       CASE WHEN doc_id % 7 = 0 THEN -1.0 ELSE least(32, length(text))::double END AS n_pixel_bytes
          |FROM documents""".stripMargin)),

    // A SECOND real decode through the MediaCodec seam — toy GAUD audio
    // (RIFF-header spirit: 4-byte magic, u32 BE sample rate, u16 BE
    // channels, 1-byte samples) — proving the seam generalizes across media
    // types. Every 5th doc gets a corrupted magic, every 4th has zero
    // channels; both take the -1 reject lane. The oracle recomputes the
    // expected header fields from the same doc_id arithmetic — an
    // independent derivation, never the bytes.
    ("multimodal_decode_audio",
      (s: SparkSession, d: String) => {
        val rate = (col("doc_id") % 48000 + 8000).cast("int")
        val ch = (col("doc_id") % 4).cast("int")
        val magic = when(col("doc_id") % 5 === 0, lit("XAUD")).otherwise(lit("GAUD"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(rate), 8, "0")),
            unhex(lpad(hex(ch), 4, "0")),
            substring(col("text").cast("binary"), 1, 24)))
        Multimodal.extractFeatures(withPayload, col("doc_id"), col("payload"),
            Multimodal.GaudHeaderCodec())
          .select(col("media_id"),
            col("features")(0).as("sample_rate"), col("features")(1).as("channels"),
            col("features")(2).as("n_sample_bytes"), col("features")(3).as("n_frames"))
      },
      Some(
        """SELECT doc_id AS media_id,
          |       CASE WHEN doc_id % 5 = 0 OR doc_id % 4 = 0 THEN -1.0
          |            ELSE (doc_id % 48000 + 8000)::double END AS sample_rate,
          |       CASE WHEN doc_id % 5 = 0 OR doc_id % 4 = 0 THEN -1.0
          |            ELSE (doc_id % 4)::double END AS channels,
          |       CASE WHEN doc_id % 5 = 0 OR doc_id % 4 = 0 THEN -1.0
          |            ELSE least(24, length(text))::double END AS n_sample_bytes,
          |       CASE WHEN doc_id % 5 = 0 OR doc_id % 4 = 0 THEN -1.0
          |            ELSE (least(24, length(text)) // (doc_id % 4))::double END AS n_frames
          |FROM documents""".stripMargin)),

    // Per-window audio frame features: the GAUD sample region cut into
    // 8-byte windows, each reduced to exact integer byte stats — the
    // energy-per-window extractor dataflow. Reject-lane payloads (bad
    // magic / zero channels) emit zero windows; the oracle recomputes the
    // same windows from the text bytes via character arithmetic (ASCII-safe
    // test data, the multimodal_frames precedent).
    ("multimodal_audio_frames",
      (s: SparkSession, d: String) => {
        val rate = (col("doc_id") % 48000 + 8000).cast("int")
        val ch = (col("doc_id") % 4).cast("int")
        val magic = when(col("doc_id") % 5 === 0, lit("XAUD")).otherwise(lit("GAUD"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(rate), 8, "0")),
            unhex(lpad(hex(ch), 4, "0")),
            substring(col("text").cast("binary"), 1, 24)))
        Multimodal.audioFrameFeatures(withPayload, col("doc_id"), col("payload"),
          windowBytes = 8)
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, substring(text, 1, 24) AS smp
          |  FROM documents
          |  WHERE doc_id % 5 <> 0 AND doc_id % 4 <> 0 AND length(text) > 0),
          |w AS (
          |  SELECT doc_id, i::int AS frame_idx,
          |         substring(smp, (i * 8 + 1)::int, 8) AS win
          |  FROM s CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE i * 8 < length(smp))
          |SELECT doc_id AS media_id, frame_idx,
          |       length(win)::int AS n_bytes,
          |       list_sum(list_transform(range(1, length(win) + 1),
          |         j -> ord(win[j])))::bigint AS byte_sum,
          |       list_min(list_transform(range(1, length(win) + 1),
          |         j -> ord(win[j])))::bigint AS byte_min,
          |       list_max(list_transform(range(1, length(win) + 1),
          |         j -> ord(win[j])))::bigint AS byte_max
          |FROM w""".stripMargin)),

    // Nearest-neighbor resize over complete GIMG images: the resized 2×2
    // raster is pinned by exact integer stats — the position-weighted byte
    // sum makes the sampled byte SEQUENCE observable, so a wrong
    // nearest-neighbor index cannot hide behind a matching total. Every 6th
    // doc gets a corrupted magic and every 9th a one-byte-short pixel
    // payload; both (and null texts) must take the -1 reject lane. The
    // oracle re-derives the sampling arithmetic over the text characters
    // (ASCII-safe test data, the multimodal_frames precedent).
    ("multimodal_resize",
      (s: SparkSession, d: String) => {
        val w = (col("doc_id") % 4 + 1).cast("long")
        val h = (col("doc_id") % 3 + 1).cast("long")
        val ch = (col("doc_id") % 2 + 1).cast("long")
        val full = (w * h * ch).cast("int")
        val pixLen = when(col("doc_id") % 9 === 0, full - 1).otherwise(full)
        val magic = when(col("doc_id") % 6 === 0, lit("XIMG")).otherwise(lit("GIMG"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(w), 4, "0")),
            unhex(lpad(hex(h), 4, "0")),
            unhex(lpad(hex(ch), 2, "0")),
            rpad(col("text"), 24, "x").cast("binary").substr(lit(1), pixLen)))
        Multimodal.imageResizeNearest(withPayload, col("doc_id"), col("payload"),
          outW = 2, outH = 2)
      },
      Some(
        """WITH px AS (
          |  SELECT doc_id,
          |         (doc_id % 4 + 1)::bigint AS w,
          |         (doc_id % 3 + 1)::bigint AS h,
          |         (doc_id % 2 + 1)::bigint AS ch,
          |         substring(rpad(text, 24, 'x'), 1,
          |           ((doc_id % 4 + 1) * (doc_id % 3 + 1) * (doc_id % 2 + 1))::int) AS pix
          |  FROM documents
          |  WHERE doc_id % 6 <> 0 AND doc_id % 9 <> 0 AND text IS NOT NULL),
          |v AS (
          |  SELECT doc_id, ch,
          |         flatten(list_transform(range(0, 4), p ->
          |           list_transform(range(0, ch), j ->
          |             ord(substr(pix,
          |               (((((p // 2) * h) // 2) * w + ((p % 2) * w) // 2) * ch + j + 1)::int,
          |               1))::bigint))) AS vals
          |  FROM px)
          |SELECT doc_id AS media_id,
          |       2::bigint AS out_w, 2::bigint AS out_h, ch AS channels,
          |       len(vals)::bigint AS n_out_bytes,
          |       list_sum(vals)::bigint AS byte_sum,
          |       list_sum(list_transform(range(1, len(vals) + 1),
          |         i -> (i - 1) * vals[i]))::bigint AS pos_weighted_sum,
          |       list_min(vals)::bigint AS byte_min,
          |       list_max(vals)::bigint AS byte_max
          |FROM v
          |UNION ALL
          |SELECT doc_id, -1, -1, -1, -1, -1, -1, -1, -1
          |FROM documents
          |WHERE doc_id % 6 = 0 OR doc_id % 9 = 0 OR text IS NULL""".stripMargin)),

    // Per-channel pixel stats (the mean-RGB / per-band-energy extractor):
    // channel k reads every C-th pixel-region byte. Odd docs carry a
    // one-byte-truncated payload and must still yield exact stats over their
    // COMPLETE pixels (decode-what's-there), while bad-magic docs (every
    // 5th) and null texts emit zero rows.
    ("multimodal_channel_stats",
      (s: SparkSession, d: String) => {
        val w = (col("doc_id") % 3 + 1).cast("long")
        val h = (col("doc_id") % 2 + 1).cast("long")
        val ch = (col("doc_id") % 3 + 1).cast("long")
        val pixLen = (w * h * ch - col("doc_id") % 2).cast("int")
        val magic = when(col("doc_id") % 5 === 0, lit("XIMG")).otherwise(lit("GIMG"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(w), 4, "0")),
            unhex(lpad(hex(h), 4, "0")),
            unhex(lpad(hex(ch), 2, "0")),
            rpad(col("text"), 18, "x").cast("binary").substr(lit(1), pixLen)))
        Multimodal.imageChannelStats(withPayload, col("doc_id"), col("payload"))
      },
      Some(
        """WITH px AS (
          |  SELECT doc_id,
          |         (doc_id % 3 + 1)::bigint AS w,
          |         (doc_id % 2 + 1)::bigint AS h,
          |         (doc_id % 3 + 1)::bigint AS ch,
          |         substring(rpad(text, 18, 'x'), 1,
          |           ((doc_id % 3 + 1) * (doc_id % 2 + 1) * (doc_id % 3 + 1)
          |             - doc_id % 2)::int) AS pix
          |  FROM documents
          |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
          |c AS (
          |  SELECT doc_id, ch, pix,
          |         least(w * h, length(pix) // ch)::bigint AS n_pix,
          |         unnest(range(0, ch)) AS channel
          |  FROM px)
          |SELECT doc_id AS media_id, channel::int AS channel, n_pix,
          |       list_sum(list_transform(range(0, n_pix),
          |         i -> ord(substr(pix, (i * ch + channel + 1)::int, 1))))::bigint AS byte_sum,
          |       list_min(list_transform(range(0, n_pix),
          |         i -> ord(substr(pix, (i * ch + channel + 1)::int, 1))))::bigint AS byte_min,
          |       list_max(list_transform(range(0, n_pix),
          |         i -> ord(substr(pix, (i * ch + channel + 1)::int, 1))))::bigint AS byte_max
          |FROM c WHERE n_pix > 0""".stripMargin)),

    // Multimodal → ANN composition: decode → per-channel feature vector →
    // quantized-bucket candidates → exact-L1 verify. Same synthesized GIMG
    // corpus as multimodal_channel_stats (reject lane included: bad-magic
    // and null-text docs contribute no features and so no pairs); duplicate
    // text families give l1 = 0 hits, near-prefix families small-l1 pairs.
    ("multimodal_near_dup",
      (s: SparkSession, d: String) => {
        val w = (col("doc_id") % 3 + 1).cast("long")
        val h = (col("doc_id") % 2 + 1).cast("long")
        val ch = (col("doc_id") % 3 + 1).cast("long")
        val pixLen = (w * h * ch - col("doc_id") % 2).cast("int")
        val magic = when(col("doc_id") % 5 === 0, lit("XIMG")).otherwise(lit("GIMG"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(w), 4, "0")),
            unhex(lpad(hex(h), 4, "0")),
            unhex(lpad(hex(ch), 2, "0")),
            rpad(col("text"), 18, "x").cast("binary").substr(lit(1), pixLen)))
        Multimodal.imageNearDup(withPayload, col("doc_id"), col("payload"))
      },
      Some(
        """WITH px AS (
          |  SELECT doc_id,
          |         (doc_id % 3 + 1)::bigint AS w,
          |         (doc_id % 2 + 1)::bigint AS h,
          |         (doc_id % 3 + 1)::bigint AS ch,
          |         substring(rpad(text, 18, 'x'), 1,
          |           ((doc_id % 3 + 1) * (doc_id % 2 + 1) * (doc_id % 3 + 1)
          |             - doc_id % 2)::int) AS pix
          |  FROM documents
          |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
          |f AS (
          |  SELECT doc_id, w, h, ch, pix,
          |         least(w * h, length(pix) // ch)::bigint AS n_pix
          |  FROM px),
          |fv AS (
          |  SELECT doc_id, w, h, ch,
          |         list_transform(range(0, ch), k ->
          |           list_sum(list_transform(range(0, n_pix),
          |             i -> ord(substr(pix, (i * ch + k + 1)::int, 1))))::bigint) AS fvec
          |  FROM f WHERE n_pix > 0),
          |bk AS (
          |  SELECT doc_id, fvec,
          |         w::varchar || ':' || h::varchar || ':' || ch::varchar || ':' ||
          |           array_to_string(list_transform(fvec, s -> (s // 64)::varchar), ',') AS bucket
          |  FROM fv),
          |bkc AS (
          |  SELECT doc_id, fvec, bucket FROM (
          |    SELECT *, count(*) OVER (PARTITION BY bucket) AS __bn FROM bk)
          |  WHERE __bn <= 1024)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       list_sum(list_transform(range(1, len(a.fvec) + 1),
          |         i -> abs(a.fvec[i] - b.fvec[i])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, len(a.fvec) + 1),
          |               i -> abs(a.fvec[i] - b.fvec[i]))) <= 24
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM bkc a JOIN bkc b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin)),

    // Audio → ANN composition (the multimodal_near_dup precedent on the
    // second modality): GAUD decode → per-8-byte-window energy vector →
    // quantized-bucket candidates → exact-L1 verify. Same synthesized GAUD
    // corpus as multimodal_audio_frames (reject lane included: bad-magic,
    // zero-channel and empty-text docs contribute no features and so no
    // pairs); duplicate text families give l1 = 0 hits, near-prefix
    // families small-l1 pairs.
    ("multimodal_audio_near_dup",
      (s: SparkSession, d: String) => {
        val rate = (col("doc_id") % 48000 + 8000).cast("int")
        val ch = (col("doc_id") % 4).cast("int")
        val magic = when(col("doc_id") % 5 === 0, lit("XAUD")).otherwise(lit("GAUD"))
        val withPayload = Tables.documents(s, d).withColumn("payload",
          concat(magic.cast("binary"),
            unhex(lpad(hex(rate), 8, "0")),
            unhex(lpad(hex(ch), 4, "0")),
            substring(col("text").cast("binary"), 1, 24)))
        Multimodal.audioNearDup(withPayload, col("doc_id"), col("payload"))
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, substring(text, 1, 24) AS smp
          |  FROM documents
          |  WHERE doc_id % 5 <> 0 AND doc_id % 4 <> 0 AND length(text) > 0),
          |w AS (
          |  SELECT doc_id, i::int AS frame_idx,
          |         substring(smp, (i * 8 + 1)::int, 8) AS win
          |  FROM s CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE i * 8 < length(smp)),
          |fv AS (
          |  SELECT doc_id, list(wsum ORDER BY frame_idx) AS fvec
          |  FROM (SELECT doc_id, frame_idx,
          |               list_sum(list_transform(range(1, length(win) + 1),
          |                 j -> ord(win[j])))::bigint AS wsum
          |        FROM w)
          |  GROUP BY doc_id),
          |bk AS (
          |  SELECT doc_id, fvec,
          |         len(fvec)::varchar || ':' ||
          |           array_to_string(list_transform(fvec,
          |             s -> (s // 64)::varchar), ',') AS bucket
          |  FROM fv),
          |bkc AS (
          |  SELECT doc_id, fvec, bucket FROM (
          |    SELECT *, count(*) OVER (PARTITION BY bucket) AS __bn FROM bk)
          |  WHERE __bn <= 1024)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       list_sum(list_transform(range(1, len(a.fvec) + 1),
          |         i -> abs(a.fvec[i] - b.fvec[i])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, len(a.fvec) + 1),
          |               i -> abs(a.fvec[i] - b.fvec[i]))) <= 24
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM bkc a JOIN bkc b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin)),

    // Video → ANN composition, completing the modality triple: GVID
    // container parse → per-frame pixel reads through the uint32 OFFSET
    // INDEX → per-frame byte-sum energy vector → quantized-bucket
    // candidates → exact-L1 verify. Frames are 2×2×1 GIMG blobs whose
    // pixels come from text slices at a doc-dependent start offset
    // (doc_id % 4 — the multimodal_near_dup pixLen precedent: it splits
    // exact-duplicate text families across buckets so the pair space stays
    // honest instead of collapsing whole families into one bucket; without
    // it this row emitted 1.67M pairs at sf0.1). Frames are fixed 13-byte
    // blobs, so offset(i) = 13i — but Spark must READ the offsets from the
    // index bytes it built, the multimodal_video_frames convention; the
    // oracle recomputes the generation schedule from the text, never the
    // bytes. Corrupt containers (doc_id % 13, XVID magic) and null texts
    // emit no features and so no pairs.
    ("multimodal_video_near_dup",
      (s: SparkSession, d: String) => {
        // payloads come from the per-sf-dir parquet fixture
        // (Artifacts.mediaPayloads / MediaFixtures.vndVideos — verdict-r16
        // item 1): a real deployment reads payloads from storage, and the
        // fixture IS that storage, so the row measures decode + bucket
        // join instead of re-paying the aggregate-HOF container synthesis
        // (measured 18 s vs 3 s at sf0.1 back when it was inlined; the
        // r16 localCheckpoint staging paid it once per RUN — this pays it
        // once per sf-dir, which also kills the sf10 synthesis-GC
        // variance band). The content schedule is unchanged; the oracle
        // recomputes it from the text, never the bytes.
        val videos = Tables.artifact(s,
          s"${Artifacts.mediaPayloads(s, d)}/vnd_videos")
        Multimodal.videoNearDup(videos,
          col("doc_id"), col("payload"), quant = 8L)
      },
      Some(
        """WITH p AS (
          |  SELECT doc_id, (doc_id % 3 + 1)::int AS n, rpad(text, 16, 'x') AS px
          |  FROM documents
          |  WHERE doc_id % 13 <> 0 AND text IS NOT NULL),
          |fv AS (
          |  SELECT doc_id,
          |         list_transform(range(0, n), i ->
          |           list_sum(list_transform(
          |             range((i * 4 + doc_id % 4 + 1)::int, (i * 4 + doc_id % 4 + 5)::int),
          |             j -> ord(px[j])))::bigint) AS fvec
          |  FROM p),
          |bk AS (
          |  SELECT doc_id, fvec,
          |         len(fvec)::varchar || ':' ||
          |           array_to_string(list_transform(fvec,
          |             s -> (s // 8)::varchar), ',') AS bucket
          |  FROM fv),
          |bkc AS (
          |  SELECT doc_id, fvec, bucket FROM (
          |    SELECT *, count(*) OVER (PARTITION BY bucket) AS __bn FROM bk)
          |  WHERE __bn <= 1024)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       list_sum(list_transform(range(1, len(a.fvec) + 1),
          |         i -> abs(a.fvec[i] - b.fvec[i])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, len(a.fvec) + 1),
          |               i -> abs(a.fvec[i] - b.fvec[i]))) <= 24
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM bkc a JOIN bkc b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin)),

    // Cross-modal asset dedup: which standalone GIMG images appear as frames
    // inside GVID videos — exact content identity through a (shape, md5)
    // digest equi-join, pixels projected away before the shuffle (the CAS
    // join shape; see Multimodal.videoImageMatch). Content schedule: both
    // modalities draw 4-byte pixel blocks from md5(source ':' n_chars), a
    // seed whose collision families stay small (max 4 docs at sf0.1 — the
    // video_near_dup pair-space lesson, checked in DuckDB before adoption:
    // 422 matches at sf0.01, 5 824 at sf0.1), while still producing genuine
    // cross-document matches at both gate scales. Videos take frame i's
    // block at offset 4i; image docs take block doc_id % 3 — so an image
    // matches the frame of every same-seed video at its block index.
    // Corrupt containers (XVID via doc_id % 13, XIMG via doc_id % 7) and
    // null texts contribute no keys and so no matches.
    ("multimodal_video_image_match",
      (s: SparkSession, d: String) => {
        // both payload tables come from the per-sf-dir parquet fixture
        // (Artifacts.mediaPayloads / MediaFixtures.vimatchPair — the
        // storage a real CAS-join deployment reads); schedule unchanged,
        // oracle recomputes it from source/n_chars arithmetic
        val r = Artifacts.mediaPayloads(s, d)
        val videos = Tables.artifact(s, s"$r/vimatch_videos")
        val images = Tables.artifact(s, s"$r/vimatch_images")
        Multimodal.videoImageMatch(videos, col("doc_id"), col("payload"),
          images, col("doc_id"), col("payload"))
      },
      Some(
        """WITH d AS (
          |  SELECT doc_id, md5(source || ':' || n_chars::varchar) AS seed
          |  FROM documents WHERE text IS NOT NULL),
          |vf AS (
          |  SELECT doc_id AS video_id, i::int AS frame_idx,
          |         substring(seed, (i * 4 + 1)::int, 4) AS pix
          |  FROM d CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE doc_id % 13 <> 0 AND i < doc_id % 3 + 1),
          |im AS (
          |  SELECT doc_id AS image_id,
          |         substring(seed, ((doc_id % 3) * 4 + 1)::int, 4) AS pix
          |  FROM d WHERE doc_id % 7 <> 0)
          |SELECT video_id, frame_idx, image_id,
          |       2::bigint AS w, 2::bigint AS h, 1::bigint AS channels
          |FROM vf JOIN im USING (pix)""".stripMargin)),

    // Cross-modal NEAR-dup (Multimodal.crossModalNearDup — verdict-r14
    // item 4): standalone images that are RESIZED copies of video frames,
    // the case the digest join above can never see. Images here are 4×4
    // nearest-neighbor 2× upscales of a 2×2 frame block — the grid-mean
    // fingerprint (per-channel region means, exact scaled longs) is
    // bit-identical across the rescale, so the (channels, quantized
    // fingerprint) bucket join finds them WITHOUT width/height in the key,
    // and the exact-L1 verify grades near-but-not-identical seeds. Pair
    // space DuckDB-counted before adoption (r16 raw-byte content — see the
    // in-row comment): 410 → 5 262 → 48 215 candidates across
    // sf0.01/0.1/1, hottest cell 5 — linear in the corpus. The default
    // hot-bucket cap (64/side) never engages at any measured scale now;
    // it remains the at-scale defense for real corpora whose common
    // assets (solid frames, boilerplate intros) saturate a cell.
    ("multimodal_cross_near_dup",
      (s: SparkSession, d: String) => {
        // payload tables from the per-sf-dir parquet fixture
        // (Artifacts.mediaPayloads / MediaFixtures.crossPair). The content
        // schedule — RAW seed bytes, 64 quant cells/dim, the r16 alphabet
        // fix that keeps the pair space linear (DuckDB-counted 410 → 5 262
        // → 48 215 across sf0.01/0.1/1, hottest cell 5) — is unchanged;
        // only the materialization moved from per-run localCheckpoints to
        // the build-once fixture (verdict-r16 item 1).
        val r = Artifacts.mediaPayloads(s, d)
        val videos = Tables.artifact(s, s"$r/cross_videos")
        val images = Tables.artifact(s, s"$r/cross_images")
        Multimodal.crossModalNearDup(videos, col("doc_id"), col("payload"),
          images, col("doc_id"), col("payload"), grid = 2, meanScale = 16L,
          quant = 64L, maxL1 = 96L)
      },
      Some(
        """WITH d AS (
          |  SELECT doc_id, md5(source || ':' || n_chars::varchar) AS seed
          |  FROM documents WHERE text IS NOT NULL),
          |vf AS (
          |  SELECT doc_id AS video_id, i::int AS frame_idx,
          |         list_transform(range(0, 4),
          |           j -> ('0x' || substring(seed, (i * 8 + 2 * j + 1)::int, 2))::bigint
          |                  * 16) AS fvec
          |  FROM d CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE doc_id % 13 <> 0 AND i < doc_id % 3 + 1),
          |im AS (
          |  SELECT doc_id AS image_id,
          |         list_transform(range(0, 4),
          |           j -> ('0x' || substring(seed,
          |                    ((doc_id % 3) * 8 + 2 * j + 1)::int, 2))::bigint
          |                  * 16) AS fvec
          |  FROM d WHERE doc_id % 7 <> 0),
          |vb AS (
          |  SELECT *, '1:' || array_to_string(list_transform(fvec,
          |           s -> (s // 64)::varchar), ',') AS bucket
          |  FROM vf),
          |ib AS (
          |  SELECT *, '1:' || array_to_string(list_transform(fvec,
          |           s -> (s // 64)::varchar), ',') AS bucket
          |  FROM im)
          |SELECT v.video_id, v.frame_idx, i.image_id,
          |       list_sum(list_transform(range(1, 5),
          |         k -> abs(v.fvec[k] - i.fvec[k])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, 5),
          |               k -> abs(v.fvec[k] - i.fvec[k]))) <= 96
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM vb v JOIN ib i USING (bucket)""".stripMargin)),

    // Shift-tolerant PERCEPTUAL near-dup (Multimodal.phashNearDup —
    // verdict-r15 item 5): the pHash idea with the DCT basis replaced by
    // the Walsh–Hadamard matrix, whose ±1 entries keep the whole chain
    // integer-exact AND make the shift-invariance provable (every v ≥ 1
    // basis row sums to zero EXACTLY — floored-cosine DCT tables only
    // approximately). Content here is per-grid-row LINEAR ramps
    // (pixel = b_j + s_j·x, params from the seed), and images are either
    // a +1-px x-TRANSLATE or a BRIGHTNESS shift of a video frame — both
    // perturb every raw grid mean (the crossModalNearDup bucket misses
    // whenever a quant cell is crossed; spec-pinned), but both leave the
    // x-frequency ≥ 1 Walsh coefficients bit-identical, so the phash
    // bucket join finds every copy with exact L1 = 0. The oracle derives
    // the coefficient closed form from the same seed arithmetic
    // (F[u][1] = −64·W_u, F[u][2] = 0, F[u][3] = −32·W_u with W the
    // Walsh transform of the slope vector — the webUrlCanonCte
    // independent-derivation precedent). Pair space DuckDB-checked
    // before adoption; per-side hot-bucket cap 64 (never engages at gate
    // scales — the slope keyspace is 25⁴).
    ("multimodal_phash_near_dup",
      (s: SparkSession, d: String) => {
        // payload tables from the per-sf-dir parquet fixture
        // (Artifacts.mediaPayloads / MediaFixtures.phashPair — the r16
        // x-lane schedule verbatim: per-grid-ROW linear ramps with params
        // from RAW seed bytes, 25 slope values per row ≈ 390k bucket
        // cells, pair space DuckDB-counted 410 / 5 396 / 61 652 / 1.85M
        // across the four decades, hottest cell 22). The r16 form's three
        // per-run localCheckpoint synthesis stages were the sf10 variance
        // band (160–324 s, GC-dominated); the fixture pays synthesis once
        // per sf-dir so the row measures Walsh decode + bucket join.
        val r = Artifacts.mediaPayloads(s, d)
        Multimodal.phashNearDup(
          Tables.artifact(s, s"$r/phash_videos"), col("doc_id"), col("payload"),
          Tables.artifact(s, s"$r/phash_images"), col("doc_id"), col("payload"),
          grid = 4, meanScale = 16L, quant = 128L, maxL1 = 96L)
      },
      Some(
        """WITH d AS (
          |  SELECT doc_id, md5(source || ':' || n_chars::varchar) AS seed
          |  FROM documents WHERE text IS NOT NULL),
          |vs AS (
          |  SELECT doc_id AS video_id, i::int AS frame_idx,
          |         list_transform(range(0, 4), j ->
          |           (('0x' || substring(seed, (i * 8 + 2 * j + 1)::int, 2))::bigint
          |              % 25) - 12) AS sv
          |  FROM d CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE doc_id % 13 <> 0 AND i < doc_id % 3 + 1),
          |im AS (
          |  SELECT doc_id AS image_id,
          |         list_transform(range(0, 4), j ->
          |           (('0x' || substring(seed,
          |                ((doc_id % 3) * 8 + 2 * j + 1)::int, 2))::bigint
          |              % 25) - 12) AS sv
          |  FROM d WHERE doc_id % 7 <> 0),
          |vw AS (
          |  SELECT video_id, frame_idx,
          |         [sv[1]+sv[2]+sv[3]+sv[4], sv[1]+sv[2]-sv[3]-sv[4],
          |          sv[1]-sv[2]-sv[3]+sv[4], sv[1]-sv[2]+sv[3]-sv[4]] AS wv
          |  FROM vs),
          |iw AS (
          |  SELECT image_id,
          |         [sv[1]+sv[2]+sv[3]+sv[4], sv[1]+sv[2]-sv[3]-sv[4],
          |          sv[1]-sv[2]-sv[3]+sv[4], sv[1]-sv[2]+sv[3]-sv[4]] AS wv
          |  FROM im),
          |vb AS (
          |  SELECT *, '1:' || array_to_string(flatten(list_transform(wv,
          |           w -> [(-64 * w) // 128, 0, (-32 * w) // 128])), ',')
          |           AS bucket
          |  FROM vw),
          |ib AS (
          |  SELECT *, '1:' || array_to_string(flatten(list_transform(wv,
          |           w -> [(-64 * w) // 128, 0, (-32 * w) // 128])), ',')
          |           AS bucket
          |  FROM iw)
          |SELECT v.video_id, v.frame_idx, i.image_id,
          |       list_sum(list_transform(range(1, 5),
          |         u -> 96 * abs(v.wv[u] - i.wv[u])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, 5),
          |               u -> 96 * abs(v.wv[u] - i.wv[u]))) <= 96
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM vb v JOIN ib i USING (bucket)""".stripMargin)),

    // The Y-SHIFT Walsh dual (verdict-r16 item 5): phashNearDup with the
    // {u ≥ 1} coefficient subset — DC and the whole u = 0 ROW (pure
    // column-profile energy, where a VERTICAL translate's perturbation
    // lands) excluded from bucket and verify — over the transposed
    // fixture lane (MediaFixtures.phashYPair: per-grid-COLUMN linear
    // ramps, images a +1-px Y-translate or brightness shift of frame
    // doc_id % 3). Same closed-form oracle as the x row with the roles
    // of u and v swapped: F[1][v] = −64·W_v, F[2][v] = 0,
    // F[3][v] = −32·W_v with W the Walsh transform of the per-column
    // slope vector, so the bucket flattens in (u outer, v inner) order
    // as [−64·W // 128]×4 ++ [0]×4 ++ [−32·W // 128]×4. A spec pins the
    // asymmetry: the y-translate copy matches at l1 = 0 here and misses
    // under the x subset (MultimodalSpec).
    ("multimodal_phash_near_dup_y",
      (s: SparkSession, d: String) => {
        val r = Artifacts.mediaPayloads(s, d)
        Multimodal.phashNearDup(
          Tables.artifact(s, s"$r/phashy_videos"), col("doc_id"), col("payload"),
          Tables.artifact(s, s"$r/phashy_images"), col("doc_id"), col("payload"),
          grid = 4, meanScale = 16L, quant = 128L, maxL1 = 96L,
          yShiftTolerant = true)
      },
      Some(
        """WITH d AS (
          |  SELECT doc_id, md5(source || ':' || n_chars::varchar) AS seed
          |  FROM documents WHERE text IS NOT NULL),
          |vs AS (
          |  SELECT doc_id AS video_id, i::int AS frame_idx,
          |         list_transform(range(0, 4), j ->
          |           (('0x' || substring(seed, (i * 8 + 2 * j + 1)::int, 2))::bigint
          |              % 25) - 12) AS sv
          |  FROM d CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
          |  WHERE doc_id % 13 <> 0 AND i < doc_id % 3 + 1),
          |im AS (
          |  SELECT doc_id AS image_id,
          |         list_transform(range(0, 4), j ->
          |           (('0x' || substring(seed,
          |                ((doc_id % 3) * 8 + 2 * j + 1)::int, 2))::bigint
          |              % 25) - 12) AS sv
          |  FROM d WHERE doc_id % 7 <> 0),
          |vw AS (
          |  SELECT video_id, frame_idx,
          |         [sv[1]+sv[2]+sv[3]+sv[4], sv[1]+sv[2]-sv[3]-sv[4],
          |          sv[1]-sv[2]-sv[3]+sv[4], sv[1]-sv[2]+sv[3]-sv[4]] AS wv
          |  FROM vs),
          |iw AS (
          |  SELECT image_id,
          |         [sv[1]+sv[2]+sv[3]+sv[4], sv[1]+sv[2]-sv[3]-sv[4],
          |          sv[1]-sv[2]-sv[3]+sv[4], sv[1]-sv[2]+sv[3]-sv[4]] AS wv
          |  FROM im),
          |vb AS (
          |  SELECT *, '1:' || array_to_string(
          |           list_transform(wv, w -> (-64 * w) // 128) ||
          |           [0, 0, 0, 0] ||
          |           list_transform(wv, w -> (-32 * w) // 128), ',') AS bucket
          |  FROM vw),
          |ib AS (
          |  SELECT *, '1:' || array_to_string(
          |           list_transform(wv, w -> (-64 * w) // 128) ||
          |           [0, 0, 0, 0] ||
          |           list_transform(wv, w -> (-32 * w) // 128), ',') AS bucket
          |  FROM iw)
          |SELECT v.video_id, v.frame_idx, i.image_id,
          |       list_sum(list_transform(range(1, 5),
          |         u -> 96 * abs(v.wv[u] - i.wv[u])))::bigint AS l1,
          |       (CASE WHEN list_sum(list_transform(range(1, 5),
          |               u -> 96 * abs(v.wv[u] - i.wv[u]))) <= 96
          |             THEN 1 ELSE 0 END)::int AS near_dup
          |FROM vb v JOIN ib i USING (bucket)""".stripMargin)),
  )
}
