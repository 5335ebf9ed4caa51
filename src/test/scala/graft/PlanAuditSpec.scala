package graft

/**
 * Catalog-wide physical-plan audit: the 100 TB discipline checks. Every
 * catalog query is planned against the sf0.001 tables and its physical plan
 * is asserted free of unbounded-pair-space operators — CartesianProduct
 * always, BroadcastNestedLoopJoin except where a provably tiny broadcast side
 * makes it the intended shape (brute-force ANN scoring against a handful of
 * query vectors / k centroids).
 */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // Deliberate nested-loop joins: the broadcast side is O(10) query vectors,
  // O(k) centroids, or a single scalar-aggregate row (tpch_q22's global
  // average threshold — Catalyst folds the constant equi-key and plans the
  // 1-row broadcast as a nested loop, which IS the right scalar-join shape),
  // so pair space is corpus-linear by construction.
  private val nestedLoopExempt = Set(
    // the SQL-frontend twin of sim_topk plans the identical brute tier
    "sim_topk", "sql_sim_topk",
    // multiprobe: same brute cosine baseline broadcast as sim_recall_lsh;
    // the probed search itself is an equi-join on the bucket
    "sim_recall_lsh", "sim_recall_lsh_multiprobe", "sim_recall_ivf",
    "sim_ivf_kmeans_cells",
    "multimodal_frames", "tpch_q22_idle_customers", "tpch_q11_important_parts",
    // PQ recall rows: the exact-L2 brute-force BASELINE deliberately
    // broadcasts the 5-row query side against the corpus (l2TopK), same as
    // the lsh/ivf recall rows; the PQ search path itself is equi-join only.
    // ivfpq: the PROBE step scores the 5 queries against the 16 coarse
    // centroids (broadcast both-tiny); member scoring is equi-join only
    "sim_recall_pq", "sim_recall_pq_rerank", "sim_ivfpq_topk",
    "sim_recall_ivfpq_rerank",
    // ladder-wide recall/MAP grading: the exact-L2 truth pass and the
    // lsh/ivf/pq/ivfpq tiers are exactly the exempted rows' shapes above,
    // composed into one frame (5-row query side broadcast throughout);
    // the served twin keeps the truth pass and the 5-query × 16-centroid
    // probe (both-tiny broadcast) — the corpus-side tiers are artifact
    // equi-joins
    "eval_recall_map_ann", "eval_recall_map_ann_served",
    // SQ8: both the integer-dot search and its exact-MIPS recall baseline
    // broadcast the O(10) query side against the corpus (brute-force tier
    // by design; the amax scale is a folded literal, not a plan node)
    "sim_topk_int8", "sim_recall_int8",
    // triangle count: the final assembly cross-joins four 1-row global
    // counts — scalar stitching, not data flow
    "graph_triangles",
    // tfidf: the n_docs corpus scalar is a provably 1-row broadcast side
    "text_tfidf_topk",
    // calibration: the (smin, smax) bounds side is one global-aggregate row
    "eval_calibration_bins",
    // retrieval-eval SQL twin: the BM25 corpus scalars (n_docs, sum_dl)
    // ride a provably 1-row CROSS JOIN in SQL text (the DataFrame twin
    // folds them as driver literals instead)
    "sql_eval_ndcg_retrieval",
    // ANN ranking-quality row: the exact-L2 relevance baseline is the
    // recall rows' deliberate brute tier (5-query broadcast side)
    "eval_ndcg_ann")

  test("no catalog query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("BroadcastNestedLoopJoin appears only where the broadcast side is tiny") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      if (!nestedLoopExempt.contains(name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join:\n$plan")
      }
    }
  }

  test("shuffle counts stay minimal: zero-shuffle projections and one-exchange aggs") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // pure projections must never grow a shuffle
    Seq("split_train_val_test", "text_stats", "text_redact_stats", "flight_parse",
      "flight_delayed", "emb_normalize", "emb_quantize", "emb_project",
      "sim_lsh_buckets", "events_zorder_key", "multimodal_features",
      "scalar_functions", "datetime_functions", "array_functions",
      "text_chunk_windows", "string_functions_ext", "text_hash_vectorize",
      // the SERVING half of the trainer: weights are plan-time literals,
      // scoring is a pure projection (training ran at construction)
      "learn_perceptron_preds", "learn_perceptron_avg_preds",
      "text_classifier_score")
      .foreach(q => assert(shuffles(q) == 0, s"$q should be shuffle-free"))
    // single-aggregation queries: exactly one exchange (partial → final)
    Seq("tpch_q1", "tpch_q6_revenue", "dedup_fingerprint", "dedup_exact",
      "dedup_exact_by_text", "events_bitwise",
      // window max + final aggregation both hash on user_id — the agg must
      // reuse the window's exchange, not add its own
      "events_decayed_counts")
      .foreach(q => assert(shuffles(q) == 1, s"$q should have exactly 1 shuffle"))
    // the scale default groups on md5(text): the hash must sit BELOW the
    // exchange (partial aggregate keys on it), so the shuffle carries
    // 32-char keys, never the document bytes
    val exactPlan = SparkEntry.queries("dedup_exact")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("md5"),
      s"dedup_exact must group on md5(text):\n$exactPlan")
  }

  test("round-7 aggregation queries keep their designed exchange counts") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // shape → count: repetition = (gram-count + doc-agg) × two n-gram sizes;
    // boilerplate_window = shingle window + doc agg; lm_window = bigram
    // window + w1 window + doc agg (the r9 small-corpus opt-in rows — the
    // default rows now plan the skew-safe shape, audited below); packing =
    // one shard window; centroids = one label exchange; SCD2 = ONE exchange
    // shared by both windows and the run aggregation (they all partition on
    // the entity key); weighted per-group sample = one group window;
    // bpe/minmax = 0 (their fit halves run eagerly at construction, the
    // returned frame is a local/projection plan)
    Map("text_repetition" -> 4, "text_boilerplate_window" -> 2,
      "text_lm_score_window" -> 3,
      "text_pack_sequences" -> 1, "emb_label_centroids" -> 1,
      "events_scd2_history" -> 1, "sample_weighted_per_group" -> 1,
      "text_bpe_train" -> 0, "emb_minmax_scale" -> 0)
      .foreach { case (q, expected) =>
        assert(shuffles(q) == expected,
          s"$q expected $expected exchanges, got ${shuffles(q)}")
      }
  }

  test("skew-safe text operators: no whole-partition window, heavy keys broadcast") {
    // The load-bearing scale assertions are the Window absence and the
    // heavy-key BroadcastHashJoin; exchange count is an UPPER BOUND
    // (textual union-branch duplication canonicalizes to reused stages
    // under AQE, and exact printed counts break spuriously on
    // Spark/optimizer-version changes). Counted from the printed plan —
    // a ShuffleExchangeLike collect() sees 0 nodes through the
    // un-executed AdaptiveSparkPlanExec boundary, making the bound
    // vacuous (the r10 fix). Since r9 the DEFAULT text_boilerplate /
    // text_lm_score rows plan this shape.
    Seq("text_boilerplate" -> 10, "text_lm_score" -> 10,
      "text_boilerplate_skewsafe" -> 10, "text_lm_score_skewsafe" -> 10)
      .foreach { case (q, maxEx) =>
        val planStr = SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.executedPlan.toString
        // the scale property: the hot key's rows take the broadcast path and
        // the frame never flows through a whole-partition window
        assert(!planStr.contains("Window"), s"$q must not plan a window:\n$planStr")
        assert(planStr.contains("BroadcastHashJoin"),
          s"$q must broadcast the heavy-key table:\n$planStr")
        val nEx = Seq("Exchange hashpartitioning", "Exchange SinglePartition",
          "Exchange rangepartitioning")
          .map(p => planStr.sliding(p.length).count(_ == p)).sum
        assert(nEx <= maxEx,
          s"$q expected at most $maxEx exchanges, got $nEx")
      }
  }

  test("round-10 rows keep their designed exchange counts") {
    // printed-plan counting (the round-7 helper): ShuffleExchangeLike
    // collect() can't see through AdaptiveSparkPlanExec's planning boundary
    // pre-execution, so an un-executed plan collects 0 nodes
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // pixel / URL projections: zero shuffle, payload never crosses a wire
    Seq("multimodal_resize", "multimodal_channel_stats",
      "multimodal_decode_audio", "multimodal_audio_frames",
      "web_url_normalize")
      .foreach(q => assert(shuffles(q) == 0, s"$q should be shuffle-free"))
    // url dedup: one partial→final aggregation on the canonical key
    assert(shuffles("web_url_dedup") == 1,
      "web_url_dedup should be a single partial-aggregated exchange")
    // domain rollup: distinct-count expansion = (domain,url) then domain
    assert(shuffles("web_domain_stats") == 2,
      "web_domain_stats should plan the two-phase distinct aggregate")
    // chunk dedup: keeper agg on chash + chunks-side join exchange + per-doc
    // agg; the keeper side reuses its aggregation partitioning (UPPER bound
    // — AQE may broadcast the keeper side and drop the join exchange)
    assert(shuffles("dedup_paragraphs") <= 3,
      s"dedup_paragraphs grew beyond its 3-exchange design: ${shuffles("dedup_paragraphs")}")
  }

  test("seventh-wave rows keep their designed exchange counts") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // kNN graph: (band,bucket) join both sides + pair distinct + rank window
    // (the bucket-derivation window exchange runs once, inside the
    // checkpoint); density adds the per-src agg + corpus join-back;
    // clustering adds the mutual semi-join atop its own checkpointed graph
    assert(shuffles("sim_knn_graph") <= 4,
      s"sim_knn_graph grew beyond design: ${shuffles("sim_knn_graph")}")
    assert(shuffles("emb_knn_density") <= 6,
      s"emb_knn_density grew beyond design: ${shuffles("emb_knn_density")}")
    assert(shuffles("sim_knn_clusters") <= 6,
      s"sim_knn_clusters grew beyond design: ${shuffles("sim_knn_clusters")}")
    // eval rows: one by-score aggregation, the tiny distinct-score window,
    // final global agg (AUC) / bin aggregation (calibration)
    assert(shuffles("eval_auc_classifier") <= 4,
      s"eval_auc_classifier grew beyond design: ${shuffles("eval_auc_classifier")}")
    assert(shuffles("eval_calibration_bins") <= 4,
      s"eval_calibration_bins grew beyond design: ${shuffles("eval_calibration_bins")}")
    // dataset card: grouped agg with two distinct-count expansions
    assert(shuffles("corpus_profile") <= 4,
      s"corpus_profile grew beyond design: ${shuffles("corpus_profile")}")
    // snapshot diff: one full-outer equi-join (2 sides) + AQE finalization
    assert(shuffles("corpus_snapshot_diff") <= 4,
      s"corpus_snapshot_diff grew beyond design: ${shuffles("corpus_snapshot_diff")}")
  }

  test("r14 rows keep their designed exchange counts") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // N-step CEP: ONE key-window exchange regardless of K (the whole point
    // of the running-last-match encoding) + the events-scan repartition
    assert(shuffles("events_cep_match4") <= 2,
      s"events_cep_match4 grew beyond design: ${shuffles("events_cep_match4")}")
    // entity admission: base-key hot-count window + key join sides +
    // cross-slot distinct
    assert(shuffles("dedup_entity_admit") <= 4,
      s"dedup_entity_admit grew beyond design: ${shuffles("dedup_entity_admit")}")
    // entity resolve: the components solve folds EAGERLY at construction
    // (connectedComponents' checkpoint) — the returned frame is the
    // mapping join + election windows on entity_id only
    assert(shuffles("dedup_entity_resolve") <= 3,
      s"dedup_entity_resolve grew beyond design: ${shuffles("dedup_entity_resolve")}")
    // discords: the frame pipeline (key window + word window) appears in
    // three branches (pair sides a/b + the left-join probe), plus the
    // word join, the per-window min agg, and the (k, win_start) left join
    // — bounded recompute, each branch windows-only over the events scan
    assert(shuffles("events_sax_discords") <= 13,
      s"events_sax_discords grew beyond design: ${shuffles("events_sax_discords")}")
    // Kleene CEP: the per-gap-negation machinery verbatim — ONE key
    // shuffle + the counter/snapshot windows, bound-independent (the B+
    // body never becomes a step, so there is no per-repetition plan)
    assert(shuffles("events_cep_kleene") <= 2,
      s"events_cep_kleene grew beyond design: ${shuffles("events_cep_kleene")}")
    // CUSUM: one profile aggregation + the key window's exchange; the two
    // window PASSES (prefix sum, then prefix min over it) share the one
    // (ts, tie) partitioning — a second exchange would mean the closed
    // form regressed into per-pass repartitions
    assert(shuffles("events_ts_changepoints") <= 3,
      s"events_ts_changepoints grew beyond design: ${shuffles("events_ts_changepoints")}")
  }

  test("r16 rows keep their designed exchange counts") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // rolling forecast: rank + trailing-sum windows share ONE (ts, tie)
    // key partitioning — a second key exchange would mean the re-based
    // position sum regressed into a per-pass repartition
    assert(shuffles("events_ts_forecast") <= 2,
      s"events_ts_forecast grew beyond design: ${shuffles("events_ts_forecast")}")
    // backtest adds the per-key map-side-combined aggregation
    assert(shuffles("events_ts_forecast_eval") <= 3,
      s"events_ts_forecast_eval grew beyond design: ${shuffles("events_ts_forecast_eval")}")
    // holdout serving: base rank/cut windows + the trailing-64 profile's
    // two rank windows + its aggregation + the score join
    assert(shuffles("events_ts_forecast_served") <= 6,
      s"events_ts_forecast_served grew beyond design: ${shuffles("events_ts_forecast_served")}")
    // all-matches CEP: the lastSeqMatchN window machinery + the
    // range-frame anchor collect share the one key partitioning; the
    // explode is a projection — NO self-join, NO per-span exchange
    assert(shuffles("events_cep_all_matches") <= 2,
      s"events_cep_all_matches grew beyond design: ${shuffles("events_cep_all_matches")}")
    val allMatchesPlan = SparkEntry.queries("events_cep_all_matches")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!allMatchesPlan.contains("SortMergeJoin") &&
      !allMatchesPlan.contains("BroadcastHashJoin"),
      s"events_cep_all_matches must not plan a join:\n$allMatchesPlan")
  }

  test("served rows plan pure serving shapes: artifact scans, no training subtree") {
    // The *_served rows' entire point is the CHEAP plan: scoring/encoding
    // over reloaded artifacts, never the training loop re-run in-query.
    // Without these pins only a bench number would catch a refactor that
    // silently regresses serving back into training (verdict-r12 item 4).
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def count(plan: String, p: String): Int = plan.sliding(p.length).count(_ == p)
    def shuffles(plan: String): Int =
      Seq("Exchange hashpartitioning", "Exchange SinglePartition",
        "Exchange rangepartitioning").map(count(plan, _)).sum

    // model-as-literal servers: ZERO exchanges, zero aggregates — the
    // trained weights/rules are plan-time literals, the frame is a pure
    // projection over the documents scan
    Seq("learn_perceptron_served", "text_bpe_served").foreach { q =>
      val plan = planOf(q)
      assert(shuffles(plan) == 0, s"$q must plan zero exchanges:\n$plan")
      assert(count(plan, "HashAggregate") == 0,
        s"$q must not plan aggregates (training leaked into the query):\n$plan")
    }

    // IVF-PQ serving: the packed-codes artifact scan feeds a broadcast
    // equi-join on the probed cell, then the top-k rank window — exactly
    // one hash exchange (the window's), ZERO aggregates (a Lloyd iteration
    // re-running in-query would plan per-cell aggregates)
    val ivfpq = planOf("sim_ivfpq_served")
    assert(count(ivfpq, "graft-artifacts") >= 1,
      s"sim_ivfpq_served must scan the persisted artifact:\n$ivfpq")
    assert(count(ivfpq, "HashAggregate") == 0,
      s"sim_ivfpq_served must not plan aggregates (Lloyd leaked in):\n$ivfpq")
    assert(shuffles(ivfpq) <= 1,
      s"sim_ivfpq_served grew beyond its 1-exchange design:\n$ivfpq")

    // propagated-labeling server: a PLAIN artifact scan + projection —
    // zero exchanges, zero aggregates, and specifically no graph subtree
    // (a leaked re-propagation would plan vote HashAggregates + joins)
    // CUSUM serving: the persisted baseline joins the events scan, then
    // two window passes — ZERO aggregates (the keyProfile groupBy re-
    // running in-query is exactly the training row's shape)
    val cusumServed = planOf("events_ts_changepoints_served")
    assert(count(cusumServed, "graft-artifacts") >= 1,
      s"events_ts_changepoints_served must scan the persisted profile:\n$cusumServed")
    assert(count(cusumServed, "HashAggregate") == 0,
      s"events_ts_changepoints_served must not plan aggregates " +
        s"(profile training leaked in):\n$cusumServed")

    val lblServed = planOf("graph_label_spread_served")
    assert(count(lblServed, "graft-artifacts") >= 1,
      s"graph_label_spread_served must scan the persisted labeling:\n$lblServed")
    assert(shuffles(lblServed) == 0,
      s"graph_label_spread_served must plan zero exchanges:\n$lblServed")
    assert(count(lblServed, "HashAggregate") == 0,
      s"graph_label_spread_served must not plan aggregates:\n$lblServed")

    // warm dedup admission: the signature index and old-side keep list come
    // from artifact scans (>=2 distinct artifact reads); in-query work is
    // new-batch signing + verify — bounded exchanges, far below the
    // training twin's full old-corpus re-index
    val inc = planOf("dedup_incremental_served")
    assert(count(inc, "graft-artifacts") >= 2,
      s"dedup_incremental_served must scan the persisted index + keep list:\n$inc")
    assert(shuffles(inc) <= 12,
      s"dedup_incremental_served grew beyond its bounded-exchange design: ${shuffles(inc)}")

    // warm component admission: label + index artifacts load from parquet;
    // the contracted union-find solve runs at construction (driver tier),
    // so the returned frame is the broadcast label remap — one exchange,
    // O(1) aggregates, and NO star-round subtree
    val comp = planOf("dedup_components_served")
    assert(count(comp, "graft-artifacts") >= 2,
      s"dedup_components_served must scan the persisted labels + index:\n$comp")
    assert(shuffles(comp) <= 2,
      s"dedup_components_served grew beyond its 1-exchange design: ${shuffles(comp)}")
    assert(count(comp, "HashAggregate") <= 4,
      s"dedup_components_served re-grew a training subtree:\n$comp")

    // entity-resolution server: the label artifact scans from parquet; the
    // returned frame is dirty-join + the two election windows on entity_id
    // — no blocking-key window, no levenshtein, no components subtree
    val ent = planOf("dedup_entity_resolve_served")
    assert(count(ent, "graft-artifacts") >= 1,
      s"dedup_entity_resolve_served must scan the persisted labels:\n$ent")
    assert(shuffles(ent) <= 3,
      s"dedup_entity_resolve_served grew beyond its election design: ${shuffles(ent)}")
    assert(count(ent, "levenshtein") == 0,
      s"dedup_entity_resolve_served re-grew the verify subtree:\n$ent")
  }

  test("round-17 rows plan fixture/artifact scans, no in-query synthesis or training") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    def count(plan: String, p: String): Int = plan.sliding(p.length).count(_ == p)

    // media rows serve payloads from the per-sf-dir parquet fixture
    // (verdict-r16 item 1) and — since r18 — materialize each side's tiny
    // feature table ONCE (localCheckpoint, the decode re-inlining fix:
    // the lazy plans re-evaluated the container decode 4–16× per row via
    // filter pushdown + join aliasing; SURVEY r18 second wave). The
    // returned plan is therefore the pure candidate join over
    // MATERIALIZED sides: ExistingRDD scans, and NO decode expression
    // left anywhere in the final plan — the decode runs exactly once, in
    // the construction-time side stage, whose fixture-parquet provenance
    // the MediaFixtures/Artifacts specs pin. (The r17 form of this pin
    // asserted the opposite — parquet scans visible, no ExistingRDD —
    // because back then the synthesis checkpoint was the smell; the
    // checkpoint is now the design, and the smell to forbid is the
    // re-inlined decode.)
    Seq("multimodal_phash_near_dup", "multimodal_phash_near_dup_y",
        "multimodal_cross_near_dup", "multimodal_video_image_match").foreach { q =>
      val plan = planOf(q)
      assert(count(plan, "ExistingRDD") >= 2,
        s"$q must join two materialized feature sides:\n$plan")
      assert(count(plan, "grid_means") == 0 && count(plan, "byte_be") == 0 &&
        count(plan, "byte_sum") == 0,
        s"$q re-inlined the container decode into the join plan:\n$plan")
    }
    val vnd = planOf("multimodal_video_near_dup")
    assert(count(vnd, "ExistingRDD") >= 2,
      s"multimodal_video_near_dup must self-join its materialized features:\n$vnd")
    assert(count(vnd, "byte_sum") == 0 && count(vnd, "byte_be") == 0,
      s"multimodal_video_near_dup re-inlined the decode:\n$vnd")

    // the served eval ladder: all five tier artifacts (lsh buckets, ivf
    // centroids + lists, pq codebook + codes) plus the ivfpq serving
    // index scan from graft-artifacts; the k-means/PQ Lloyd subtrees and
    // the corpus-wide LSH projection pass must NOT re-run in-query
    val served = planOf("eval_recall_map_ann_served")
    assert(count(served, "graft-artifacts") >= 5,
      s"eval_recall_map_ann_served must scan the tier artifacts:\n$served")
  }

  test("round-13 rows keep their designed plan shapes") {
    def shuffles(name: String): Int = {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      Seq("Exchange hashpartitioning", "Exchange SinglePartition", "Exchange rangepartitioning")
        .map(p => plan.sliding(p.length).count(_ == p)).sum
    }
    // audio/video near-dup: feature vectors are zero-shuffle projections;
    // the bucket self-join broadcasts one side at this scale (equi-join
    // either way — the unbounded-pair-space audits above still apply)
    assert(shuffles("multimodal_audio_near_dup") <= 2,
      s"multimodal_audio_near_dup grew beyond design: ${shuffles("multimodal_audio_near_dup")}")
    assert(shuffles("multimodal_video_near_dup") <= 2,
      s"multimodal_video_near_dup grew beyond design: ${shuffles("multimodal_video_near_dup")}")
  }

  test("hot-path projections stay inside whole-stage codegen") {
    // the zero-shuffle projections must execute as a single codegen'd stage
    // over the scan — an interpreted expression (UDF, non-codegen Expression)
    // would break the WholeStageCodegen span
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    Seq("flight_parse", "text_stats", "emb_normalize", "text_chunk_windows",
      "text_hash_vectorize", "scalar_functions", "events_zorder_key")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
          s"$name lost whole-stage codegen:\n$plan")
      }

    // The Lloyd update of Similarity.kmeansCentroids: 64-dim vectors
    // assigned by the static fold, then one aggregation of 64 decimal-routed
    // means per cell (~193 partial-aggregate buffer fields). That is over
    // Spark's default codegen.maxFields=100, so only GraftSession's 200
    // keeps these HashAggregates inside a codegen span.
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val v = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ve"))
    val cent = v.orderBy(col("vec_id")).limit(8).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
    val dim = cent.head._2.length
    assert(dim == 64)
    val means = (0 until dim).map { i =>
      (sum(get(col("ve"), lit(i)).cast("decimal(30,15)")).cast("double") /
        count(when(size(col("ve")) > i, lit(1)))).as(s"c$i")
    }
    val lloyd = Similarity.assignCellsStatic(v, cent, "vec_id", "ve")
      .groupBy(col("cell_id")).agg(means.head, means.tail: _*)
    assert(lloyd.collect().length == 8)
    // (is this HashAggregate inside a codegen span?) for every one in the
    // final adaptive plan
    def aggs(p: SparkPlan, inSpan: Boolean): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => aggs(a.executedPlan, false)
      case q: QueryStageExec => aggs(q.plan, false)
      case w: WholeStageCodegenExec => aggs(w.child, true)
      case i: InputAdapter => aggs(i.child, false)
      case h: HashAggregateExec => inSpan +: h.children.flatMap(aggs(_, inSpan))
      case o => o.children.flatMap(aggs(_, inSpan))
    }
    val plan = lloyd.queryExecution.executedPlan
    val inSpan = aggs(plan, false)
    assert(inSpan.nonEmpty && inSpan.forall(identity),
      s"the Lloyd update fell out of whole-stage codegen:\n$plan")
  }

  test("filters reach the parquet scan (pushdown) on the canonical scan query") {
    val plan = SparkEntry.queries("tpch_q6_revenue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // (the plan string truncates long filter lists — match the stable prefix)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected shipdate pushdown in:\n$plan")
    // column pruning: the scan must not read the full 11-column lineitem
    assert(plan.contains("ReadSchema") && !plan.contains("l_orderkey"),
      s"expected pruned read schema in:\n$plan")
  }
}
