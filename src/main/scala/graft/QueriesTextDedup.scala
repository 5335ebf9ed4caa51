package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Queries._

/** Dedup signatures, text analysis, corpus gates, learn/eval — one slice of the driver-facing catalog, mechanically moved out
  * of Queries.scala in the round-15 maintainability split (verdict-r14
  * item 8). Rows are UNCHANGED; shared helpers and the cross-engine
  * determinism conventions live in [[Queries]]; the one `queries` map is
  * composed there. */
object QueriesTextDedup {
  private[graft] def rows
      : Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ==========================================================================
    // Training-data pipeline surface: dedup / text / similarity / multimodal
    // ==========================================================================

    // Exact dedup, scale default: the grouping key the shuffle carries is
    // md5(text) — 32 hex chars per doc — not the document bytes. The
    // text-keyed variant lives on below as the explicit small-corpus opt-in
    // (the r9 skew-safe-default precedent).
    ("dedup_exact",
      (s: SparkSession, d: String) =>
        Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
          |       count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin)),

    ("dedup_exact_by_text",
      (s: SparkSession, d: String) =>
        Dedup.exactByText(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """SELECT text, min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin)),

    ("dedup_fingerprint",
      (s: SparkSession, d: String) =>
        Dedup.byFingerprint(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
          |       min(doc_id) AS canonical_id, count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin)),

    ("dedup_minhash_sigs",
      (s: SparkSession, d: String) =>
        Dedup.minhashSignatures(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(shingleCte + minhashSigsSql)),

    ("dedup_lsh_candidates",
      (s: SparkSession, d: String) =>
        Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(Tables.documents(s, d), col("text"), col("doc_id")))),
      Some(lshCandCtes + "SELECT doc_a, doc_b FROM cand")),

    // Asymmetric containment on the LSH candidate pairs: |A∩B|/|A| vs
    // |A∩B|/|B| — a HIGH one-sided containment with a lower Jaccard is the
    // quote/subset signature (doc B embeds doc A) that symmetric Jaccard
    // misses. Same bounded candidate space and shingle-set join as the
    // verify step; only the projection differs.
    ("dedup_containment",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
            col("n_b"),
            (col("n_inter").cast("double") / col("n_a")).as("containment_a"),
            (col("n_inter").cast("double") / col("n_b")).as("containment_b"))
          .filter(col("containment_a") >= 0.9 || col("containment_b") >= 0.9)
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT doc_a, doc_b, n_inter, n_a, n_b,
          |       n_inter::double / n_a AS containment_a,
          |       n_inter::double / n_b AS containment_b
          |FROM verified
          |WHERE n_inter::double / n_a >= 0.9 OR n_inter::double / n_b >= 0.9""".stripMargin)),

    // Corpus n-gram diversity per source: distinct shingles / total per-doc
    // distinct shingle instances — the self-repetition (self-BLEU-ish)
    // dataset-card metric that flags template-heavy sources. One explode +
    // grouped distinct-count.
    ("text_ngram_diversity",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        docs.select(col("source"),
            explode(TextOps.shingles(col("text"), 3)).as("shingle"))
          .groupBy(col("source"))
          .agg(countDistinct(col("shingle")).as("n_distinct"),
            count(lit(1)).as("n_total"))
          .withColumn("diversity",
            col("n_distinct").cast("double") / col("n_total"))
      },
      Some(shingleCte +
        """SELECT d.source,
          |       count(DISTINCT s.shingle)::bigint AS n_distinct,
          |       count(*)::bigint AS n_total,
          |       count(DISTINCT s.shingle)::double / count(*) AS diversity
          |FROM shingle_rows s JOIN documents d USING (doc_id)
          |GROUP BY 1""".stripMargin)),

    // ---- End-to-end near-dup pipeline: the thing a user actually runs -----
    // LSH candidates → exact n-gram-Jaccard verification → keep/drop verdict.
    // Everything upstream (signatures, banding, candidate bounding) feeds
    // this; the oracle recomputes the full chain in DuckDB.
    ("dedup_near_end2end",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .withColumn("is_dup", (col("jaccard") >= 0.8).cast("int"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard,
          |       (CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END)::int AS is_dup
          |FROM verified""".stripMargin)),

    // Ensemble near-dup verdict: LSH candidates scored by BOTH exact n-gram
    // Jaccard and SimHash Hamming distance, flagged when either signal
    // fires — the multi-signal fusion a production dedup pass runs so one
    // estimator's blind spot (shingle-set vs token-frequency views) cannot
    // silently pass a duplicate. Costs one extra broadcast-joinable
    // fingerprint table over the verified chain.
    ("dedup_ensemble",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val ver = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
        val f = Dedup.simhash(docs, col("text"), col("doc_id"))
        ver
          .join(f.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), "doc_a")
          .join(f.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
          .withColumn("is_dup",
            (col("jaccard") >= 0.8 || col("hamming") <= 6).cast("int"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, enstok AS (
          |  SELECT DISTINCT doc_id, t AS token
          |  FROM (SELECT doc_id,
          |               unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
          |        FROM documents)),
          |ensh AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::bigint AS h FROM enstok),
          |ensbits AS (
          |  SELECT doc_id, b,
          |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
          |  FROM ensh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) GROUP BY 1, 2),
          |enshash AS (
          |  SELECT doc_id,
          |         cast(sum(CASE WHEN votes > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
          |  FROM ensbits GROUP BY 1)
          |SELECT v.doc_a, v.doc_b, v.jaccard,
          |       bit_count(xor(a.simhash, b.simhash))::int AS hamming,
          |       (CASE WHEN v.jaccard >= 0.8
          |                  OR bit_count(xor(a.simhash, b.simhash)) <= 6
          |             THEN 1 ELSE 0 END)::int AS is_dup
          |FROM verified v
          |JOIN enshash a ON a.doc_id = v.doc_a
          |JOIN enshash b ON b.doc_id = v.doc_b""".stripMargin)),

    // Transitive canonicalization: connected components over the verified
    // near-dup graph — (A,B), (B,C) collapse into one group even though
    // (A,C) was never compared. Oracle = a recursive CTE computing min
    // reachable id, a genuinely independent evaluation strategy.
    ("dedup_components",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val dupPairs = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        Dedup.connectedComponents(docs.select(col("doc_id").as("id")), dupPairs)
          .select(col("id").as("doc_id"), col("component"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT id AS doc_id, min(lbl) AS component
          |FROM (
          |  WITH RECURSIVE r(id, lbl) AS (
          |    SELECT doc_id, doc_id FROM documents
          |    UNION
          |    SELECT e.src, r.lbl
          |    FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |          UNION ALL
          |          SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |    JOIN r ON r.id = e.dst)
          |  SELECT id, lbl FROM r)
          |GROUP BY 1""".stripMargin)),

    // SOFT dedup: downweight near-duplicate cluster members instead of
    // dropping them — weight_scaled = floor(2^20 / cluster_size), so a
    // cluster contributes ~one document's worth of sampling mass in total
    // (the repetition-aware alternative to hard dedup when duplicates
    // carry signal, e.g. quotation frequency). Unique docs keep the full
    // 2^20. Integer floor-div — exact cross-engine. One aggregation on the
    // component key + a join back; the cluster table is |components| rows.
    ("dedup_soft_weights",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val dupPairs = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        val comp = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), dupPairs)
          .select(col("id").as("doc_id"), col("component"))
        val sizes = comp.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "component")
          .select(col("doc_id"), col("component"), col("cluster_size"),
            expr("1048576L div cluster_size").as("weight_scaled"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, comp AS (
          |  SELECT id AS doc_id, min(lbl) AS component
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT doc_id, doc_id FROM documents
          |      UNION
          |      SELECT e.src, r.lbl
          |      FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |            UNION ALL
          |            SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |      JOIN r ON r.id = e.dst)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1),
          |cs AS (SELECT component, count(*)::bigint AS cluster_size
          |       FROM comp GROUP BY 1)
          |SELECT comp.doc_id, comp.component, cs.cluster_size,
          |       (1048576 // cs.cluster_size)::bigint AS weight_scaled
          |FROM comp JOIN cs USING (component)""".stripMargin)),

    // Soft dedup × token budget: the admission pass counts each document's
    // tokens DOWNWEIGHTED by its cluster (weighted = n_tokens·w >> 20,
    // integer floor), so a near-dup cluster burns ~one document's tokens of
    // a source's budget no matter how many copies the crawl has — the
    // budget discipline soft dedup exists to feed. Same hash-ordered
    // running-sum shape as corpus_token_budget, cum over weighted tokens.
    ("dedup_soft_budget",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val dupPairs = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        val comp = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), dupPairs)
          .select(col("id").as("doc_id"), col("component"))
        val sizes = comp.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        val weighted = docs
          .withColumn("n_tokens",
            size(TextOps.tokens(TextOps.normalize(col("text")))).cast("long"))
          .join(comp, "doc_id").join(sizes, "component")
          .withColumn("weighted_tokens",
            expr("(n_tokens * (1048576L div cluster_size)) div 1048576"))
        Sampling.tokenBudgetPerGroup(weighted, Seq(col("source")),
            col("doc_id"), col("weighted_tokens"), budget = 800L)
          .select(col("doc_id"), col("source"), col("cluster_size"),
            col("n_tokens"), col("weighted_tokens"), col("cum_tokens"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, comp AS (
          |  SELECT id AS doc_id, min(lbl) AS component
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT doc_id, doc_id FROM documents
          |      UNION
          |      SELECT e.src, r.lbl
          |      FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |            UNION ALL
          |            SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |      JOIN r ON r.id = e.dst)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1),
          |cs AS (SELECT component, count(*)::bigint AS cluster_size
          |       FROM comp GROUP BY 1),
          |wt AS (
          |  SELECT d.doc_id, d.source, cs.cluster_size,
          |         len(string_split(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'),
          |                          ' '))::bigint AS n_tokens,
          |         (len(string_split(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'),
          |                           ' '))::bigint
          |            * (1048576 // cs.cluster_size)) // 1048576 AS weighted_tokens
          |  FROM documents d
          |  JOIN comp ON comp.doc_id = d.doc_id
          |  JOIN cs USING (component))
          |SELECT doc_id, source, cluster_size, n_tokens,
          |       weighted_tokens::bigint AS weighted_tokens, cum_tokens
          |FROM (
          |  SELECT *, sum(weighted_tokens) OVER (PARTITION BY source
          |            ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint, doc_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_tokens
          |  FROM wt)
          |WHERE cum_tokens <= 800""".stripMargin)),

    // Canonical-document selection: within each transitive duplicate
    // cluster, keep the highest-quality document (quality-score argmax,
    // doc_id tie-break) instead of the smallest id — what a corpus builder
    // actually wants from dedup. Composition of connectedComponents ×
    // textStats; one window over the component key.
    ("dedup_canonical_pick",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val dupPairs = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        val comp = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), dupPairs)
          .select(col("id").as("doc_id"), col("component"))
        val qual = TextOps.textStats(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("quality_score"))
        val w = Window.partitionBy(col("component"))
          .orderBy(col("quality_score").desc, col("doc_id"))
        comp.join(qual, "doc_id")
          .withColumn("is_canonical", (row_number().over(w) === 1).cast("int"))
          .select(col("component"), col("doc_id"), col("quality_score"),
            col("is_canonical"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, comp AS (
          |  SELECT id AS doc_id, min(lbl) AS component
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT doc_id, doc_id FROM documents
          |      UNION
          |      SELECT e.src, r.lbl
          |      FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |            UNION ALL
          |            SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |      JOIN r ON r.id = e.dst)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1),
          |qn AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
          |       FROM documents),
          |qtok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM qn),
          |qual AS (
          |  SELECT doc_id,
          |         cast(len(list_distinct(toks)) AS double) / len(toks) * 0.6
          |           + least(len(toks) / 100.0, 1.0) * 0.3
          |           + (1.0 - cast(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS double)
          |                      / len(toks)) * 0.1 AS quality_score
          |  FROM qtok)
          |SELECT component, doc_id, quality_score,
          |       (CASE WHEN row_number() OVER (PARTITION BY component
          |                                     ORDER BY quality_score DESC, doc_id) = 1
          |             THEN 1 ELSE 0 END)::int AS is_canonical
          |FROM comp JOIN qual USING (doc_id)""".stripMargin)),

    // The dedup *output*: documents surviving near-dedup (drop any doc that
    // is a verified near-duplicate of a smaller-id doc).
    ("dedup_near_keep",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val drops = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8)
          .select(col("doc_b").as("doc_id"))
        docs.join(drops, Seq("doc_id"), "left_anti").select(col("doc_id"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT d.doc_id FROM documents d
          |WHERE NOT EXISTS (SELECT 1 FROM verified v
          |                  WHERE v.doc_b = d.doc_id AND v.jaccard >= 0.8)""".stripMargin)),

    // ---- Incremental near-dedup: the operational corpus-growth shape ------
    // The lowest 4/5 of doc ids play the already-indexed corpus (deduped
    // from scratch, signatures persisted); the top 1/5 is the new batch,
    // admitted via Dedup.incrementalNearDup — zero-shuffle signing, candidates
    // only against bucket collisions, old-old pairs never recomputed. The
    // oracle is the FROM-SCRATCH near-keep SQL over the whole table: the
    // incremental path must be indistinguishable from re-running everything.
    ("dedup_incremental",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        // The batch boundary is one tiny eager action (a scalar max), used as
        // a literal below — attaching it via crossJoin(broadcast(...)) would
        // plan a BroadcastNestedLoopJoin and, worse, re-run the agg inside
        // every one of the dozen-plus plan branches that reference the split.
        // NOTE this makes the catalog entry eager at construction time (the
        // head() plus the localCheckpoints below run Spark jobs before the
        // frame is returned) — plan-only consumers pay that materialization.
        // max() is null on an empty table: read boxed and short-circuit to
        // the (empty) id projection instead of NPE-ing on getLong.
        val cutBoxed = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
          .head().getAs[java.lang.Long](0)
        if (cutBoxed == null) docs.select(col("doc_id"))
        else {
        val cut = cutBoxed.longValue()
        val oldDocs = docs.filter(col("doc_id") < cut)
        val newDocs = docs.filter(col("doc_id") >= cut)
        // the historical state: old corpus deduped from scratch, all old
        // signatures (survivors AND dropped) in the index. Materialized ONCE
        // (the operational shape is a persisted bucketed table): the old-side
        // candidate pass and incrementalNearDup's index reads would
        // otherwise each recompute the whole minhash chain.
        val index = Dedup.signatureIndex(oldDocs, col("text"), col("doc_id"))
          .localCheckpoint()
        // one corpus shingling, shared by the old-side verify and the
        // admission verify (operationally: a persisted column, not a rerun)
        val shingles = Dedup.shingleSets(docs, col("text"), col("doc_id"))
          .localCheckpoint()
        val oldCands = Dedup.lshCandidates(index)
        val oldDrops = Dedup.ngramJaccardOnShingles(oldCands, shingles)
          .filter(col("jaccard") >= 0.8).select(col("doc_b").as("doc_id"))
        val oldKeep = oldDocs.join(oldDrops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"))
        val newKeep = Dedup.incrementalNearDup(
          newDocs, docs, index, col("text"), col("doc_id"),
          corpusShingles = Some(shingles))
        oldKeep.unionByName(newKeep)
        }
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT d.doc_id FROM documents d
          |WHERE NOT EXISTS (SELECT 1 FROM verified v
          |                  WHERE v.doc_b = d.doc_id AND v.jaccard >= 0.8)""".stripMargin)),

    // Incremental COMPONENTS admission — the label-side twin of
    // dedup_incremental and the production answer to the catalog's
    // honest-recompute convention: the lowest 4/5 of ids play the indexed
    // corpus with a PERSISTED (id, component) artifact; the top 1/5 is the
    // batch, admitted via Dedup.admitComponents — star rounds over the
    // CONTRACTED batch-sized graph only, corpus work = one broadcast remap
    // join against the artifact. The oracle is the from-scratch recursive-CTE
    // components over the whole table: incremental labels must be
    // indistinguishable from re-running everything.
    ("dedup_components_incremental",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        // same eager scalar-cut convention as dedup_incremental (see note
        // there); null max ⇒ empty table ⇒ empty singleton-label projection
        val cutBoxed = docs.agg(floor(max(col("doc_id")) * 4 / 5).cast("long"))
          .head().getAs[java.lang.Long](0)
        if (cutBoxed == null)
          docs.select(col("doc_id"), col("doc_id").as("component"))
        else {
        val cut = cutBoxed.longValue()
        val oldDocs = docs.filter(col("doc_id") < cut)
        val newDocs = docs.filter(col("doc_id") >= cut)
        val index = Dedup.signatureIndex(oldDocs, col("text"), col("doc_id"))
          .localCheckpoint()
        val shingles = Dedup.shingleSets(docs, col("text"), col("doc_id"))
          .localCheckpoint()
        val oldEdges = Dedup.ngramJaccardOnShingles(
            Dedup.lshCandidates(index), shingles)
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        // the persisted artifact: labels over EVERY indexed doc (survivors
        // and dropped — dropped docs stay as attractors, same as the index)
        val labels = Dedup.connectedComponents(
            oldDocs.select(col("doc_id").as("id")), oldEdges)
          .localCheckpoint()
        val entries = Dedup.signatureEntries(newDocs, col("text"), col("doc_id"))
          .localCheckpoint()
        val newEdges = Dedup.ngramJaccardOnShingles(
            Dedup.incrementalCandidates(index, entries), shingles)
          .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
        Dedup.admitComponents(labels,
            newDocs.select(col("doc_id").as("id")), newEdges)
          .select(col("id").as("doc_id"), col("component"))
        }
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT id AS doc_id, min(lbl) AS component
          |FROM (
          |  WITH RECURSIVE r(id, lbl) AS (
          |    SELECT doc_id, doc_id FROM documents
          |    UNION
          |    SELECT e.src, r.lbl
          |    FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |          UNION ALL
          |          SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |    JOIN r ON r.id = e.dst)
          |  SELECT id, lbl FROM r)
          |GROUP BY 1""".stripMargin)),

    // WARM twin of dedup_incremental: the signature index and the old-side
    // keep list are fixture-persisted artifacts (Artifacts.dedupIndex —
    // built once per sf-dir/JVM); the returned frame only signs the new
    // batch, bucket-joins the LOADED index, verifies, and unions the loaded
    // keep list — the 80%+ in-query old-index rebuild the verdict measured
    // in the incremental rows never happens here. Same from-scratch oracle:
    // warm admission must be indistinguishable from re-running everything.
    ("dedup_incremental_served",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val (cut, indexPath, _, oldKeepPath) = Artifacts.dedupIndex(s, d)
        if (cut < 0L) docs.select(col("doc_id"))
        else {
          val newDocs = docs.filter(col("doc_id") >= cut)
          val index = s.read.parquet(indexPath)
          val newKeep = Dedup.incrementalNearDup(
            newDocs, docs, index, col("text"), col("doc_id"))
          s.read.parquet(oldKeepPath).unionByName(newKeep)
        }
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT d.doc_id FROM documents d
          |WHERE NOT EXISTS (SELECT 1 FROM verified v
          |                  WHERE v.doc_b = d.doc_id AND v.jaccard >= 0.8)""".stripMargin)),

    // WARM twin of dedup_components_incremental: the component-label
    // artifact AND the signature index load from fixture parquet; in-query
    // work is batch signing, candidate generation against the loaded index,
    // exact verify, and admitComponents' contracted solve + one broadcast
    // remap — the warm 0.27-0.62×-of-cold shape recorded in BASELINE.md
    // "Components: rounds-to-convergence and warm admission (r11)", now an
    // oracle-gated catalog row against the same from-scratch recursive CTE.
    ("dedup_components_served",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val (cut, indexPath, labelsPath, _) = Artifacts.dedupIndex(s, d)
        if (cut < 0L)
          docs.select(col("doc_id"), col("doc_id").as("component"))
        else {
          val newDocs = docs.filter(col("doc_id") >= cut)
          val index = s.read.parquet(indexPath)
          val labels = s.read.parquet(labelsPath)
          val entries = Dedup.signatureEntries(newDocs, col("text"), col("doc_id"))
            .localCheckpoint()
          val shingles = Dedup.shingleSets(docs, col("text"), col("doc_id"))
          val newEdges = Dedup.ngramJaccardOnShingles(
              Dedup.incrementalCandidates(index, entries), shingles)
            .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
          Dedup.admitComponents(labels,
              newDocs.select(col("doc_id").as("id")), newEdges)
            .select(col("id").as("doc_id"), col("component"))
        }
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """SELECT id AS doc_id, min(lbl) AS component
          |FROM (
          |  WITH RECURSIVE r(id, lbl) AS (
          |    SELECT doc_id, doc_id FROM documents
          |    UNION
          |    SELECT e.src, r.lbl
          |    FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |          UNION ALL
          |          SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |    JOIN r ON r.id = e.dst)
          |  SELECT id, lbl FROM r)
          |GROUP BY 1""".stripMargin)),

    ("dedup_simhash",
      (s: SparkSession, d: String) =>
        Dedup.simhash(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """WITH tok AS (
          |  SELECT DISTINCT doc_id, t AS token
          |  FROM (SELECT doc_id,
          |               unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
          |        FROM documents)),
          |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::bigint AS h FROM tok),
          |bits AS (
          |  SELECT doc_id, b,
          |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
          |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) GROUP BY 1, 2)
          |SELECT doc_id,
          |       cast(sum(CASE WHEN votes > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
          |FROM bits GROUP BY 1""".stripMargin)),

    ("text_ngram_jaccard",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val ids = docs.select(col("doc_id"))
        val pairs = ids.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
          .join(ids.select(col("doc_id").as("doc_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"))
        Dedup.ngramJaccard(pairs, docs, col("text"), col("doc_id"))
      },
      Some(shingleCte +
        """, ssets AS (SELECT doc_id, count(*) AS n FROM shingle_rows GROUP BY 1),
          |pairs AS (
          |  SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
          |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
          |inter AS (
          |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
          |  FROM pairs p
          |  JOIN shingle_rows a ON a.doc_id = p.doc_a
          |  JOIN shingle_rows b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
          |  GROUP BY 1, 2)
          |SELECT p.doc_a, p.doc_b,
          |       coalesce(i.n_inter, 0) AS n_inter,
          |       cast(sa.n AS int) AS n_a, cast(sb.n AS int) AS n_b,
          |       cast(coalesce(i.n_inter, 0) AS double)
          |         / (sa.n + sb.n - coalesce(i.n_inter, 0)) AS jaccard
          |FROM pairs p
          |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          |JOIN ssets sa ON sa.doc_id = p.doc_a
          |JOIN ssets sb ON sb.doc_id = p.doc_b""".stripMargin)),

    ("text_stats",
      (s: SparkSession, d: String) =>
        TextOps.textStats(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
          |  FROM documents),
          |tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t)
          |SELECT doc_id,
          |       length(norm)::int AS n_chars,
          |       len(toks)::int AS n_tokens,
          |       len(list_distinct(toks))::int AS n_distinct_tokens,
          |       len(list_filter(toks, x -> x IN ('the','a','of','and','is')))::int AS n_stopwords,
          |       len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::int AS n_subtokens,
          |       cast(length(norm) - (len(toks) - 1) AS double) / len(toks) AS avg_token_len,
          |       cast(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS double)
          |         / len(toks) AS stopword_ratio,
          |       cast(len(list_distinct(toks)) AS double) / len(toks) AS type_token_ratio,
          |       cast(len(list_distinct(toks)) AS double) / len(toks) * 0.6
          |         + least(len(toks) / 100.0, 1.0) * 0.3
          |         + (1.0 - cast(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS double)
          |                    / len(toks)) * 0.1 AS quality_score
          |FROM tok""".stripMargin)),

    // BM25 keyword retrieval over the corpus: top-20 docs for a fixed query
    // bag. Raw-ratio IDF (no ln) keeps every arithmetic step IEEE-identical
    // cross-engine — see TextOps.bm25's deviation note. The oracle spells
    // every expression with the same association order so doubles match
    // exactly.
    ("text_bm25_search",
      (s: SparkSession, d: String) =>
        TextOps.bm25(Tables.documents(s, d), col("text"), col("doc_id"),
            Seq("join", "filter", "scan"))
          .orderBy(col("score").desc, col("doc_id")).limit(20),
      Some(
        """WITH lens AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |dl AS (SELECT doc_id, len(toks)::bigint AS dl, toks FROM lens),
          |stats AS (SELECT count(*)::bigint AS n_docs, sum(len(toks))::bigint AS sum_dl
          |          FROM lens),
          |tf AS (SELECT doc_id, dl, token, count(*)::bigint AS tf
          |       FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dl)
          |       WHERE token IN ('join', 'filter', 'scan')
          |       GROUP BY 1, 2, 3),
          |df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY 1),
          |scored AS (
          |  -- every inexact step is explicitly double-typed: DuckDB would
          |  -- otherwise run bigint+0.5 in DECIMAL arithmetic and diverge
          |  -- from Spark's double plan
          |  SELECT tf.doc_id, tf.token,
          |         ((cast(s.n_docs - df.df AS double) + 0.5)
          |            / (cast(df.df AS double) + 0.5))
          |           * (cast(tf.tf AS double) * (1.2 + 1.0))
          |           / (cast(tf.tf AS double) + 1.2 * ((1.0 - 0.75)
          |                + 0.75 * (cast(tf.dl AS double)
          |                            / (cast(s.sum_dl AS double)
          |                                 / cast(s.n_docs AS double))))) AS term_score
          |  FROM tf CROSS JOIN stats s JOIN df ON tf.token = df.token)
          |SELECT doc_id,
          |       coalesce(max(CASE WHEN token = 'join' THEN term_score END), 0.0)
          |         + coalesce(max(CASE WHEN token = 'filter' THEN term_score END), 0.0)
          |         + coalesce(max(CASE WHEN token = 'scan' THEN term_score END), 0.0) AS score
          |FROM scored GROUP BY 1
          |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    ("text_langid",
      (s: SparkSession, d: String) =>
        TextOps.langId(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """WITH tok AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |scored AS (
          |  SELECT doc_id,
          |         len(list_filter(toks, x -> x IN ('the','a')))::int AS score_en,
          |         len(list_filter(toks, x -> x IN ('data','table')))::int AS score_es,
          |         len(list_filter(toks, x -> x IN ('window','group')))::int AS score_de,
          |         len(list_filter(toks, x -> x IN ('join','merge')))::int AS score_fr,
          |         len(list_filter(toks, x -> x IN ('vector','batch')))::int AS score_zh
          |  FROM tok)
          |SELECT *,
          |       CASE
          |         WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) = 0 THEN 'und'
          |         WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
          |         WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
          |         WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
          |         WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
          |         ELSE 'zh'
          |       END AS lang_pred
          |FROM scored""".stripMargin)),

    // Classifier-eval confusion matrix: predicted language (marker argmax)
    // vs the labeled lang column — the model-evaluation aggregate every
    // filter/classifier in the pipeline needs. One exchange on the
    // (actual, predicted) pair.
    ("text_langid_confusion",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        TextOps.langId(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("lang_pred"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L)).as("n_correct"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, lang,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |scored AS (
          |  SELECT doc_id, lang,
          |         len(list_filter(toks, x -> x IN ('the','a')))::int AS score_en,
          |         len(list_filter(toks, x -> x IN ('data','table')))::int AS score_es,
          |         len(list_filter(toks, x -> x IN ('window','group')))::int AS score_de,
          |         len(list_filter(toks, x -> x IN ('join','merge')))::int AS score_fr,
          |         len(list_filter(toks, x -> x IN ('vector','batch')))::int AS score_zh
          |  FROM tok),
          |pred AS (
          |  SELECT lang,
          |         CASE
          |           WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) = 0 THEN 'und'
          |           WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
          |           WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
          |           WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
          |           WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
          |           ELSE 'zh'
          |         END AS lang_pred
          |  FROM scored)
          |SELECT lang, lang_pred, count(*) AS n,
          |       sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)::bigint AS n_correct
          |FROM pred GROUP BY 1, 2""".stripMargin)),

    // Cohort retention: users bucketed by first-activity week, distinct
    // active users per (cohort, weeks-since-first) — the product-analytics
    // staple (two aggregations + one join; day arithmetic pinned to date
    // casts so both engines count identical boundaries).
    ("events_cohort_retention",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
        val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        ev.join(first, "user_id")
          .select(
            ntz(date_trunc("week", col("first_ts"))).as("cohort_week"),
            expr("datediff(cast(ts AS date), cast(first_ts AS date)) div 7")
              .cast("int").as("week_offset"),
            col("user_id"))
          .distinct()
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some(
        """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
          |a AS (
          |  SELECT DISTINCT date_trunc('week', f.first_ts) AS cohort_week,
          |         (date_diff('day', f.first_ts::date, e.ts::date) // 7)::int AS week_offset,
          |         e.user_id
          |  FROM events e JOIN f USING (user_id))
          |SELECT cohort_week, week_offset, count(*) AS n_users
          |FROM a GROUP BY 1, 2""".stripMargin)),

    // ---- Training-set assembly: split / stratified sample / redaction -----
    // Hash-split: reproducible, engine-independent, stable under data growth
    // (a doc's split never changes when the corpus grows) — rand() has none
    // of those properties. Pure projection, zero shuffle.
    ("split_train_val_test",
      (s: SparkSession, d: String) =>
        Sampling.hashSplit(Tables.documents(s, d), col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("split")),
      Some(
        """SELECT doc_id,
          |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |             ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 AS b
          |      FROM documents)""".stripMargin)),

    // Leakage-safe split: the split key is the NEAR-DUP COMPONENT, so a test
    // document's near-copy can never land in train (the contamination mode a
    // per-doc hash split cannot prevent). Chains the standard LSH → verify →
    // components oracle CTEs into the hash-split CASE.
    ("split_leakage_safe",
      (s: SparkSession, d: String) =>
        Sampling.leakageSafeSplit(Tables.documents(s, d), col("doc_id"),
          col("text"), Seq("train" -> 80, "val" -> 10, "test" -> 10)),
      Some(lshCandCtes + nearDupVerifyCtes +
        """, comp AS (
          |  SELECT id AS doc_id, min(lbl) AS component
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT doc_id, doc_id FROM documents
          |      UNION
          |      SELECT e.src, r.lbl
          |      FROM (SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.8
          |            UNION ALL
          |            SELECT doc_b AS src, doc_a AS dst FROM verified WHERE jaccard >= 0.8) e
          |      JOIN r ON r.id = e.dst)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1)
          |SELECT doc_id, component,
          |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          |FROM (SELECT doc_id, component,
          |             ('0x' || substr(md5(component::varchar), 1, 15))::bigint % 100 AS b
          |      FROM comp)""".stripMargin)),

    // Weighted sample without replacement (priority sampling, Duffield-Lund-
    // Thorup): 200 docs drawn with probability increasing in token count —
    // the "prefer long/high-quality documents" primitive. Priority = u/w from
    // a portable-hash uniform; one IEEE division keeps it bit-identical
    // cross-engine (an exponential clock's ln() would not be). Plans as
    // TakeOrderedAndProject: O(k) per partition, no global sort exchange.
    ("sample_weighted_priority",
      (s: SparkSession, d: String) => {
        val weighted = Tables.documents(s, d).select(
          col("doc_id"),
          size(TextOps.tokens(TextOps.normalize(col("text")))).as("n_tokens"))
        Sampling.prioritySample(weighted, col("doc_id"), col("n_tokens"), 200)
      },
      Some(
        """SELECT doc_id, n_tokens,
          |       cast(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint
          |              % 1125899906842624 + 1 AS double)
          |         / cast(n_tokens AS double) AS priority
          |FROM (SELECT doc_id,
          |             len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))::int AS n_tokens
          |      FROM documents)
          |ORDER BY priority, doc_id LIMIT 200""".stripMargin)),

    // Weighted sampling PER GROUP: per language, 30 documents drawn with
    // probability increasing in length — balanced AND weighted corpus
    // construction in one pass (group-keyed exchange + per-group top-k).
    ("sample_weighted_per_group",
      (s: SparkSession, d: String) =>
        Sampling.priorityPerGroup(
            Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
            Seq(col("lang")), col("doc_id"), col("n_chars"), 30)
          .select(col("lang"), col("doc_id"), col("n_chars")),
      Some(
        """SELECT lang, doc_id, n_chars FROM (
          |  SELECT lang, doc_id, n_chars,
          |         row_number() OVER (
          |           PARTITION BY lang
          |           ORDER BY cast(('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint
          |                           % 1125899906842624 + 1 AS double)
          |                      / cast(n_chars AS double),
          |                    doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 30""".stripMargin)),

    // Stratified quota: at most 100 events per type, drawn in deterministic
    // hash order — the "cap boilerplate domains / balance classes" primitive.
    ("sample_stratified",
      (s: SparkSession, d: String) =>
        Sampling.quotaPerGroup(Tables.events(s, d),
            Seq(col("event_type")), col("event_id"), 100)
          .select(col("event_type"), col("event_id"), col("user_id")),
      Some(
        """SELECT event_type, event_id, user_id FROM (
          |  SELECT event_type, event_id, user_id,
          |         row_number() OVER (
          |           PARTITION BY event_type
          |           ORDER BY ('0x' || substr(md5(event_id::varchar), 1, 15))::bigint,
          |                    event_id) AS rn
          |  FROM events)
          |WHERE rn <= 100""".stripMargin)),

    // Dataset-card profile: one row per source with the integer-exact
    // aggregates a corpus release note reports — docs, total tokens,
    // distinct languages, quality-pass count, distinct text fingerprints
    // (the exact-dup diagnostic). One grouped aggregation over the quality
    // metrics frame (distinct counts plan as the two-phase expand).
    ("corpus_profile",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        TextOps.qualityFilter(docs, col("text"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("quality_keep").cast("long")).as("n_quality"),
            countDistinct(md5(col("text"))).as("n_unique_texts"))
      },
      Some(qualityMetricsCtes("documents") +
        """SELECT d.source,
          |       count(*)::bigint AS n_docs,
          |       sum(m.n_tokens)::bigint AS total_tokens,
          |       count(DISTINCT d.lang)::bigint AS n_langs,
          |       sum(CASE WHEN m.n_tokens BETWEEN 20 AND 80
          |                 AND m.avg_token_len BETWEEN 3.0 AND 8.0
          |                 AND m.symbol_ratio <= 0.1 AND m.digit_token_ratio <= 0.2
          |                 AND m.n_stopwords >= 1 THEN 1 ELSE 0 END)::bigint AS n_quality,
          |       count(DISTINCT md5(d.text))::bigint AS n_unique_texts
          |FROM documents d JOIN qmetrics m USING (doc_id)
          |GROUP BY 1""".stripMargin)),

    // Snapshot diff: crawl A (doc_id % 10 <> 0) vs crawl B (doc_id % 7 <> 3,
    // with every %5==0 doc's text revised) classified added / removed /
    // changed / unchanged by md5 fingerprint — the incremental-reprocessing
    // audit ("re-embed only changed docs"). One full-outer equi-join;
    // payloads never cross the wire, only fingerprints.
    ("corpus_snapshot_diff",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val a = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("fp"))
        val b = docs.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("fp"))
        Layout.snapshotDiff(a, b, "doc_id")
      },
      Some(
        """WITH a AS (
          |  SELECT doc_id, md5(text) AS fp_a FROM documents WHERE doc_id % 10 <> 0),
          |b AS (
          |  SELECT doc_id,
          |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp_b
          |  FROM documents WHERE doc_id % 7 <> 3)
          |SELECT doc_id AS id, fp_a, fp_b,
          |       CASE WHEN fp_a IS NULL THEN 'added'
          |            WHEN fp_b IS NULL THEN 'removed'
          |            WHEN fp_a = fp_b THEN 'unchanged'
          |            ELSE 'changed' END AS status
          |FROM a FULL OUTER JOIN b USING (doc_id)""".stripMargin)),

    // Gate-agreement matrix: the 2×2×2 contingency of the three independent
    // keep verdicts — text-quality gate, hash-classifier gate, and
    // embedding kNN-density gate — over the SAME corpus (doc_id ≡ vec_id in
    // the fixtures). The diagnostic that shows whether filters are
    // redundant or complementary before a pipeline multiplies them; three
    // per-doc projections joined on the id, one 8-cell aggregation.
    ("corpus_gate_matrix",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val q = TextOps.qualityFilter(docs, col("text"))
          .select(col("doc_id"), col("quality_keep"))
        val c = TextOps.classifierScore(docs, col("text"), col("doc_id"),
            weights = clfWeights, bias = -40L, threshold = 0L)
          .select(col("doc_id"), col("clf_keep"))
        val dd = Similarity.knnDensityGate(Tables.embeddings(s, d), "vec_id",
            "embedding", k = 5, tau = 0.31, nBands = 4, rowsPerBand = 2,
            dim = 64)
          .select(col("src_id").as("doc_id"), col("dense_keep"))
        q.join(c, "doc_id").join(dd, "doc_id")
          .groupBy(col("quality_keep"), col("clf_keep"), col("dense_keep"))
          .agg(count(lit(1)).as("n"))
      },
      Some(knnGraphCte + ", " +
        clfLabelCtes.trim.stripPrefix("WITH") +
        """, dd AS (SELECT src_id,
          |            sum(floor(cosine * 1073741824)::bigint)::bigint AS density_q,
          |            count(*) AS knn_n
          |       FROM g GROUP BY 1),
          |gate AS (
          |  SELECT m.doc_id,
          |         (CASE WHEN m.n_tokens BETWEEN 20 AND 80
          |                AND m.avg_token_len BETWEEN 3.0 AND 8.0
          |                AND m.symbol_ratio <= 0.1 AND m.digit_token_ratio <= 0.2
          |                AND m.n_stopwords >= 1 THEN 1 ELSE 0 END)::int AS quality_keep,
          |         (CASE WHEN cm.margin >= 0 THEN 1 ELSE 0 END)::int AS clf_keep,
          |         (CASE WHEN coalesce(k.knn_n, 0) > 0
          |                AND coalesce(k.density_q, 0) >= 332859965 * coalesce(k.knn_n, 0)
          |               THEN 1 ELSE 0 END)::int AS dense_keep
          |  FROM qmetrics m
          |  JOIN cm USING (doc_id)
          |  LEFT JOIN dd k ON k.src_id = m.doc_id)
          |SELECT quality_keep, clf_keep, dense_keep, count(*)::bigint AS n
          |FROM gate GROUP BY 1, 2, 3""".stripMargin)),

    // Per-source corpus balancing: resample documents to target source
    // proportions — src0-src3 weighted 3, the rest 1, budget 280 → quotas
    // floor(280·3/28)=30 / floor(280·1/28)=10, drawn in portable-hash
    // order. The domain-mix step of a web-corpus recipe; same one-exchange
    // rank-window shape as sample_stratified.
    ("corpus_source_mix",
      (s: SparkSession, d: String) => {
        val mix = (0 to 3).map(i => s"src$i" -> 3L) ++
          (4 to 19).map(i => s"src$i" -> 1L)
        Sampling.sourceMix(Tables.documents(s, d), col("source"),
            col("doc_id"), mix, budget = 280L)
          .select(col("doc_id"), col("source"), col("n_chars"))
      },
      Some(
        """SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |         row_number() OVER (
          |           PARTITION BY source
          |           ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint,
          |                    doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= (CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
          |                  THEN 30 ELSE 10 END)""".stripMargin)),

    // Token-budgeted sampling: per source, admit documents in deterministic
    // hash order while the running TOKEN sum fits the budget — training
    // mixes are specified in tokens, not documents, so this is the cap that
    // actually binds when assembling a corpus ("500M tokens per domain").
    // Deterministic training-order shuffle: salted-hash shard + independent
    // salted-hash in-shard position = a reproducible global permutation,
    // stable per-row under corpus growth — the step that feeds the trainer.
    ("corpus_shuffle_shards",
      (s: SparkSession, d: String) =>
        Layout.shuffleShards(Tables.documents(s, d), col("doc_id"), nShards = 8)
          .select(col("doc_id"), col("shard"), col("shard_pos")),
      Some(
        """SELECT doc_id, shard, shard_pos FROM (
          |  SELECT doc_id, shard,
          |         row_number() OVER (PARTITION BY shard
          |           ORDER BY ('0x' || substr(md5('pos:' || doc_id::varchar), 1, 15))::bigint,
          |                    doc_id) AS shard_pos
          |  FROM (SELECT doc_id,
          |               (('0x' || substr(md5('shard:' || doc_id::varchar), 1, 15))::bigint % 8)::int AS shard
          |        FROM documents))""".stripMargin)),

    // Last-mile composition: token-budget the corpus per source, then hand
    // the surviving docs to the trainer in deterministic shuffled order —
    // proof the selection and layout stages compose (the oracle re-runs
    // both in CTEs).
    ("corpus_export_order",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val kept = Sampling.tokenBudgetPerGroup(
          docs.withColumn("n_tokens",
            size(TextOps.tokens(TextOps.normalize(col("text")))).cast("long")),
          Seq(col("source")), col("doc_id"), col("n_tokens"), budget = 1500L)
        Layout.shuffleShards(kept, col("doc_id"), nShards = 4)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("shard"), col("shard_pos"))
      },
      Some(
        """WITH kept AS (
          |  SELECT doc_id, source, n_tokens FROM (
          |    SELECT doc_id, source, n_tokens,
          |           sum(n_tokens) OVER (
          |             PARTITION BY source
          |             ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint,
          |                      doc_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_tokens
          |    FROM (SELECT doc_id, source,
          |                 len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))::bigint AS n_tokens
          |          FROM documents))
          |  WHERE cum_tokens <= 1500)
          |SELECT doc_id, source, n_tokens, shard, shard_pos FROM (
          |  SELECT doc_id, source, n_tokens, shard,
          |         row_number() OVER (PARTITION BY shard
          |           ORDER BY ('0x' || substr(md5('pos:' || doc_id::varchar), 1, 15))::bigint,
          |                    doc_id) AS shard_pos
          |  FROM (SELECT doc_id, source, n_tokens,
          |               (('0x' || substr(md5('shard:' || doc_id::varchar), 1, 15))::bigint % 4)::int AS shard
          |        FROM kept))""".stripMargin)),

    ("corpus_token_budget",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        Sampling.tokenBudgetPerGroup(
            docs.withColumn("n_tokens",
              size(TextOps.tokens(TextOps.normalize(col("text")))).cast("long")),
            Seq(col("source")), col("doc_id"), col("n_tokens"), budget = 1500L)
          .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      },
      Some(
        """SELECT doc_id, source, n_tokens, cum_tokens FROM (
          |  SELECT doc_id, source, n_tokens,
          |         sum(n_tokens) OVER (
          |           PARTITION BY source
          |           ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint,
          |                    doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_tokens
          |  FROM (SELECT doc_id, source,
          |               len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))::bigint AS n_tokens
          |        FROM documents))
          |WHERE cum_tokens <= 1500""".stripMargin)),

    // Global token-budget source mixing: ONE total token budget split by
    // source weights (src0-src3 weighted 3, the rest 1 → quotas
    // floor(6000·3/28)=642 / floor(6000·1/28)=214 tokens), each source then
    // greedy-prefix-filled in portable-hash order — the form real training
    // mixes are specified in. Same one-exchange running-sum shape as
    // corpus_token_budget; the quota CASE folds to plan-time literals.
    ("corpus_token_mix",
      (s: SparkSession, d: String) => {
        val mix = (0 to 3).map(i => s"src$i" -> 3L) ++
          (4 to 19).map(i => s"src$i" -> 1L)
        Sampling.tokenMix(
            Tables.documents(s, d).withColumn("n_tokens",
              size(TextOps.tokens(TextOps.normalize(col("text")))).cast("long")),
            col("source"), col("doc_id"), col("n_tokens"),
            mix, totalBudget = 6000L)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("cum_tokens"), col("mix_token_quota"))
      },
      Some(
        """SELECT doc_id, source, n_tokens, cum_tokens, mix_token_quota FROM (
          |  SELECT doc_id, source, n_tokens,
          |         sum(n_tokens) OVER (
          |           PARTITION BY source
          |           ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint,
          |                    doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_tokens,
          |         (CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
          |               THEN 642 ELSE 214 END)::bigint AS mix_token_quota
          |  FROM (SELECT doc_id, source,
          |               len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))::bigint AS n_tokens
          |        FROM documents))
          |WHERE cum_tokens <= mix_token_quota""".stripMargin)),

    // PII-ish redaction stats: emails and long digit runs masked; counts and
    // the redacted length verify the transform end-to-end.
    ("text_redact_stats",
      (s: SparkSession, d: String) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          regexp_count(col("text"), lit(TextOps.emailPattern)).as("n_emails"),
          regexp_count(col("text"), lit(TextOps.longNumberPattern)).as("n_long_numbers"),
          length(TextOps.redactPii(col("text"))).as("redacted_len")),
      Some(
        s"""SELECT doc_id,
          |       len(regexp_extract_all(text, '${TextOps.emailPattern}'))::int AS n_emails,
          |       len(regexp_extract_all(text, '${TextOps.longNumberPattern}'))::int AS n_long_numbers,
          |       length(regexp_replace(
          |                regexp_replace(text, '${TextOps.emailPattern}', '<EMAIL>', 'g'),
          |                '${TextOps.longNumberPattern}', '<NUM>', 'g'))::int AS redacted_len
          |FROM documents""".stripMargin)),

    // Native bounded top-k aggregate: per-key top-3 via a size-k heap carried
    // through partial/final aggregation — O(keys·k) through the shuffle where
    // the window formulation sorts every key's full row set. Same rows as the
    // row_number() oracle.
    ("events_topk_native",
      (s: SparkSession, d: String) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(graft.functions.GraftFunctions.topk_by(
            struct(col("value"), col("event_id")), 3).as("top"))
          .select(col("event_type"), posexplode(col("top")).as(Seq("r0", "t")))
          .select(col("event_type"), (col("r0") + 1).cast("int").as("rnk"),
            col("t.value").as("value"), col("t.event_id").as("event_id")),
      Some(
        """SELECT event_type, cast(rnk AS int) AS rnk, value, event_id
          |FROM (SELECT event_type, value, event_id,
          |             row_number() OVER (PARTITION BY event_type
          |                                ORDER BY value DESC, event_id DESC) AS rnk
          |      FROM events)
          |WHERE rnk <= 3""".stripMargin)),

    // Grouped bounded top-k at higher cardinality and k: per-user top-10 by
    // (value, event_id) through the same native heap aggregate — ~1.5k
    // groups × k=10 carried through partial/final aggregation, where the
    // row_number() oracle formulation shuffles and sorts every event row.
    // TopKShuffleSpec measures the shuffle-volume gap and its scaling.
    ("events_topk_per_user",
      (s: SparkSession, d: String) =>
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(graft.functions.GraftFunctions.topk_by(
            struct(col("value"), col("event_id")), 10).as("top"))
          .select(col("user_id"), posexplode(col("top")).as(Seq("r0", "t")))
          .select(col("user_id"), (col("r0") + 1).cast("int").as("rnk"),
            col("t.value").as("value"), col("t.event_id").as("event_id")),
      Some(
        """SELECT user_id, cast(rnk AS int) AS rnk, value, event_id
          |FROM (SELECT user_id, value, event_id,
          |             row_number() OVER (PARTITION BY user_id
          |                                ORDER BY value DESC, event_id DESC) AS rnk
          |      FROM events)
          |WHERE rnk <= 10""".stripMargin)),

    // Salted skew-join: the hot-key mitigation produces EXACTLY the plain
    // join's rows (the oracle is the unsalted join) while spreading each key
    // over saltFactor reducers.
    ("events_salted_join",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d)
        val dim = ev.select(col("event_type")).distinct()
          .withColumn("type_label", upper(col("event_type")))
        Skew.saltedJoin(ev, dim, "event_type", col("event_id"), 8)
          .select(col("event_id"), col("event_type"), col("type_label"))
      },
      Some(
        """SELECT event_id, e.event_type, upper(e.event_type) AS type_label
          |FROM events e
          |JOIN (SELECT DISTINCT event_type FROM events) d
          |  ON e.event_type = d.event_type""".stripMargin)),

    // Two-stage salted aggregation: partial on (key, salt), final on key —
    // identical counts to the direct groupBy (the oracle), with hot-key
    // combiner state spread over the salt space.
    ("events_salted_counts",
      (s: SparkSession, d: String) =>
        Skew.saltedCount(Tables.events(s, d), col("event_type"), col("event_id"), 8)
          .select(col("key").as("event_type"), col("n")),
      Some(
        """SELECT event_type, count(*)::bigint AS n
          |FROM events GROUP BY 1""".stripMargin)),

    // Two-pass exact heavy hitters: a native Misra-Gries sketch proposes a
    // bounded candidate set (every key with freq > n/1025 guaranteed in it),
    // then an exact recount of just the candidates applies the 1-in-500
    // support threshold. The shuffle carries O(partitions·capacity) sketch
    // state + O(capacity) recount groups instead of O(distinct keys) — the
    // heavy-hitters shape for a billion-key column. The recount makes the
    // result exact and arrival-order-independent, so the oracle is the plain
    // full groupBy HAVING.
    ("events_frequent_users",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d)
        val cands = ev
          .agg(count(lit(1)).as("total"),
            graft.functions.GraftFunctions.mg_candidates(col("user_id"), 1024).as("cands"))
          .select(col("total"), explode(col("cands")).as("user_id"))
        ev.join(broadcast(cands), Seq("user_id"))
          .groupBy(col("user_id"), col("total"))
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") * 500 >= col("total"))
          .select(col("user_id"), col("freq"))
      },
      Some(
        """SELECT user_id, count(*)::bigint AS freq
          |FROM events GROUP BY 1
          |HAVING count(*) * 500 >= (SELECT count(*) FROM events)""".stripMargin)),

    // Funnel analysis: per-user view → purchase conversion within one hour —
    // the behavioral-sequence query shape (interval self-join + flag).
    ("events_funnel",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_uid"), col("ts").as("purchase_ts"))
        val converted = views.join(purchases,
            col("user_id") === col("p_uid") &&
              col("purchase_ts") >= col("view_ts") &&
              col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id")).distinct()
          .withColumn("conv", lit(1))
        ev.groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_views"),
            sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"))
          .join(converted, Seq("user_id"), "left")
          .withColumn("converted", coalesce(col("conv"), lit(0)))
          .drop("conv")
      },
      Some(
        """WITH vv AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
          |pp AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
          |conv AS (SELECT DISTINCT vv.user_id FROM vv JOIN pp
          |         ON pp.user_id = vv.user_id
          |        AND pp.ts >= vv.ts AND pp.ts <= vv.ts + INTERVAL 1 HOUR)
          |SELECT e.user_id,
          |       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::bigint AS n_views,
          |       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::bigint AS n_purchases,
          |       (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)::int AS converted
          |FROM events e LEFT JOIN conv c ON c.user_id = e.user_id
          |GROUP BY 1, 4""".stripMargin)),

    // Z-order layout key: Morton interleave of two bucketized filter columns
    // — sort-before-write so min/max stats prune scans on either axis.
    ("events_zorder_key",
      (s: SparkSession, d: String) => {
        val x = pmod(col("user_id").cast("long"), lit(256L))
        val y = pmod(abs(floor(col("value"))).cast("long"), lit(256L))
        Tables.events(s, d).select(col("event_id"),
          x.as("zx"), y.as("zy"), Layout.zValue(x, y, 8).as("z"))
      },
      Some {
        val terms = (0 until 8).map { b =>
          s"((zx >> $b) & 1) * ${1L << (2 * b)} + ((zy >> $b) & 1) * ${1L << (2 * b + 1)}"
        }.mkString(" + ")
        s"""SELECT event_id, zx, zy, ($terms)::bigint AS z
           |FROM (SELECT event_id,
           |             user_id % 256 AS zx,
           |             (abs(floor(value))::bigint) % 256 AS zy
           |      FROM events)""".stripMargin
      }),

    // BPE training, first iteration: corpus-wide counts of adjacent character
    // pairs within tokens — the merge-candidate table a byte-pair tokenizer
    // trains from. Top-20 with deterministic tie-break.
    ("text_bpe_pairs",
      (s: SparkSession, d: String) =>
        Tables.documents(s, d)
          .select(explode(TextOps.tokens(TextOps.normalize(col("text")))).as("token"))
          .filter(length(col("token")) >= 2)
          .select(explode(transform(
            sequence(lit(1), length(col("token")) - 1),
            i => col("token").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20),
      Some(
        """WITH tok AS (
          |  SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
          |  FROM documents),
          |pairs AS (
          |  SELECT unnest(list_transform(range(1, length(token)), i -> substring(token, i::int, 2))) AS pair
          |  FROM tok WHERE length(token) >= 2)
          |SELECT pair, count(*)::bigint AS n
          |FROM pairs GROUP BY 1
          |ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    // Feature-hashing vectorizer (hashing trick): 16-bucket token-count
    // vector per doc — the no-vocabulary text featurizer, zero-shuffle and
    // stable under corpus growth. Scalar projections + a position-weighted
    // checksum pin every bucket for the row-sorting gate.
    ("text_hash_vectorize",
      (s: SparkSession, d: String) => {
        val dim = 16
        val v = TextOps.hashVectorize(col("text"), dim)
        Tables.documents(s, d).select(
          col("doc_id"),
          element_at(v, 1).as("b0"), element_at(v, 2).as("b1"),
          element_at(v, 3).as("b2"), element_at(v, 4).as("b3"),
          aggregate(zip_with(v, sequence(lit(0), lit(dim - 1)), (c, i) => c * i),
            lit(0), (a, x) => a + x).as("wsum"),
          size(TextOps.tokens(TextOps.normalize(col("text")))).as("n_tokens"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |v AS (
          |  SELECT doc_id, toks,
          |         list_transform(range(0, 16),
          |           b -> len(list_filter(toks,
          |                  tok -> ('0x' || substr(md5(tok), 1, 15))::bigint % 16 = b))) AS vec
          |  FROM t)
          |SELECT doc_id,
          |       vec[1]::int AS b0, vec[2]::int AS b1, vec[3]::int AS b2, vec[4]::int AS b3,
          |       list_sum(list_transform(range(0, 16), i -> vec[i + 1] * i))::int AS wsum,
          |       len(toks)::int AS n_tokens
          |FROM v""".stripMargin)),

    // BPE tokenizer training, 3 merges: per iteration the corpus-wide most
    // frequent adjacent symbol pair (weighted by word frequency) and the
    // greedy left-to-right merge. Driver loop bounded by the merge count
    // (the k-means pattern); each round is one vocab-sized pair-count
    // shuffle + a zero-shuffle merge projection. The oracle unrolls the
    // same three rounds with list_reduce folds.
    ("text_bpe_train",
      (s: SparkSession, d: String) =>
        TextOps.bpeTrain(Tables.documents(s, d), col("text"), merges = 3),
      Some {
        def iter(i: Int): String =
          s"""p$i AS (
             |  SELECT pr['a'] AS a, pr['b'] AS b, sum(w)::bigint AS n
             |  FROM (SELECT unnest(list_transform(range(1, len(syms)),
             |                      j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr, w
             |        FROM w${i - 1} WHERE len(syms) >= 2)
             |  GROUP BY 1, 2),
             |r$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
             |w$i AS (
             |  SELECT list_reduce(list_prepend([]::varchar[], list_transform(syms, x -> [x])),
             |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = r$i.a AND x[1] = r$i.b
             |                       THEN list_append(acc[1:-2], r$i.a || r$i.b)
             |                       ELSE list_append(acc, x[1]) END) AS syms, w
             |  FROM w${i - 1}, r$i),
             |""".stripMargin
        s"""WITH tok AS (
           |  SELECT token, count(*) AS w
           |  FROM (SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS token
           |        FROM documents)
           |  GROUP BY 1),
           |w0 AS (SELECT list_transform(range(1, length(token) + 1), i -> token[i]) AS syms, w FROM tok),
           |${iter(1)}${iter(2)}${iter(3).stripSuffix(",\n")}
           |SELECT 1 AS iteration, a AS sym_a, b AS sym_b, n AS weight FROM r1
           |UNION ALL SELECT 2, a, b, n FROM r2
           |UNION ALL SELECT 3, a, b, n FROM r3""".stripMargin
      }),

    // Linear quality-classifier inference (fastText-shaped): hashed
    // bag-of-tokens counts · integer weight vector + bias → margin,
    // thresholded keep flag. Weights are plan-time literals (trained
    // offline); zero-shuffle projection, exact-long dot product.
    ("text_classifier_score",
      (s: SparkSession, d: String) =>
        TextOps.classifierScore(Tables.documents(s, d), col("text"),
          col("doc_id"), weights = clfWeights, bias = -40L, threshold = 0L),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |w AS (SELECT [5, -3, 7, 2, -8, 4, 1, -2, 6, -5, 3, 9, -1, -4, 8, 2] AS wv),
          |v AS (
          |  SELECT doc_id,
          |         list_transform(range(0, 16),
          |           b -> len(list_filter(toks,
          |                  tok -> ('0x' || substr(md5(tok), 1, 15))::bigint % 16 = b))) AS vec
          |  FROM t),
          |m AS (
          |  SELECT doc_id,
          |         (list_sum(list_transform(range(0, 16), i -> vec[i + 1] * wv[i + 1])) - 40)::bigint AS margin
          |  FROM v CROSS JOIN w)
          |SELECT doc_id, margin,
          |       (CASE WHEN margin >= 0 THEN 1 ELSE 0 END)::int AS clf_keep
          |FROM m""".stripMargin)),

    // Exact tie-aware ROC AUC of the hash-classifier margin predicting the
    // quality gate: Mann–Whitney with average ranks, kept in integer 2× form
    // (auc_num2 / auc_den2 exact longs; auc is their one IEEE division).
    // Aggregates BY SCORE first — the unpartitioned rank window runs over
    // the distinct-margin frame, never the corpus.
    ("eval_auc_classifier",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val scored = TextOps.classifierScore(docs, col("text"), col("doc_id"),
          weights = clfWeights, bias = -40L, threshold = 0L)
        val labels = TextOps.qualityFilter(docs, col("text"))
          .select(col("doc_id"), col("quality_keep"))
        Eval.aucExact(scored.join(labels, "doc_id"),
          col("margin"), col("quality_keep"))
      },
      Some(clfLabelCtes +
        """, bysc AS (
          |  SELECT score, count(*)::bigint AS c, sum(label)::bigint AS p
          |  FROM joined GROUP BY 1),
          |cum AS (
          |  SELECT score, c, p,
          |         coalesce(sum(c) OVER (ORDER BY score
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
          |           AS cum_below
          |  FROM bysc),
          |agg AS (
          |  SELECT sum(p)::bigint AS n_pos, sum(c - p)::bigint AS n_neg,
          |         sum(p * (2 * cum_below + c + 1))::bigint AS sum2ranks
          |  FROM cum)
          |SELECT n_pos, n_neg,
          |       (sum2ranks - n_pos * (n_pos + 1))::bigint AS auc_num2,
          |       (2 * n_pos * n_neg)::bigint AS auc_den2,
          |       CASE WHEN n_pos * n_neg <> 0
          |            THEN (sum2ranks - n_pos * (n_pos + 1))::double
          |                   / (2 * n_pos * n_neg) END AS auc
          |FROM agg""".stripMargin)),

    // Calibration table for the same (margin, quality) pair: 10 fixed-width
    // bins over the observed margin range (exact long floor division), with
    // per-bin counts and empirical positive rate — the reliability-diagram /
    // threshold-tuning artifact.
    ("eval_calibration_bins",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val scored = TextOps.classifierScore(docs, col("text"), col("doc_id"),
          weights = clfWeights, bias = -40L, threshold = 0L)
        val labels = TextOps.qualityFilter(docs, col("text"))
          .select(col("doc_id"), col("quality_keep"))
        Eval.calibrationBins(scored.join(labels, "doc_id"),
          col("margin"), col("quality_keep"), nBins = 10)
      },
      Some(clfLabelCtes +
        """, bounds AS (SELECT min(score) AS smin, max(score) AS smax FROM joined)
          |SELECT ((score - smin) * 10 // (smax - smin + 1))::bigint AS bin,
          |       count(*)::bigint AS n, sum(label)::bigint AS n_pos,
          |       min(score)::bigint AS score_lo, max(score)::bigint AS score_hi,
          |       sum(label)::double / count(*) AS pos_rate
          |FROM joined CROSS JOIN bounds
          |GROUP BY 1""".stripMargin)),

    // Full precision/recall sweep for the same (margin, quality) pair: one
    // row per achievable threshold ("keep docs scoring ≥ s") with exact long
    // confusion counts and the precision/recall/F1 trade-off at that cutoff
    // — the artifact behind choosing a corpus-filter operating point.
    // Cumulative sums run on the distinct-score frame (bounded by the score
    // domain, never the corpus); each ratio is one IEEE division of exact
    // longs, so both engines round identically.
    ("eval_pr_curve",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val scored = TextOps.classifierScore(docs, col("text"), col("doc_id"),
          weights = clfWeights, bias = -40L, threshold = 0L)
        val labels = TextOps.qualityFilter(docs, col("text"))
          .select(col("doc_id"), col("quality_keep"))
        Eval.prCurve(scored.join(labels, "doc_id"),
          col("margin"), col("quality_keep"))
      },
      Some(clfLabelCtes +
        """, bysc AS (
          |  SELECT score, count(*)::bigint AS c, sum(label)::bigint AS p
          |  FROM joined GROUP BY 1),
          |cum AS (
          |  SELECT score,
          |         sum(p) OVER (ORDER BY score DESC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
          |         sum(c) OVER (ORDER BY score DESC
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
          |         sum(p) OVER () AS n_pos
          |  FROM bysc)
          |SELECT score AS threshold, tp::bigint AS tp,
          |       (pp - tp)::bigint AS fp, (n_pos - tp)::bigint AS fn,
          |       tp::double / pp AS precision_at,
          |       CASE WHEN n_pos <> 0 THEN tp::double / n_pos END AS recall_at,
          |       CASE WHEN n_pos + pp <> 0
          |            THEN (2 * tp)::double / (n_pos + pp) END AS f1_at
          |FROM cum""".stripMargin)),

    // Retrieval-ranking eval (Eval.ndcgAtK — verdict-r14 item 2): NDCG@5
    // and reciprocal rank per query, grading the engine's OWN BM25
    // retrieval (three fixed term-bag queries, top-20 candidates each)
    // against a deterministic graded relevance label: the count of the
    // query's terms present in the document (term coverage, 0..3). DCG
    // position weights are 2^30-scaled 1/log2(r+1) plan literals computed
    // once in Scala and inlined into BOTH engines' plans (the HLL
    // ln-table precedent) — the whole metric is exact longs plus one
    // final IEEE division.
    ("eval_ndcg_retrieval",
      (s: SparkSession, d: String) => retrievalNdcgPerQuery(s, d),
      Some(retrievalNdcgSql)),

    // The corpus roll-up: mean NDCG + MRR over the query set in exact
    // numerator/denominator form (sums of 2^20 fixed-point longs; a query
    // with no relevant hit contributes 0, the standard convention).
    ("eval_retrieval_mean",
      (s: SparkSession, d: String) =>
        Eval.retrievalEvalSummary(retrievalNdcgPerQuery(s, d)),
      Some(retrievalMeanSql)),

    // ==== distributed training: full-batch perceptron =====================
    // The training loop itself as a catalog row — iterated whole-corpus
    // aggregation with O(dim) driver state (see Learn.scala's scale notes).
    // Exact integer features/weights/margins make the 16-iteration trajectory
    // summation-order-independent, so the ORACLE replays the identical
    // training run as 16 unrolled CTEs and the weight history hash-matches
    // bit-for-bit — a verified distributed training loop, not just scoring.
    ("learn_perceptron",
      (s: SparkSession, d: String) =>
        Learn.perceptronHistory(
          Learn.markerFeatures(Tables.documents(s, d), col("doc_id"),
            col("text")), iters = 16),
      Some(perceptronHistorySql(16))),

    // The serving half: final weights folded in as plan-time literals, exact
    // integer score per document plus a correctness flag (the oracle scores
    // from its own final-iteration (it16) weights — train AND predict both cross-verified).
    ("learn_perceptron_preds",
      (s: SparkSession, d: String) =>
        Learn.perceptronPredict(
          Learn.markerFeatures(Tables.documents(s, d), col("doc_id"),
            col("text")), iters = 16),
      Some(perceptronPredsSql(16))),

    // Averaged-perceptron serving: score with the trajectory-SUMMED weights
    // (sign-equivalent to the average, division never happens, everything
    // stays integer-exact) — the standard stabilizer when the concept is
    // only nearly separable. Oracle sums the unrolled iterations' weights.
    ("learn_perceptron_avg_preds",
      (s: SparkSession, d: String) =>
        Learn.perceptronPredictAveraged(
          Learn.markerFeatures(Tables.documents(s, d), col("doc_id"),
            col("text")), iters = 16),
      Some(perceptronAvgPredsSql(16))),

    // WARM twin of learn_perceptron_preds: weights are a persisted artifact
    // (Artifacts.perceptronWeights — writeWeights/readWeights round-trip
    // with feature-layout validation); the row is scoreStatic's
    // zero-shuffle literal projection only — the 16-iteration training loop
    // never runs in-query. Same oracle as the training-twin predictions.
    ("learn_perceptron_served",
      (s: SparkSession, d: String) =>
        Learn.scoreStatic(
          Learn.markerFeatures(Tables.documents(s, d), col("doc_id"),
            col("text")),
          Artifacts.perceptronWeights(s, d).toSeq),
      Some(perceptronPredsSql(16))),

    // ==== distributed training: one-pass ridge regression =================
    // The CLOSED-FORM counterpart to the perceptron loop: (XᵀX + λI)w = Xᵀy
    // solved exactly. One aggregate computes the 6 Gram + 3 moment sums
    // (map-side partials → a single reduce of 9 longs — the cheapest
    // possible training job at 100 TB); the 3×3 solve is O(1) driver work in
    // exact BigInt (Bareiss + Cramer), so the oracle reproduces the weights
    // bit-for-bit via HUGEINT cofactor expansion. Regression target: predict
    // filter+sort+merge token volume from scan/join counts (+bias).
    ("learn_ridge_weights",
      (s: SparkSession, d: String) => {
        val feats = ridgeFeats(s, d)
        Learn.ridgeWeightsFrame(s,
          Learn.ridgeFit(feats, ridgeXc, "y_t", lambda = 1L))
      },
      Some(ridgeWeightsSql)),

    // The serving half: per-document exact prediction numerator
    // (pred = pred_num / det) and det-scaled residual, model folded in as
    // decimal literals — zero-shuffle projection, string-encoded because
    // the Cramer numerators exceed long range beyond ~10⁴ docs.
    ("learn_ridge_preds",
      (s: SparkSession, d: String) => {
        val feats = ridgeFeats(s, d)
        val m = Learn.ridgeFit(feats, ridgeXc, "y_t", lambda = 1L)
        Learn.ridgePredict(feats, m, col("doc_id"), "y_t")
      },
      Some(ridgePredsSql)),

    // One closed-form model PER SOURCE, with the Cramer solve itself as
    // Catalyst decimal expressions (Leibniz over the 3! permutations) — no
    // driver state at all: a grouped Gram aggregate plus a zero-shuffle
    // projection trains a model per domain in a single pass, however many
    // domains there are. The model-per-source quality-scorer shape.
    ("learn_ridge_by_source",
      (s: SparkSession, d: String) => {
        val feats = Learn.markerFeatures(Tables.documents(s, d),
            col("doc_id"), col("text"), carry = Seq("source"))
          .withColumn("y_t", col("x_filter") + col("x_sort") + col("x_merge"))
        Learn.ridgeFitGrouped(feats, col("source"), ridgeXc, "y_t")
      },
      Some(ridgeGroupedSql)),

    // BPE encode: apply the 3 trained merges to every document (greedy
    // left-to-right, training order — the encode half of the tokenizer
    // loop). Zero-shuffle projection: the rules are plan-time literals
    // fetched from the bounded trainer at construction (the bm25-constants
    // pattern); per-token folds are array-local. The oracle re-derives the
    // same rules via the train CTE chain and unrolls the same three folds
    // per document.
    ("text_bpe_encode",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val rules = TextOps.bpeTrain(docs, col("text"), merges = 3)
          .orderBy("iteration").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        TextOps.bpeEncode(docs, col("text"), col("doc_id"), rules)
      },
      Some(bpeEncodeSql)),

    // WARM twin of text_bpe_encode: the 3-merge vocabulary is a persisted
    // artifact (Artifacts.bpeRules — the writeBpeVocab/readBpeVocab
    // round-trip); the row itself is bpeEncode's zero-shuffle literal-rule
    // projection only. Same oracle: encoding through the reloaded
    // vocabulary must be indistinguishable from training in-query.
    ("text_bpe_served",
      (s: SparkSession, d: String) =>
        TextOps.bpeEncode(Tables.documents(s, d), col("text"), col("doc_id"),
          Artifacts.bpeRules(s, d)),
      Some(bpeEncodeSql)),

    // Corpus-relative rarity: mean document-frequency of each doc's distinct
    // tokens — the boilerplate-vs-novelty signal, integer-derived throughout.
    ("text_token_rarity",
      (s: SparkSession, d: String) =>
        TextOps.docRarity(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """WITH tok AS (
          |  SELECT DISTINCT doc_id, t AS token
          |  FROM (SELECT doc_id,
          |               unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
          |        FROM documents)),
          |dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY 1)
          |SELECT doc_id,
          |       count(*) AS n_distinct_tokens,
          |       sum(df)::bigint AS sum_df,
          |       cast(sum(df) AS double) / count(*) AS mean_token_df
          |FROM tok JOIN dfreq USING (token)
          |GROUP BY 1""".stripMargin)),

    // Within-document repetition battery (Gopher-style): top/duplicate
    // word-bigram and -trigram occurrence fractions plus the keep verdict —
    // the filter that catches loop-generated and boilerplate-stuffed text.
    ("text_repetition",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val r2 = TextOps.repetitionStats(docs, col("text"), col("doc_id"), 2)
        val r3 = TextOps.repetitionStats(docs, col("text"), col("doc_id"), 3)
        r2.join(r3, "doc_id")
          .withColumn("rep_keep",
            (col("top_2gram_ratio") <= 0.08 && col("dup_2gram_ratio") <= 0.15 &&
              col("dup_3gram_ratio") <= 0.10).cast("int"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS gram
          |       FROM toks WHERE len(toks) >= 2),
          |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
          |m2 AS (SELECT doc_id, sum(c)::bigint AS n_2grams,
          |              cast(max(c) AS double) / sum(c) AS top_2gram_ratio,
          |              cast(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS double) / sum(c) AS dup_2gram_ratio
          |       FROM c2 GROUP BY 1),
          |g3 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 2),
          |                             i -> array_to_string(toks[i + 1:i + 3], ' '))) AS gram
          |       FROM toks WHERE len(toks) >= 3),
          |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
          |m3 AS (SELECT doc_id, sum(c)::bigint AS n_3grams,
          |              cast(max(c) AS double) / sum(c) AS top_3gram_ratio,
          |              cast(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS double) / sum(c) AS dup_3gram_ratio
          |       FROM c3 GROUP BY 1)
          |SELECT m2.doc_id, n_2grams, top_2gram_ratio, dup_2gram_ratio,
          |       n_3grams, top_3gram_ratio, dup_3gram_ratio,
          |       (CASE WHEN top_2gram_ratio <= 0.08 AND dup_2gram_ratio <= 0.15
          |                  AND dup_3gram_ratio <= 0.10 THEN 1 ELSE 0 END)::int AS rep_keep
          |FROM m2 JOIN m3 ON m2.doc_id = m3.doc_id""".stripMargin)),

    // Cross-document boilerplate: fraction of each doc's distinct 3-gram
    // shingles shared by >= 5 documents corpus-wide — headers/chrome/license
    // blocks that repeat across a crawl rather than within one page.
    // Plans the skew-safe (default) form since r9: two-level df count +
    // heavy-key broadcast attach — bounded per-task fan-in at any skew.
    ("text_boilerplate",
      (s: SparkSession, d: String) =>
        TextOps.boilerplateStats(Tables.documents(s, d), col("text"),
          col("doc_id"), n = 3, minDf = 5),
      Some(shingleCte +
        """, dfreq AS (SELECT shingle, count(*) AS df FROM shingle_rows GROUP BY 1)
          |SELECT doc_id, count(*)::bigint AS n_shingles,
          |       sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::bigint AS n_boiler,
          |       cast(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS double) / count(*) AS boiler_ratio
          |FROM shingle_rows JOIN dfreq USING (shingle)
          |GROUP BY 1""".stripMargin)),

    // Small-corpus opt-in form of text_boilerplate: document frequency as a
    // whole-partition window count over one exploded frame — fewer exchanges
    // and no model join, but a hyper-common shingle lands in ONE task, so
    // this form is only for frames where the hottest shingle provably fits
    // one task. Identical result by construction, pinned by the same oracle.
    ("text_boilerplate_window",
      (s: SparkSession, d: String) =>
        TextOps.boilerplateStats(Tables.documents(s, d), col("text"),
          col("doc_id"), n = 3, minDf = 5, skewSafe = false),
      Some(shingleCte +
        """, dfreq AS (SELECT shingle, count(*) AS df FROM shingle_rows GROUP BY 1)
          |SELECT doc_id, count(*)::bigint AS n_shingles,
          |       sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::bigint AS n_boiler,
          |       cast(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS double) / count(*) AS boiler_ratio
          |FROM shingle_rows JOIN dfreq USING (shingle)
          |GROUP BY 1""".stripMargin)),

    // The default at-scale form with a deliberately LOW heavyCut=8 so BOTH
    // the broadcast (hot) and bounded-join (cold) branches carry rows at
    // gate scale (the default 2^24 cut keeps everything on the cold branch
    // at sf0.01); identical result by construction, pinned by the same
    // oracle.
    ("text_boilerplate_skewsafe",
      (s: SparkSession, d: String) =>
        TextOps.boilerplateStats(Tables.documents(s, d), col("text"),
          col("doc_id"), n = 3, minDf = 5, skewSafe = true, heavyCut = 8L),
      Some(shingleCte +
        """, dfreq AS (SELECT shingle, count(*) AS df FROM shingle_rows GROUP BY 1)
          |SELECT doc_id, count(*)::bigint AS n_shingles,
          |       sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::bigint AS n_boiler,
          |       cast(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS double) / count(*) AS boiler_ratio
          |FROM shingle_rows JOIN dfreq USING (shingle)
          |GROUP BY 1""".stripMargin)),

    // Train/test contamination: per held-out test doc, coverage of its
    // distinct 3-gram shingles by the train split (same hash-split as
    // split_train_val_test). Partial overlap is the base rate; the flag
    // fires at 90% coverage — the benchmark-decontamination gate.
    ("text_contamination",
      (s: SparkSession, d: String) => {
        val split = Sampling.hashSplit(Tables.documents(s, d), col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        TextOps.contamination(
          split.filter(col("split") === "test"),
          split.filter(col("split") === "train"),
          col("text"), col("doc_id"), n = 3, threshold = 0.9)
      },
      Some(contaminationOracleSql)),

    // The at-scale decontamination form: training shingles pre-filtered
    // through a bloom sketch of the (tiny) test shingle set — a scalar-
    // subquery probe that kills non-candidate shingles map-side, BEFORE the
    // distinct's exchange. Blooms have no false negatives and the exact
    // equi-join removes false positives, so the result is row-identical to
    // text_contamination — same oracle SQL, same hash.
    ("text_contamination_bloom",
      (s: SparkSession, d: String) => {
        val split = Sampling.hashSplit(Tables.documents(s, d), col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        TextOps.contaminationBloom(
          split.filter(col("split") === "test"),
          split.filter(col("split") === "train"),
          col("text"), col("doc_id"), n = 3, threshold = 0.9,
          expectedItems = 1L << 17)
      },
      Some(contaminationOracleSql)),

    // Bigram LM scoring (log-free perplexity stand-in): corpus bigram model,
    // per-doc mean conditional probability quantized to integer
    // parts-per-2^30 so the sum is exact in any aggregation order.
    // Plans the skew-safe (default) form since r9: distinct-bigram model +
    // heavy-key broadcast attach — bounded per-task fan-in at any skew.
    ("text_lm_score",
      (s: SparkSession, d: String) =>
        TextOps.lmScore(Tables.documents(s, d), col("text"), col("doc_id")),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |bi AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS bigram
          |       FROM toks WHERE len(toks) >= 2),
          |c12 AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY 1),
          |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
          |       FROM c12 GROUP BY 1),
          |model AS (SELECT bigram, (c12 * 1073741824) // c1 AS p_scaled
          |          FROM c12 JOIN c1 ON string_split(bigram, ' ')[1] = w1)
          |SELECT doc_id, count(*)::bigint AS n_bigrams,
          |       cast(sum(p_scaled) AS double) / (count(*) * 1073741824.0) AS lm_score
          |FROM bi JOIN model USING (bigram)
          |GROUP BY 1""".stripMargin)),

    // Small-corpus opt-in form of text_lm_score: both model counts as
    // whole-partition window counts over ONE exploded bigram frame — no
    // model table, no joins, but a hyper-common first word ("the …") lands
    // in one task. Identical result by construction, same oracle.
    ("text_lm_score_window",
      (s: SparkSession, d: String) =>
        TextOps.lmScore(Tables.documents(s, d), col("text"), col("doc_id"),
          skewSafe = false),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |bi AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS bigram
          |       FROM toks WHERE len(toks) >= 2),
          |c12 AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY 1),
          |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
          |       FROM c12 GROUP BY 1),
          |model AS (SELECT bigram, (c12 * 1073741824) // c1 AS p_scaled
          |          FROM c12 JOIN c1 ON string_split(bigram, ' ')[1] = w1)
          |SELECT doc_id, count(*)::bigint AS n_bigrams,
          |       cast(sum(p_scaled) AS double) / (count(*) * 1073741824.0) AS lm_score
          |FROM bi JOIN model USING (bigram)
          |GROUP BY 1""".stripMargin)),

    // The default at-scale form with a deliberately LOW heavyCut=8 so BOTH
    // broadcast (hot) and bounded-join (cold) branches carry rows at gate
    // scale. The model-table CTE shape is literally what the skew-safe
    // Spark plan computes.
    ("text_lm_score_skewsafe",
      (s: SparkSession, d: String) =>
        TextOps.lmScore(Tables.documents(s, d), col("text"), col("doc_id"),
          skewSafe = true, heavyCut = 8L),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |bi AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS bigram
          |       FROM toks WHERE len(toks) >= 2),
          |c12 AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY 1),
          |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
          |       FROM c12 GROUP BY 1),
          |model AS (SELECT bigram, (c12 * 1073741824) // c1 AS p_scaled
          |          FROM c12 JOIN c1 ON string_split(bigram, ' ')[1] = w1)
          |SELECT doc_id, count(*)::bigint AS n_bigrams,
          |       cast(sum(p_scaled) AS double) / (count(*) * 1073741824.0) AS lm_score
          |FROM bi JOIN model USING (bigram)
          |GROUP BY 1""".stripMargin)),

    // DSIR-style importance weights (Xie et al. 2023): raw docs scored by
    // target-likeness over hashed unigram+bigram buckets, target = the
    // English slice of the corpus. Log-free house variant: per-bucket
    // Laplace-smoothed count ratio floor-quantized to parts-per-2^30 (staged
    // long arithmetic Spark-side; DuckDB's HUGEINT computes it directly).
    // The model is <= 4096 rows by construction -> broadcast attach, no
    // skew surface at any corpus size.
    ("text_dsir_weights",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        TextOps.dsirWeightsFlagged(docs, col("lang") === "en",
          col("text"), col("doc_id"))
      },
      Some(
        """WITH norm AS (
          |  SELECT doc_id, lang,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id, lang, unnest(t) AS gram FROM norm
          |  UNION ALL
          |  SELECT doc_id, lang, unnest(list_transform(range(0, len(t) - 1),
          |                              i -> array_to_string(t[i + 1:i + 2], ' '))) AS gram
          |  FROM norm WHERE len(t) >= 2),
          |b AS (SELECT doc_id, lang,
          |             ('0x' || substr(md5(gram), 1, 15))::bigint % 4096 AS bucket
          |      FROM grams),
          |cr AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY 1),
          |ct AS (SELECT bucket, count(*) AS c_t FROM b WHERE lang = 'en' GROUP BY 1),
          |model AS (SELECT bucket,
          |                 ((coalesce(c_t, 0) + 1) * 1073741824) // (c_r + 1) AS r_scaled
          |          FROM cr LEFT JOIN ct USING (bucket))
          |SELECT doc_id, count(*)::bigint AS n_grams,
          |       sum(r_scaled)::bigint AS weight_scaled,
          |       cast(sum(r_scaled) AS double) / (count(*) * 1073741824.0) AS mean_weight
          |FROM b JOIN model USING (bucket)
          |GROUP BY 1""".stripMargin)),

    // Context-window chunking: 16-token windows, stride 8 (50% overlap) —
    // the doc → model-context-sized-pieces projection. Zero shuffle; the
    // trailing partial window is kept so every token lands in ≥1 chunk.
    ("text_chunk_windows",
      (s: SparkSession, d: String) =>
        TextOps.chunkWindows(Tables.documents(s, d), col("text"), col("doc_id"),
          windowTokens = 16, strideTokens = 8),
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |t2 AS (
          |  SELECT doc_id, toks, len(toks) AS n,
          |         8 * ceil(greatest(len(toks) - 16, 0) / 8.0)::int AS last_start
          |  FROM toks),
          |st AS (
          |  SELECT doc_id, toks, n, last_start,
          |         unnest(range(0, n::bigint, 8)) AS start
          |  FROM t2)
          |SELECT doc_id, n::int AS n_tokens, (start // 8)::int AS chunk_id,
          |       array_to_string(toks[start + 1:start + 16], ' ') AS chunk_text,
          |       least(16, n - start)::int AS chunk_tokens
          |FROM st WHERE start <= last_start""".stripMargin)),

    // Sequence packing: contiguous-by-id token-budget binning per source
    // shard (prefix-sum window; sharding keeps the cumsum distributed — a
    // single global order would serialize the corpus through one partition).
    ("text_pack_sequences",
      (s: SparkSession, d: String) =>
        TextOps.packSequences(Tables.documents(s, d), col("text"),
          col("doc_id"), col("source"), budgetTokens = 1024),
      Some(
        """WITH t AS (
          |  SELECT source AS shard, doc_id,
          |         len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))::int AS n_tokens
          |  FROM documents),
          |p AS (
          |  SELECT shard, doc_id, n_tokens,
          |         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS prefix
          |  FROM t)
          |SELECT shard, doc_id, n_tokens, prefix, (prefix // 1024)::bigint AS seq_id
          |FROM p""".stripMargin)),

    // The round-7 pipeline capstone: repetition gate × LM-score gate ×
    // boilerplate gate, survivors packed into token-budget training
    // sequences per source shard — the new corpus signals composed into one
    // job (complementing corpus_pipeline's dedup → quality → redact →
    // split). The oracle recomputes every stage.
    ("corpus_pipeline_v2",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val rep = TextOps.repetitionStats(docs, col("text"), col("doc_id"), 2)
          .select(col("doc_id"), col("top_2gram_ratio"), col("dup_2gram_ratio"))
        val lm = TextOps.lmScore(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("lm_score"))
        val boiler = TextOps.boilerplateStats(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("boiler_ratio"))
        val keep = docs.join(rep, "doc_id").join(lm, "doc_id").join(boiler, "doc_id")
          .filter(col("top_2gram_ratio") <= 0.08 && col("dup_2gram_ratio") <= 0.15 &&
            col("lm_score") >= 0.033 && col("boiler_ratio") <= 0.05)
        TextOps.packSequences(keep, col("text"), col("doc_id"), col("source"), 1024)
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, source,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
          |  FROM documents),
          |g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS gram
          |       FROM toks WHERE len(toks) >= 2),
          |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
          |m2 AS (SELECT doc_id, cast(max(c) AS double) / sum(c) AS top2,
          |              cast(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS double) / sum(c) AS dup2
          |       FROM c2 GROUP BY 1),
          |bi AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
          |                             i -> array_to_string(toks[i + 1:i + 2], ' '))) AS bigram
          |       FROM toks WHERE len(toks) >= 2),
          |c12 AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY 1),
          |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
          |model AS (SELECT bigram, (c12 * 1073741824) // c1 AS p_scaled
          |          FROM c12 JOIN c1 ON string_split(bigram, ' ')[1] = w1),
          |lm AS (SELECT doc_id,
          |              cast(sum(p_scaled) AS double) / (count(*) * 1073741824.0) AS lm_score
          |       FROM bi JOIN model USING (bigram) GROUP BY 1),
          |sh0 AS (SELECT DISTINCT doc_id, shingle FROM (
          |  SELECT doc_id,
          |         unnest(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
          |                ELSE list_transform(range(0, len(toks) - 2),
          |                                    i -> array_to_string(toks[i + 1:i + 3], ' ')) END) AS shingle
          |  FROM toks)),
          |dfq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1),
          |bo AS (SELECT doc_id,
          |              cast(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS double) / count(*) AS boiler_ratio
          |       FROM sh0 JOIN dfq USING (shingle) GROUP BY 1),
          |keep AS (
          |  SELECT t.doc_id, t.source AS shard, len(t.toks)::int AS n_tokens
          |  FROM toks t JOIN m2 USING (doc_id) JOIN lm USING (doc_id) JOIN bo USING (doc_id)
          |  WHERE m2.top2 <= 0.08 AND m2.dup2 <= 0.15
          |    AND lm.lm_score >= 0.033 AND bo.boiler_ratio <= 0.05),
          |p AS (
          |  SELECT shard, doc_id, n_tokens,
          |         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS prefix
          |  FROM keep)
          |SELECT shard, doc_id, n_tokens, prefix, (prefix // 1024)::bigint AS seq_id
          |FROM p""".stripMargin)),

    // The round-9 pipeline capstone: ensemble near-dup verdict (Jaccard OR
    // SimHash-hamming) × substring-run-cut retention gate × DSIR
    // target-likeness gate × Gopher quality battery × PII redaction ×
    // hash-split — the r8/r9 signals composed into one corpus job. Signals
    // (cut intervals, DSIR model) are computed CORPUS-WIDE (they are corpus
    // facts); gates and packing apply to dedup survivors. The oracle
    // recomputes every stage in CTEs.
    ("corpus_pipeline_v3",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val ver = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
        val f = Dedup.simhash(docs, col("text"), col("doc_id"))
        val drops = ver
          .join(f.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), "doc_a")
          .join(f.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), "doc_b")
          .filter(col("jaccard") >= 0.8 ||
            bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 6)
          .select(col("doc_b").as("doc_id"))
        val undup = docs.join(drops, Seq("doc_id"), "left_anti")
        val cut = TextOps.cutRuns(docs, col("text"), col("doc_id"))
          .select(col("doc_id"), col("n_tokens_after"))
        // localCheckpoint materializes the doc-level DSIR frame ONCE (it is
        // #docs rows, not #grams): the eager global-mean scalar below and
        // the per-doc join both read the materialization instead of each
        // re-running the explode + model chain.
        val dsirAll = TextOps.dsirWeightsFlagged(docs,
          col("lang") === "en", col("text"), col("doc_id"))
          .localCheckpoint()
        // Scale-invariant DSIR gate: keep docs more target-like than the
        // corpus overall. The global mean ratio is a construction-time
        // eager scalar (the bm25-constants pattern) derived from the same
        // exact longs as mean_weight, so the comparison is bit-identical
        // in every engine.
        val tot = dsirAll.agg(sum(col("weight_scaled")).as("ws"),
          sum(col("n_grams")).as("ng")).head()
        // empty corpus: both sums are NULL — the gate compares no rows, any
        // threshold works; 0.0 avoids the ROW_VALUE_IS_NULL construction crash
        val globalMean = if (tot.isNullAt(0)) 0.0
          else tot.getLong(0).toDouble / (tot.getLong(1).toDouble * 1073741824.0)
        val dsir = dsirAll.select(col("doc_id"), col("mean_weight"))
        val qual = TextOps.qualityFilter(undup, col("text"))
          .filter(col("quality_keep") === 1)
        val kept = qual.join(cut, "doc_id").join(dsir, "doc_id")
          .filter(col("n_tokens_after") >= 10 &&
            col("mean_weight") >= lit(globalMean))
        Sampling.hashSplit(
            kept.withColumn("clean_len", length(TextOps.redactPii(col("text")))),
            col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("split"), col("n_tokens"),
            col("n_tokens_after"), col("mean_weight"), col("clean_len"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, enstok AS (
          |  SELECT DISTINCT doc_id, t AS token
          |  FROM (SELECT doc_id,
          |               unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
          |        FROM documents)),
          |ensh AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::bigint AS h FROM enstok),
          |ensbits AS (
          |  SELECT doc_id, b,
          |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
          |  FROM ensh CROSS JOIN (SELECT unnest(range(0, 60)) AS b) GROUP BY 1, 2),
          |enshash AS (
          |  SELECT doc_id,
          |         cast(sum(CASE WHEN votes > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
          |  FROM ensbits GROUP BY 1),
          |drops AS (
          |  SELECT v.doc_b AS doc_id
          |  FROM verified v
          |  JOIN enshash ea ON ea.doc_id = v.doc_a
          |  JOIN enshash eb ON eb.doc_id = v.doc_b
          |  WHERE v.jaccard >= 0.8 OR bit_count(xor(ea.simhash, eb.simhash)) <= 6),
          |kept AS (
          |  SELECT d.doc_id, d.text FROM documents d
          |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)),
          |ctoks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
          |  FROM documents),
          |cg0 AS (
          |  SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 5], ' ') AS gram
          |  FROM ctoks CROSS JOIN LATERAL (SELECT unnest(range(0, len(t) - 4)) AS pos)
          |  WHERE len(t) >= 5),
          |ccapped AS (
          |  SELECT doc_id, pos, gram FROM (
          |    SELECT *, row_number() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
          |    FROM cg0) WHERE occ <= 8),
          |clight AS (SELECT gram FROM ccapped GROUP BY gram
          |           HAVING count(DISTINCT doc_id) <= 64),
          |cg AS (SELECT c.* FROM ccapped c JOIN clight USING (gram)),
          |cpairs AS (
          |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2,
          |         a.pos - b.pos AS diag
          |  FROM cg a JOIN cg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
          |cisl AS (
          |  SELECT d1, d2, diag, isl, count(*) + 4 AS run_tokens,
          |         min(p2) AS s, max(p2) + 4 AS e
          |  FROM (SELECT d1, d2, p1, p2, diag,
          |               p1 - row_number() OVER (PARTITION BY d1, d2, diag
          |                                       ORDER BY p1) AS isl
          |        FROM cpairs)
          |  GROUP BY d1, d2, diag, isl),
          |ccuts AS (SELECT d2 AS doc_id, s, e FROM cisl WHERE run_tokens >= 8),
          |csw AS (SELECT doc_id, s, e,
          |               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
          |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
          |        FROM ccuts),
          |cgrps AS (SELECT doc_id, s, e,
          |                 sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
          |                   OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
          |          FROM csw),
          |cmiv AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM cgrps GROUP BY 1, 2),
          |civl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS iv FROM cmiv GROUP BY 1),
          |cstats AS (
          |  SELECT t.doc_id,
          |         (CASE WHEN i.iv IS NULL THEN len(t.t)
          |               ELSE len(list_filter(range(0, len(t.t)),
          |                      ix -> len(list_filter(i.iv, v -> ix >= v['s'] AND ix <= v['e'])) = 0))
          |          END)::int AS n_tokens_after
          |  FROM ctoks t LEFT JOIN civl i USING (doc_id)),
          |dnorm AS (
          |  SELECT doc_id, lang,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
          |  FROM documents),
          |dgrams AS (
          |  SELECT doc_id, lang, unnest(t) AS gram FROM dnorm
          |  UNION ALL
          |  SELECT doc_id, lang, unnest(list_transform(range(0, len(t) - 1),
          |                              i -> array_to_string(t[i + 1:i + 2], ' '))) AS gram
          |  FROM dnorm WHERE len(t) >= 2),
          |db AS (SELECT doc_id, lang,
          |              ('0x' || substr(md5(gram), 1, 15))::bigint % 4096 AS bucket
          |       FROM dgrams),
          |dcr AS (SELECT bucket, count(*) AS c_r FROM db GROUP BY 1),
          |dct AS (SELECT bucket, count(*) AS c_t FROM db WHERE lang = 'en' GROUP BY 1),
          |dmodel AS (SELECT bucket,
          |                  ((coalesce(c_t, 0) + 1) * 1073741824) // (c_r + 1) AS r_scaled
          |           FROM dcr LEFT JOIN dct USING (bucket)),
          |dweights AS (
          |  SELECT doc_id, count(*)::bigint AS n_grams, sum(r_scaled)::bigint AS weight_scaled,
          |         cast(sum(r_scaled) AS double) / (count(*) * 1073741824.0) AS mean_weight
          |  FROM db JOIN dmodel USING (bucket)
          |  GROUP BY 1),
          |dglob AS (
          |  SELECT cast(sum(weight_scaled) AS double)
          |           / (cast(sum(n_grams) AS double) * 1073741824.0) AS gmean
          |  FROM dweights)
          |""".stripMargin +
        qualityMetricsCtes("kept").replaceFirst("^WITH ", ", ") +
        s""", qkeep AS (
          |  SELECT m.doc_id, m.n_tokens, k.text
          |  FROM qmetrics m JOIN kept k ON k.doc_id = m.doc_id
          |  WHERE m.n_tokens BETWEEN 20 AND 80 AND m.avg_token_len BETWEEN 3.0 AND 8.0
          |    AND m.symbol_ratio <= 0.1 AND m.digit_token_ratio <= 0.2
          |    AND m.n_stopwords >= 1)
          |SELECT doc_id,
          |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          |       n_tokens, n_tokens_after, mean_weight,
          |       length(regexp_replace(
          |                regexp_replace(text, '${TextOps.emailPattern}', '<EMAIL>', 'g'),
          |                '${TextOps.longNumberPattern}', '<NUM>', 'g'))::int AS clean_len
          |FROM (SELECT q.doc_id, q.n_tokens, c.n_tokens_after, w.mean_weight, q.text,
          |             ('0x' || substr(md5(q.doc_id::varchar), 1, 15))::bigint % 100 AS b
          |      FROM qkeep q
          |      JOIN cstats c ON c.doc_id = q.doc_id
          |      JOIN dweights w ON w.doc_id = q.doc_id
          |      CROSS JOIN dglob g
          |      WHERE c.n_tokens_after >= 10 AND w.mean_weight >= g.gmean)""".stripMargin)),

    // Pipeline v5 — the text gates composed with the embedding-side
    // diversity stage: quality ∧ classifier gate picks the survivors, the
    // mutual-kNN clustering runs over the SURVIVOR embedding set only
    // (buckets are per-vector, so filtering first is semantics-preserving
    // AND the scale win — the graph pair space shrinks with the gate), and
    // each cluster elects its densest member as the representative. Output:
    // the survivor representatives with cluster id, fixed-point density,
    // and token count — the frame a curation run would hand to a budget or
    // export stage. Oracle: the full gate chain, then the graph/component/
    // density CTEs re-instantiated over the kept subset.
    ("corpus_pipeline_v5",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val q = TextOps.qualityFilter(docs, col("text"))
          .select(col("doc_id"), col("quality_keep"), col("n_tokens"))
        // recall-leaning threshold (−60, ~top half of margins): v5's
        // classifier stage is a coarse prefilter ahead of the diversity
        // stage, not the strict gate the eval rows measure at 0
        val c = TextOps.classifierScore(docs, col("text"), col("doc_id"),
          weights = clfWeights, bias = -40L, threshold = -60L)
          .select(col("doc_id"), col("clf_keep"))
        val kept = q.join(c, "doc_id")
          .filter(col("quality_keep") === 1 && col("clf_keep") === 1)
          .select(col("doc_id").as("vec_id"), col("n_tokens"))
        val embKept = Tables.embeddings(s, d).join(kept, Seq("vec_id"))
        // k = 3: mutual-kNN degree drives cluster granularity — at k = 5
        // this corpus chains into a handful of mega-clusters; 3 keeps the
        // sample a sample
        Similarity.diverseSample(embKept, "vec_id", "embedding", k = 3,
            nBands = 4, rowsPerBand = 2, dim = 64)
          .filter(col("rep_keep") === 1)
          .join(kept, Seq("vec_id"))
          .select(col("vec_id"), col("cluster_id"), col("density_q"),
            col("n_tokens"))
      },
      Some(clfLabelCtes +
        """, kept AS (
          |  SELECT m.doc_id, m.n_tokens
          |  FROM qmetrics m JOIN cm USING (doc_id)
          |  WHERE m.n_tokens BETWEEN 20 AND 80 AND m.avg_token_len BETWEEN 3.0 AND 8.0
          |    AND m.symbol_ratio <= 0.1 AND m.digit_token_ratio <= 0.2
          |    AND m.n_stopwords >= 1 AND cm.margin >= -60),
          |emb_kept AS (
          |  SELECT e.vec_id, e.embedding FROM embeddings e
          |  JOIN kept k ON e.vec_id = k.doc_id),
          |""".stripMargin +
        knnGraphCteOver("emb_kept", k = 3).stripPrefix("WITH ") +
        """, mm AS (
          |  SELECT a.src_id AS doc_a, a.dst_id AS doc_b
          |  FROM g a JOIN g b ON b.src_id = a.dst_id AND b.dst_id = a.src_id
          |  WHERE a.src_id < a.dst_id),
          |comp AS (
          |  SELECT id AS vec_id, min(lbl) AS cluster_id
          |  FROM (
          |    WITH RECURSIVE r(id, lbl) AS (
          |      SELECT vec_id, vec_id FROM emb_kept
          |      UNION
          |      SELECT e.s, r.lbl
          |      FROM (SELECT doc_a AS s, doc_b AS t FROM mm
          |            UNION ALL
          |            SELECT doc_b AS s, doc_a AS t FROM mm) e
          |      JOIN r ON r.id = e.t)
          |    SELECT id, lbl FROM r)
          |  GROUP BY 1),
          |dens AS (
          |  SELECT src_id, sum(floor(cosine * 1073741824)::bigint)::bigint AS density_q
          |  FROM g GROUP BY 1),
          |j AS (
          |  SELECT c.vec_id, c.cluster_id, coalesce(d.density_q, 0) AS density_q
          |  FROM comp c LEFT JOIN dens d ON d.src_id = c.vec_id),
          |reps AS (
          |  SELECT vec_id, cluster_id, density_q
          |  FROM (SELECT vec_id, cluster_id, density_q,
          |               row_number() OVER (PARTITION BY cluster_id
          |                 ORDER BY density_q DESC, vec_id) AS rn
          |        FROM j)
          |  WHERE rn = 1)
          |SELECT r.vec_id, r.cluster_id, r.density_q, k.n_tokens
          |FROM reps r JOIN kept k ON k.doc_id = r.vec_id""".stripMargin)),

    // Pipeline v4 — the ROUND-10 operator families composed end-to-end:
    // boilerplate-planted corpus → chunk-level exact dedup (kept TEXT
    // reassembled, not just hashed) → train/test hash split → train-side
    // decontamination against the test split's shingles (drop ratio ≥ 0.5)
    // → per-source greedy token budget over the SURVIVING kept tokens. The
    // oracle recomputes every stage in CTEs: tile → election → reassembly →
    // split → shingle overlap → hash-ordered running-sum admission.
    ("corpus_pipeline_v4",
      (s: SparkSession, d: String) => {
        val boiler = "terms of service apply all rights reserved contact us " +
          "for more information today please read carefully"
        val base = Tables.documents(s, d)
        val withBoiler = base.withColumn("text2",
          when(col("doc_id") % 4 === 0, concat(lit(boiler + " "), col("text")))
            .otherwise(col("text")))
        val kept = Dedup.paragraphDedupText(withBoiler, col("text2"),
            col("doc_id"), chunkTokens = 8)
          .join(base.select(col("doc_id"), col("source")), "doc_id")
        val split = Sampling.hashSplit(kept, col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        val train = split.filter(col("split") === "train")
        val test = split.filter(col("split") === "test")
        // contamination()'s param names are benchmark-oriented: the frame
        // whose PER-DOC overlap is measured is `test`. Here that frame is
        // the TRAIN split (we drop leaking train docs), measured against
        // the test split's shingle set.
        val decon = TextOps.contamination(train, test, col("kept_text"),
            col("doc_id"), n = 3, threshold = 0.5)
          .select(col("doc_id"), col("overlap_ratio"), col("contaminated"))
        val survivors = train.join(decon, "doc_id")
          .filter(col("contaminated") === 0)
        Sampling.tokenBudgetPerGroup(survivors, Seq(col("source")),
            col("doc_id"), col("kept_tokens"), budget = 600L)
          .select(col("doc_id"), col("source"), col("kept_tokens"),
            col("overlap_ratio"), col("cum_tokens"))
      },
      Some(
        """WITH d2 AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 4 = 0
          |           THEN concat('terms of service apply all rights reserved ',
          |                       'contact us for more information today ',
          |                       'please read carefully ', text)
          |           ELSE text END AS text
          |  FROM documents),
          |toks AS (
          |  SELECT doc_id,
          |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
          |                      ' ') AS t
          |  FROM d2),
          |ch AS (
          |  SELECT doc_id, i::int AS chunk_id,
          |         array_to_string(t[(i * 8 + 1)::int:(i * 8 + 8)::int], ' ') AS chunk_text,
          |         least(8, len(t) - i * 8)::int AS chunk_tokens
          |  FROM toks CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
          |  WHERE i = 0 OR i * 8 < len(t)),
          |k AS (
          |  SELECT *, row_number() OVER (PARTITION BY chunk_text
          |                               ORDER BY doc_id, chunk_id) AS rn
          |  FROM ch),
          |keptx AS (
          |  SELECT doc_id,
          |         coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
          |                             ' ' ORDER BY chunk_id), '') AS kept_text,
          |         sum(CASE WHEN rn = 1 THEN chunk_tokens ELSE 0 END)::bigint AS kept_tokens
          |  FROM k GROUP BY doc_id),
          |kd AS (
          |  SELECT x.doc_id, x.kept_text, x.kept_tokens, d.source,
          |         ('0x' || substr(md5(x.doc_id::varchar), 1, 15))::bigint % 100 AS b
          |  FROM keptx x JOIN documents d ON d.doc_id = x.doc_id),
          |ksh AS (
          |  SELECT doc_id, b, shingle FROM (
          |    SELECT doc_id, b,
          |           unnest(CASE WHEN len(kt) <= 3 THEN [array_to_string(kt, ' ')]
          |                  ELSE list_transform(range(0, len(kt) - 2),
          |                                      i -> array_to_string(kt[i + 1:i + 3], ' ')) END) AS shingle
          |    FROM (SELECT doc_id, b,
          |                 string_split(regexp_replace(trim(lower(kept_text)), '\s+', ' ', 'g'),
          |                              ' ') AS kt
          |          FROM kd))),
          |trsh AS (SELECT DISTINCT doc_id, shingle FROM ksh WHERE b < 80),
          |tesh AS (SELECT DISTINCT shingle FROM ksh WHERE b >= 90),
          |ov AS (
          |  SELECT t.doc_id, count(*)::bigint AS n_sh,
          |         sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)::bigint AS n_ov
          |  FROM trsh t LEFT JOIN tesh e ON t.shingle = e.shingle
          |  GROUP BY 1),
          |surv AS (
          |  SELECT kd.doc_id, kd.source, kd.kept_tokens,
          |         cast(ov.n_ov AS double) / ov.n_sh AS overlap_ratio
          |  FROM kd JOIN ov ON ov.doc_id = kd.doc_id
          |  WHERE kd.b < 80 AND cast(ov.n_ov AS double) / ov.n_sh < 0.5),
          |adm AS (
          |  SELECT doc_id, source, kept_tokens, overlap_ratio,
          |         sum(kept_tokens) OVER (PARTITION BY source
          |           ORDER BY ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint, doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_tokens
          |  FROM surv)
          |SELECT doc_id, source, kept_tokens, overlap_ratio, cum_tokens
          |FROM adm WHERE cum_tokens <= 600""".stripMargin)),

    // Gopher-style quality battery: every rule's metric + verdict per doc.
    ("text_quality_filter",
      (s: SparkSession, d: String) =>
        TextOps.qualityFilter(Tables.documents(s, d), col("text"))
          .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
            col("symbol_ratio"), col("digit_token_ratio"), col("n_stopwords"),
            col("ok_token_count"), col("ok_token_len"), col("ok_symbol_ratio"),
            col("ok_digit_ratio"), col("ok_stopword"), col("quality_keep")),
      Some(qualityMetricsCtes("documents") +
        """SELECT doc_id, n_tokens, avg_token_len, symbol_ratio, digit_token_ratio,
          |       n_stopwords,
          |       (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1 ELSE 0 END)::int AS ok_token_count,
          |       (CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0 THEN 1 ELSE 0 END)::int AS ok_token_len,
          |       (CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END)::int AS ok_symbol_ratio,
          |       (CASE WHEN digit_token_ratio <= 0.2 THEN 1 ELSE 0 END)::int AS ok_digit_ratio,
          |       (CASE WHEN n_stopwords >= 1 THEN 1 ELSE 0 END)::int AS ok_stopword,
          |       (CASE WHEN n_tokens BETWEEN 20 AND 80 AND avg_token_len BETWEEN 3.0 AND 8.0
          |             AND symbol_ratio <= 0.1 AND digit_token_ratio <= 0.2
          |             AND n_stopwords >= 1 THEN 1 ELSE 0 END)::int AS quality_keep
          |FROM qmetrics""".stripMargin)),

    // ---- The flagship training-data pipeline, end to end ------------------
    // near-dedup (LSH candidates → verified Jaccard → drop) → quality filter
    // → PII redaction → train/val/test hash-split. This is the composed job a
    // corpus builder actually runs; the oracle recomputes the whole chain.
    ("corpus_pipeline",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.lshCandidates(Dedup.lshBuckets(
          Dedup.minhashSignatures(docs, col("text"), col("doc_id"))))
        val drops = Dedup.ngramJaccard(cands, docs, col("text"), col("doc_id"))
          .filter(col("jaccard") >= 0.8)
          .select(col("doc_b").as("doc_id"))
        val kept = docs.join(drops, Seq("doc_id"), "left_anti")
        val quality = TextOps.qualityFilter(kept, col("text"))
          .filter(col("quality_keep") === 1)
        Sampling.hashSplit(
            quality.withColumn("clean_len", length(TextOps.redactPii(col("text")))),
            col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
          .select(col("doc_id"), col("split"), col("n_tokens"), col("clean_len"))
      },
      Some(lshCandCtes + nearDupVerifyCtes +
        """, kept AS (
          |  SELECT d.doc_id, d.text FROM documents d
          |  WHERE NOT EXISTS (SELECT 1 FROM verified v
          |                    WHERE v.doc_b = d.doc_id AND v.jaccard >= 0.8))
          |""".stripMargin +
        qualityMetricsCtes("kept").replaceFirst("^WITH ", ", ") +
        s""", qkeep AS (
          |  SELECT m.doc_id, m.n_tokens, k.text
          |  FROM qmetrics m JOIN kept k ON k.doc_id = m.doc_id
          |  WHERE m.n_tokens BETWEEN 20 AND 80 AND m.avg_token_len BETWEEN 3.0 AND 8.0
          |    AND m.symbol_ratio <= 0.1 AND m.digit_token_ratio <= 0.2
          |    AND m.n_stopwords >= 1)
          |SELECT doc_id,
          |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          |       n_tokens,
          |       length(regexp_replace(
          |                regexp_replace(text, '${TextOps.emailPattern}', '<EMAIL>', 'g'),
          |                '${TextOps.longNumberPattern}', '<NUM>', 'g'))::int AS clean_len
          |FROM (SELECT doc_id, n_tokens, text,
          |             ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100 AS b
          |      FROM qkeep)""".stripMargin)),

    // ---- ANN: brute-force cosine top-5 for the first 10 vectors -----------
  )
}
