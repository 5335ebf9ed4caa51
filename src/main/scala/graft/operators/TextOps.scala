package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * normalization, tokenization, shingling, portable hashing, fingerprinting,
 * quality scoring, language identification.
 *
 * Everything here is pure Catalyst column expressions (whole-stage-codegen
 * friendly, no UDFs), and everything is *cross-engine deterministic*: where a
 * hash is needed we derive it from md5 (identical in every engine) rather than
 * an engine-private hash, so results are oracle-verifiable. A faster
 * xxhash64-based variant of the hash exists for throughput-critical paths
 * where cross-engine reproducibility is not required.
 */
object TextOps {

  /** Canonical normalization: lowercase, trim, collapse whitespace runs. */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Whitespace tokens of a *normalized* text. */
  def tokens(text: Column): Column = split(text, " ")

  /**
   * Portable 60-bit hash: first 15 hex digits of md5, parsed base-16.
   * Identical in Spark (`conv`) and DuckDB (`('0x'||…)::bigint`) — the
   * foundation for oracle-verifiable MinHash / SimHash.
   */
  def portableHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Salted portable hash — one independent hash family member per salt. */
  def portableHash(s: Column, salt: Column): Column =
    portableHash(concat(salt.cast("string"), lit(":"), s))

  /** Fast engine-local 64-bit hash (xxhash64) for non-oracle hot paths. */
  def fastHash(s: Column, seed: Int = 42): Column = xxhash64(lit(seed), s)

  /** Content fingerprint: md5 of the normalized text (rolling-hash analogue;
    * exact-dup detection robust to case/whitespace). */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))

  /**
   * Binds the token array of `text` to a LAMBDA VARIABLE before handing it to
   * `body` — the single-expression analogue of staging the array in its own
   * projection. Load-bearing: a higher-order-function lambda re-evaluates any
   * referenced expression TREE once per element, so building n-grams with
   * `slice(tokens(text), …)` inside the per-index lambda re-runs the whole
   * regexp+split per output gram — O(tokens²) per doc, measured ~7× on the
   * sf0.1 corpus (BASELINE r8 notes). A lambda variable, like a bound
   * attribute, is evaluated once per row and is O(1) to reference; wrapping
   * in a 1-element array + `transform` + `element_at` is the only way to
   * introduce such a binding inside one Column expression, keeping
   * [[shingles]]/[[ngrams]] safe to inline anywhere (projections, streaming
   * selects, other lambdas) with no call-site staging discipline.
   */
  private def withToks(text: Column)(body: Column => Column): Column =
    element_at(transform(array(tokens(text)), body), 1)

  /** Marker stopword set shared by [[textStats]] and [[qualityFilter]] —
    * one source of truth so their stopword ratios cannot drift apart. */
  private val markerStopwords = Seq("the", "a", "of", "and", "is")

  /**
   * Distinct word n-gram shingles of a normalized text, as an array column.
   * sequence is empty-safe: docs shorter than n yield a single shingle of the
   * whole text, so no document silently disappears from dedup.
   */
  def shingles(text: Column, n: Int): Column = withToks(text) { t =>
    // coalesce pins the null-text case: under ANSI size(null) is null, so
    // every branch of the expression is null for a null doc and the doc
    // would vanish from explode consumers (LSH buckets, pair verdicts) —
    // the documented contract is that it shingles to [""], like an empty doc
    coalesce(
      array_distinct(
        when(size(t) <= n, array(concat_ws(" ", t)))
          .otherwise(transform(
            sequence(lit(0), size(t) - n),
            i => concat_ws(" ", slice(t, i + 1, lit(n)))))),
      array(lit("")))
  }

  /**
   * Non-distinct word n-grams of a normalized text — the repetition-sensitive
   * sibling of [[shingles]] (which dedups for set-similarity). Docs shorter
   * than n yield an empty array rather than a whole-text gram: a 2-token doc
   * has no 3-gram repetition signal, and pretending it does would skew the
   * repetition ratios the callers compute.
   */
  def ngrams(text: Column, n: Int): Column = withToks(text) { t =>
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
  }

  /**
   * Within-document repetition metrics (the Gopher/MassiveText repetition
   * battery at word-n-gram granularity): per doc, the fraction of n-gram
   * occurrences claimed by the single most frequent n-gram
   * (`top_Ngram_ratio`) and the fraction belonging to any n-gram that occurs
   * more than once (`dup_Ngram_ratio`). High values flag degenerate,
   * loop-generated, or boilerplate-stuffed text that survives per-token
   * quality checks.
   *
   * Scale shape: explode n-grams → count per (doc, gram) → per-doc max/sum —
   * two map-side-combined shuffles, state bounded by distinct grams per doc.
   * Deliberately NOT the O(tokens²) array-local formulation
   * (`transform(grams, g -> size(filter(grams, = g)))`): that would be
   * shuffle-free but quadratic per document, which dies on the long docs
   * that need this filter most. Docs with fewer than n tokens are dropped
   * (no grams → no repetition signal).
   */
  def repetitionStats(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int): DataFrame = {
    val cnt = docs
      .select(idCol.as("doc_id"), explode(ngrams(normalize(textCol), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
      .select(col("doc_id"),
        col("n_grams").as(s"n_${n}grams"),
        (col("top_c").cast("double") / col("n_grams")).as(s"top_${n}gram_ratio"),
        (col("dup_c").cast("double") / col("n_grams")).as(s"dup_${n}gram_ratio"))
  }

  /**
   * Skew-safe lookup attach: joins `rows` to a keyed `lookup` table whose
   * `cntCol` records how many `rows` carry each key, splitting the lookup at
   * `heavyCut` occurrences. Heavy keys (≥ heavyCut) are attached via a
   * broadcast hash join — their rows never shuffle, so a key held by 10% of
   * the corpus costs nothing beyond the map-side probe. Light keys are
   * attached via an ordinary shuffle equi-join in which, by construction,
   * no key has ≥ heavyCut rows — bounding every join partition's per-key
   * work. The heavy table is broadcastable by pigeonhole: at most
   * rows/heavyCut keys can reach the cut.
   *
   * Every key in `rows` must exist in `lookup` (lookup is derived from the
   * same frame) and keys must be non-null (joins drop null keys; the
   * explode-producing callers never emit them).
   */
  private def attachSkewSplit(rows: DataFrame, lookup: DataFrame, key: String,
      cntCol: String, heavyCut: Long): DataFrame = {
    val payload = lookup.columns.filterNot(_ == key)
    // hot and cold are two filters over `marked` feeding a union, so the
    // gram explode under `rows` runs once per branch. Deliberately NOT
    // localCheckpoint'd: materializing the exploded frame (every gram row
    // + payload) measured SLOWER than the second explode (+35% on the
    // sf0.1 text gates) — a projection explode streams, a checkpoint
    // writes the whole fan-out. The double compute is the cheaper branch
    // of the trade at every scale where grams >> docs.
    val marked = rows.join(
      broadcast(lookup.filter(col(cntCol) >= heavyCut)), Seq(key), "left_outer")
    val hot = marked.filter(col(cntCol).isNotNull)
    val cold = marked.filter(col(cntCol).isNull)
      .drop(payload.toIndexedSeq: _*)
      .join(lookup.filter(col(cntCol) < heavyCut), Seq(key))
    hot.unionByName(cold)
  }

  /**
   * The batch-trained boilerplate model: corpus document frequency per
   * distinct n-gram shingle (shingles are distinct per doc, so occurrence
   * count IS the doc count). Map-side-combined single aggregation —
   * skew-tolerant by partial aggregation. This is the static artifact a
   * STREAMING corpus gate joins against (stream-static join): train on a
   * reference corpus in batch, attach df to arriving docs' shingles.
   */
  def boilerplateModel(docs: DataFrame, textCol: Column, n: Int = 3): DataFrame =
    docs.select(explode(shingles(normalize(textCol), n)).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))

  /**
   * Corpus-level boilerplate detection: per document, the fraction of its
   * distinct n-gram shingles that are "boilerplate" — shared by at least
   * `minDf` documents corpus-wide. The cross-document complement of
   * [[repetitionStats]]: headers, navigation chrome, and license blocks that
   * repeat across a crawl rather than within one page.
   *
   * Scale shape, two forms selected by `skewSafe`:
   *  - `skewSafe = true` (DEFAULT — the at-scale form): two-level count — a
   *    map-side-combined `groupBy(shingle).count()` (partial aggregation
   *    absorbs hot keys before the exchange) — then [[attachSkewSplit]] to
   *    attach df. Boilerplate detection exists precisely because some
   *    shingles appear in a large fraction of the corpus; the window form
   *    would send every row of such a shingle to one task, while here those
   *    rows take the broadcast path and never shuffle. Safe-by-default: a
   *    caller at 100 TB gets bounded per-task fan-in without opting in.
   *  - `skewSafe = false` (small-corpus opt-in): document frequency is a
   *    whole-partition window count over the exploded shingles (shingles are
   *    distinct per doc, so rows-per-shingle IS the doc count) — one
   *    exchange, no second scan of the explode. A hyper-common shingle makes
   *    one hot window partition, so this form is ONLY for frames where the
   *    hottest shingle's row count provably fits one task (measured ~2×
   *    faster on a uniform sf0.1 corpus; loses at hot-30% skew — see
   *    BASELINE.md, "Hot-key skew stress (r8, re-run r9 …)").
   */
  def boilerplateStats(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 3, minDf: Int = 5, skewSafe: Boolean = true,
      heavyCut: Long = 1L << 24): DataFrame = {
    val ex = docs.select(idCol.as("doc_id"),
      explode(shingles(normalize(textCol), n)).as("shingle"))
    val attached =
      if (!skewSafe) {
        import org.apache.spark.sql.expressions.Window
        ex.withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      } else {
        attachSkewSplit(ex, boilerplateModel(docs, textCol, n),
          "shingle", "df", heavyCut)
      }
    attached.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles"))
  }

  /**
   * Train/test contamination check: for every document in `test`, the
   * fraction of its distinct n-gram shingles that appear anywhere in
   * `train`. The benchmark-decontamination primitive — a test doc whose
   * shingles are (almost) all covered by the training corpus is leaked, not
   * held out. A base rate of partial overlap is normal (common phrases);
   * the `contaminated` flag fires only at `threshold` coverage.
   *
   * Scale shape: train collapses to a distinct shingle set (one shuffle,
   * map-side combined); the join back to test shingles is an equi-join on
   * shingle with the at-most-one-match side deduplicated, so test-row
   * multiplicity is preserved without inflation; final per-doc aggregation
   * shuffles on doc_id. Nothing is ever broadcast or collected — both sides
   * stay distributed at corpus scale.
   */
  def contamination(test: DataFrame, train: DataFrame, textCol: Column,
      idCol: Column, n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val testSh = test.select(idCol.as("doc_id"),
      explode(shingles(normalize(textCol), n)).as("shingle"))
    val trainSh = train
      .select(explode(shingles(normalize(textCol), n)).as("shingle"))
    contaminationScore(testSh, trainSh, threshold)
  }

  /**
   * [[contamination]] with the training side pre-filtered through a bloom
   * sketch of the TEST shingle set — the at-scale form of benchmark
   * decontamination. The asymmetry this exploits: the held-out benchmark is
   * tiny (thousands of docs) while the training corpus is the 100 TB side,
   * and [[contamination]] pays a full distinct + equi-join over EVERY
   * distinct training shingle even though almost none can match. Here the
   * test shingles aggregate into one bloom sketch
   * ([[graft.functions.GraftFunctions.bloom_agg]] — Spark's own runtime
   * join-filter aggregate, exposed as a column function), attached to the
   * training scan as a SCALAR SUBQUERY, and training shingles that cannot
   * be in the test set (the overwhelming majority) die map-side BEFORE the
   * distinct's exchange — the same plan shape Spark's AQE runtime bloom
   * filter injects for selective joins, applied where the optimizer cannot
   * see it (the "join" here is buried under an explode + distinct).
   *
   * EXACT, not approximate: blooms have no false negatives, so every true
   * match survives the pre-filter, and false positives are eliminated by
   * the exact equi-join that follows — the output is row-for-row identical
   * to [[contamination]] (spec-pinned, and the catalog row shares
   * [[contamination]]'s DuckDB oracle verbatim). `expectedItems` sizes the
   * sketch (~1 byte/item at the default 3 % FPP); undersizing degrades the
   * prune rate, never correctness.
   */
  def contaminationBloom(test: DataFrame, train: DataFrame, textCol: Column,
      idCol: Column, n: Int = 3, threshold: Double = 0.9,
      expectedItems: Long = 1L << 20): DataFrame = {
    import graft.functions.GraftFunctions
    val testSh = test.select(idCol.as("doc_id"),
      explode(shingles(normalize(textCol), n)).as("shingle"))
    val sketch = testSh.select(col("shingle")).distinct()
      .agg(GraftFunctions.bloom_agg(xxhash64(col("shingle")), expectedItems).as("bf"))
      .scalar()
    val trainSh = train
      .select(explode(shingles(normalize(textCol), n)).as("shingle"))
      .filter(GraftFunctions.bloom_might_contain(sketch, xxhash64(col("shingle"))))
    contaminationScore(testSh, trainSh, threshold)
  }

  /** Shared tail of the contamination family: distinct the training
    * shingles, left-join the per-doc test shingles against them, score
    * coverage. Kept as ONE implementation so the bloom-prefiltered form is
    * identical-by-construction to the exact form after its prefilter. */
  private def contaminationScore(testSh: DataFrame, trainShRaw: DataFrame,
      threshold: Double): DataFrame = {
    val trainSh = trainShRaw.distinct().withColumn("hit", lit(1L))
    testSh.join(trainSh, Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_shingles"))
      .withColumn("contaminated", (col("overlap_ratio") >= threshold).cast("int"))
  }

  /**
   * The batch-trained bigram model: one row per DISTINCT bigram with its
   * occurrence count and quantized conditional probability — the static
   * artifact a STREAMING LM gate joins against, and the lookup table of
   * [[lmScore]]'s skew-safe form. Both counts are two-level aggregations
   * over the explode (map-side combined; the c1 roll-up runs over distinct
   * bigrams, not occurrences).
   */
  def lmModel(docs: DataFrame, textCol: Column): DataFrame = {
    val cb = docs.select(explode(ngrams(normalize(textCol), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val cw = cb.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    cb.join(cw, "w1")
      .withColumn("p_scaled", stagedPScaled)
      .select(col("bigram"), col("c12"), col("p_scaled"))
  }

  /** floor(c12 * 2^30 / c1) staged through two 2^15 factors — an exact
    * identity whose intermediates stay below 2^63 up to 2^48 occurrences
    * (see [[lmScore]]). Expects `c12`/`c1` columns in scope. */
  private def stagedPScaled: Column = {
    val s15 = 1L << 15
    expr(s"((c12 * ${s15}L) div c1) * ${s15}L + (((c12 * ${s15}L) % c1) * ${s15}L) div c1")
  }

  /**
   * Bigram language-model scoring: train a corpus bigram model and score
   * each document by the mean conditional probability of its bigrams — the
   * log-free stand-in for LM-perplexity filtering (CCNet-style): fluent,
   * corpus-typical text scores high; token salad scores low.
   *
   * Determinism: P(w2|w1) = c(w1 w2)/c(w1 ·) is quantized to integer
   * parts-per-2^30 — floor(c12 · 2^30 / c1), exact long arithmetic — so the
   * per-doc sum is an exact long in any aggregation order; only the final
   * mean is a double, derived identically in every engine. The textbook
   * mean-log-prob needs `ln`, which is not correctly-rounded-identical
   * across engines — same trade as [[bm25]]'s raw-ratio IDF, and
   * monotonicity of the ranking is what filtering actually uses. The
   * quantization is staged through two 2^15 factors
   * (`q·2^15 + (r·2^15) div c1` with `q = (c12·2^15) div c1`,
   * `r = (c12·2^15) % c1` — an exact identity for floor(c12·2^30/c1)), so
   * the intermediate products stay below 2^63 for any count up to 2^48
   * occurrences — beyond a 100 TB text corpus's ~2.5·10^13 tokens, where
   * the naive `c12 * 2^30` already overflows at c12 > 2^33.
   *
   * Scale shape, two forms selected by `skewSafe`:
   *  - `skewSafe = true` (DEFAULT — the at-scale form): two-level count — a
   *    map-side-combined `groupBy(bigram).count()` (one row per DISTINCT
   *    bigram), rolled up to c(w1 ·) by a second vocabulary-sized
   *    aggregation — then the (bigram → p_scaled) model attaches via
   *    [[attachSkewSplit]]: hot bigrams broadcast, light bigrams equi-joined
   *    with bounded per-key fan-out. The model join on w1 runs over distinct
   *    bigrams, not occurrences, so its per-key row count is capped by
   *    vocabulary. Safe-by-default: a caller at 100 TB gets bounded
   *    per-task fan-in without opting in.
   *  - `skewSafe = false` (small-corpus opt-in): both model counts are
   *    whole-partition window counts over ONE exploded bigram frame —
   *    c(w1 w2) is rows-per-bigram, c(w1 ·) rows-per-first-word — so no
   *    model table, no joins, one scan of the explode. Three exchanges
   *    (bigram, w1, doc). A hyper-common first word ("the …") makes one hot
   *    window partition, so this form is ONLY for frames where the hottest
   *    word's row count provably fits one task (measured faster on a
   *    uniform sf0.1 corpus; 1.8× max-task fan-in growth at hot-30% skew —
   *    see BASELINE.md, "Hot-key skew stress (r8, re-run r9 …)").
   *
   * Self-scoring on the training corpus by construction; to score a foreign
   * frame against this corpus's model, materialize the model table
   * separately instead.
   */
  def lmScore(docs: DataFrame, textCol: Column, idCol: Column,
      skewSafe: Boolean = true, heavyCut: Long = 1L << 24): DataFrame = {
    val scale = 1L << 30
    val ex = docs.select(idCol.as("doc_id"),
      explode(ngrams(normalize(textCol), 2)).as("bigram"))
    val scored =
      if (!skewSafe) {
        import org.apache.spark.sql.expressions.Window
        ex.withColumn("w1", split(col("bigram"), " ").getItem(0))
          .withColumn("c12", count(lit(1)).over(Window.partitionBy(col("bigram"))))
          .withColumn("c1", count(lit(1)).over(Window.partitionBy(col("w1"))))
          .withColumn("p_scaled", stagedPScaled)
      } else {
        attachSkewSplit(ex, lmModel(docs, textCol), "bigram", "c12", heavyCut)
      }
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("p_sum"))
      .withColumn("lm_score",
        col("p_sum").cast("double") / (col("n_bigrams") * lit(scale)).cast("double"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
  }

  /**
   * Per-document statistics frame: token/char counts, average token length,
   * stopword ratio, vowel-run count, and a composite quality score. All
   * ratios are integer-derived doubles → bit-exact across engines.
   */
  def textStats(docs: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val norm = normalize(textCol)
    val t = tokens(norm)
    val stopwords = markerStopwords
    docs.select(
      idCol.as("doc_id"),
      length(norm).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      size(filter(t, x => x.isInCollection(stopwords))).as("n_stopwords"),
      // BPE-ish subtoken count: alpha runs, digit runs, and single
      // non-alphanumeric marks — the pre-merge segmentation a byte-pair
      // tokenizer starts from.
      regexp_count(norm, lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_subtokens")
    ).withColumn("avg_token_len",
      (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("type_token_ratio",
        col("n_distinct_tokens").cast("double") / col("n_tokens"))
      // Quality heuristic: reward lexical diversity and reasonable length,
      // penalize stopword-heavy boilerplate. Deterministic arithmetic only.
      .withColumn("quality_score",
        col("type_token_ratio") * lit(0.6)
          + least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.3)
          + (lit(1.0) - col("stopword_ratio")) * lit(0.1))
  }

  /**
   * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's rolling-hash
   * scheme): hash every char k-gram, slide a window of `w` consecutive
   * positions, keep each window's minimum hash — the classic
   * plagiarism/near-dup fingerprint set with guaranteed match coverage for
   * overlaps ≥ w+k-1 chars.
   *
   * Dataflow: the whole scheme is per-document, so it runs as ONE
   * projection — k-gram hashes, sliding w-window minima, and per-doc dedup
   * all happen inside [[graft.functions.WinnowKernel]] on the doc row, and
   * only the final (doc, fingerprint) pairs explode. ZERO shuffle (the
   * pre-r8 form shuffled the full position frame twice: a per-doc window
   * then a global distinct — at corpus scale that is 2× #chars rows through
   * the exchange for a result of #docs × #fingerprints). The kernel is a
   * native codegen'd expression: one UTF-8 walk + reused MessageDigest +
   * monotonic-deque minima per doc, replacing the r8 nested-HOF form
   * (kept below as [[winnowFingerprintsHof]], spec-pinned identical) whose
   * interpreted md5→hex→conv chain made this the second-heaviest catalog
   * row at sf1 (7.4 s; the kernel form measures ~5× cheaper per row).
   */
  def winnowFingerprints(docs: DataFrame, textCol: Column, idCol: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    val norm = normalize(textCol)
    docs.select(idCol.as("doc_id"), norm.as("norm"))
      // only positions with w complete windows ahead emit — shorter docs
      // produced zero rows in the windowed form too
      .filter(length(col("norm")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.winnow_fingerprints(
          col("norm"), k, w)).as("fingerprint"))
  }

  /**
   * The built-in-expression reference form of [[winnowFingerprints]]: the
   * same scheme as nested array HOFs (`transform`/`slice`/`array_min`/
   * `array_distinct`) over [[portableHash]]. CodegenFallback and ~5× the
   * kernel's cost — kept as the independently-derived semantics oracle for
   * the `TextDedupSpec` parity test, not for production use. The hash array
   * is bound as a lambda variable (the r8 `withToks` discipline) so it
   * computes once per doc; each window min is an O(w) `array_min(slice())`.
   */
  def winnowFingerprintsHof(docs: DataFrame, textCol: Column, idCol: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    val norm = normalize(textCol)
    def bind(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    docs.select(idCol.as("doc_id"), norm.as("norm"))
      .filter(length(col("norm")) >= k + w - 1)
      .select(col("doc_id"),
        explode(bind(transform(sequence(lit(1), length(col("norm")) - (k - 1)),
            p => portableHash(col("norm").substr(p, lit(k))))) { hs =>
          array_distinct(transform(sequence(lit(0), size(hs) - w),
            i => array_min(slice(hs, i + 1, lit(w)))))
        }).as("fingerprint"))
  }

  /**
   * Exact shared-substring detection between document pairs (the
   * suffix-array dedup signal of Lee et al. 2021, "Deduplicating Training
   * Data Makes Language Models Better", recast as a bounded equi-join):
   * for every pair of documents sharing an exact run of >= `minRun`
   * consecutive tokens, emit the longest such run and the number of
   * distinct maximal runs. Winnowing ([[winnowFingerprints]]) answers "do
   * these docs overlap somewhere?"; this answers "exactly how long is the
   * longest verbatim overlap?" — the quantity the 50-token cut in the paper
   * filters on.
   *
   * Construction: positional word n-grams (anchor width `n`) equi-joined on
   * gram text across documents; a match at positions (p1, p2) lies on
   * diagonal p1-p2, and maximal runs are gaps-and-islands over each
   * diagonal (`p1 - row_number()` is constant exactly while consecutive
   * positions match), so a shared run of R tokens shows up as an island of
   * R-n+1 anchors → run length = island size + n - 1. Exact by
   * construction — every reported run is a verbatim token-for-token match,
   * no hash collisions (the join key is the gram TEXT, not a hash).
   *
   * Scale shape — the pair space is bounded before the join, same discipline
   * as the LSH candidate cap (`Dedup.lshCandidates`):
   *  - per-(doc, gram) occurrences capped at `occCap` (degenerate "a a a …"
   *    repetition would otherwise square in doc length; such docs are
   *    [[repetitionStats]]'s catch, not this operator's);
   *  - grams in more than `dfCap` documents are dropped via a BROADCAST
   *    anti-join — the heavy list is <= distinct-grams/dfCap rows by
   *    pigeonhole, so it always fits, and the hot keys never reach the
   *    shuffle (boilerplate idioms carry no pair-specific signal; cross-doc
   *    boilerplate is [[boilerplateStats]]'s job);
   *  - the surviving gram frame is localCheckpointed ONCE and both join
   *    sides read the materialization (CollapseProject would otherwise
   *    re-run the explode + both caps per side — the r6 recompute lesson);
   *  - per-gram join fan-out is then <= dfCap·occCap by construction, the
   *    islands window partitions on (d1, d2, diagonal) — pair-local, never
   *    a corpus-wide hot partition.
   */
  def substringRuns(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 5, dfCap: Int = 64, occCap: Int = 8, minRun: Int = 8): DataFrame =
    runIslands(docs, textCol, idCol, n, dfCap, occCap)
      // filter BEFORE grouping so n_runs counts only runs the operator's
      // contract covers (>= minRun consecutive tokens) — an incidental
      // shared 5-gram must not inflate the count (cutRuns already applies
      // the same per-run gate)
      .filter(col("run_tokens") >= minRun)
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("run_tokens")).as("longest_run"),
        count(lit(1)).as("n_runs"))

  /** The maximal-run frame shared by [[substringRuns]] and [[cutRuns]]: one
    * row per maximal shared diagonal run between a doc pair (d1 < d2), with
    * the run's token length and its token interval [s2, e2] in d2 (the
    * later doc — the copy keep-first dedup removes). */
  private def runIslands(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int, dfCap: Int, occCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g0 = docs.select(idCol.as("doc_id"),
      posexplode(ngrams(normalize(textCol), n)).as(Seq("pos", "gram")))
    val occW = Window.partitionBy(col("doc_id"), col("gram")).orderBy(col("pos"))
    val capped = g0.withColumn("occ", row_number().over(occW))
      .filter(col("occ") <= occCap).drop("occ")
    val heavy = capped.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap).select(col("gram"))
    val g = capped.join(broadcast(heavy), Seq("gram"), "left_anti")
      .localCheckpoint()
    val pairs = g.select(col("doc_id").as("d1"), col("pos").as("p1"), col("gram"))
      .join(g.select(col("doc_id").as("d2"), col("pos").as("p2"), col("gram")), "gram")
      .filter(col("d1") < col("d2"))
    val islW = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    pairs
      .withColumn("diag", col("p1") - col("p2"))
      .withColumn("isl", col("p1") - row_number().over(islW))
      .groupBy(col("d1"), col("d2"), col("diag"), col("isl"))
      .agg((count(lit(1)) + lit(n - 1)).as("run_tokens"),
        min(col("p2")).as("s2"),
        (max(col("p2")) + lit(n - 1)).as("e2"))
  }

  /**
   * Substring-run REMOVAL — the cut half of Lee et al. 2021's pipeline
   * ([[substringRuns]] detects; this ships the deduplicated corpus):
   * every verbatim run of >= `minRun` tokens shared by a doc pair is
   * removed from the HIGHER-id doc of the pair (keep-first: the earlier
   * copy survives), and the kept tokens re-concatenate into the cut text.
   * Emitted as scalars (catalog outputs stay scalar): `n_tokens` before,
   * `n_tokens_after`, and `cut_text_hash` — the portable 60-bit hash of
   * the re-concatenated text, which pins the exact cut byte-for-byte.
   *
   * Mechanics: [[runIslands]] gives each qualifying run's token interval
   * [s2, e2] in the later doc; a doc collects intervals from ALL its pairs
   * (and multiple diagonals of one pair), so overlaps are merged with the
   * classic running-max sweep (`max(e) over (... rows unbounded preceding
   * to 1 preceding)` starts a new group when s jumps past it — integer
   * arithmetic, deterministic under (s, e) ordering ties because tied rows
   * are identical). The merged intervals attach per doc as a bounded array
   * and the cut is an array-local position filter.
   *
   * Scale shape: inherits [[runIslands]]' bounded pair space (occCap ·
   * dfCap fan-out, broadcast anti-join for heavy grams); the interval
   * sweep windows partition per doc_id (pair-local, never corpus-wide);
   * the final attach is ONE equi-join of the cut-interval table (only docs
   * that lose spans) onto the corpus, left_outer so untouched docs pass
   * through with their original text hash.
   */
  def cutRuns(docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 5, dfCap: Int = 64, occCap: Int = 8, minRun: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cuts = runIslands(docs, textCol, idCol, n, dfCap, occCap)
      .filter(col("run_tokens") >= minRun)
      .select(col("d2").as("doc_id"), col("s2").as("s"), col("e2").as("e"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val ivs = cuts
      .withColumn("maxe",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_iv",
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_iv")).over(ord))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cut_ivs"))
    def bind(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    val res = docs.select(idCol.as("doc_id"), normalize(textCol).as("norm"))
      .join(ivs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), bind(split(col("norm"), " ")) { t =>
        bind(when(col("cut_ivs").isNull, t).otherwise(
          transform(filter(
            transform(sequence(lit(0), size(t) - 1),
              i => struct(i.as("i"), element_at(t, i + 1).as("tok"))),
            p => !exists(col("cut_ivs"),
              v => p.getField("i") >= v.getField("s") &&
                p.getField("i") <= v.getField("e"))),
            p => p.getField("tok")))) { kept =>
          struct(size(t).as("n_tokens"), size(kept).as("n_tokens_after"),
            portableHash(concat_ws(" ", kept)).as("cut_text_hash"))
        }
      }.as("r"))
    res.select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
      col("r.n_tokens_after").as("n_tokens_after"),
      col("r.cut_text_hash").as("cut_text_hash"))
  }

  /** PII-ish redaction: mask email addresses and long digit runs. The regex
    * subset used is identical under Java regex and RE2/DuckDB, keeping the
    * transform oracle-verifiable; extend the pattern list per policy. */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
  val longNumberPattern = "[0-9]{4,}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      longNumberPattern, "<NUM>")

  /**
   * Corpus-relative token rarity: per-document mean document-frequency of its
   * distinct tokens — the TF-IDF-shaped signal for spotting boilerplate
   * (high mean df) vs novel text (low), with all arithmetic integer-derived
   * (no log) so scores are bit-exact cross-engine.
   *
   * Scale shape: one shuffle on token to build the document-frequency table,
   * one shuffle back on doc_id for the per-doc mean — both with map-side
   * partial aggregation. The df table is corpus-vocabulary sized; at web
   * scale it stays distributed (no broadcast assumed).
   */
  def docRarity(docs: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val tok = docs
      .select(idCol.as("doc_id"), explode(array_distinct(tokens(normalize(textCol)))).as("token"))
    val df = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tok.join(df, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(col("df")).as("sum_df"))
      .withColumn("mean_token_df", col("sum_df").cast("double") / col("n_distinct_tokens"))
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score every raw document by
   * how target-like its hashed n-gram feature counts are, so the corpus can
   * be resampled toward a target distribution (e.g. "looks like curated
   * English") without training a classifier. Features are the paper's:
   * unigrams + bigrams hashed into `buckets` buckets, a bag-of-buckets model
   * per distribution.
   *
   * Log-free determinism (house convention, same trade as [[lmScore]] /
   * [[bm25]]): the paper's per-bucket log(p_target/p_raw) is replaced by the
   * Laplace-smoothed count ratio quantized to integer parts-per-2^30 —
   * floor((c_t+1) · 2^30 / (c_r+1)), staged through two 2^15 factors so
   * intermediates stay below 2^63 up to 2^48 occurrences per bucket. The
   * per-doc sum of per-gram ratios is an exact long in any aggregation
   * order; `mean_weight` derives from it identically in every engine.
   * Ratio-sum is monotone per bucket in the same direction as the paper's
   * log-ratio-sum and is what threshold/top-k resampling actually consumes.
   *
   * Scale shape: two map-side-combined bucket counts (the feature space is
   * `buckets` keys — hot buckets stream through partial aggregation), then
   * the model — AT MOST `buckets` rows regardless of corpus size — attaches
   * to the exploded gram frame via an explicit broadcast join: no shuffle on
   * the occurrence frame beyond the final per-doc aggregation, and no skew
   * surface (every join key is in a bounded-size broadcast table).
   */
  /** One row per (doc, hashed unigram/bigram occurrence) with its feature
    * bucket — the exploded feature frame of [[dsirWeights]]. Pure
    * projection + explode: usable identically on a STREAMING frame (the
    * stream side of a static-model DSIR gate — see StreamingCorpusSpec). */
  def dsirGramBuckets(df: DataFrame, textCol: Column, idCol: Column,
      buckets: Int = 4096, carry: Seq[Column] = Nil): DataFrame = {
    val norm = normalize(textCol)
    df.select((idCol.as("doc_id") +: carry) :+
        explode(concat(tokens(norm), ngrams(norm, 2))).as("gram"): _*)
      .withColumn("bucket", pmod(portableHash(col("gram")), lit(buckets.toLong)))
  }

  /** The trained DSIR bucket model: (bucket, r_scaled) with r_scaled the
    * Laplace-smoothed target/raw count ratio in parts-per-2^30 — the static
    * artifact a streaming importance gate broadcast-joins against, and the
    * lookup table of [[dsirWeights]]. At most `buckets` rows. Both bucket
    * counts come from ONE unioned, map-side-combined aggregation (a raw
    * gram contributes (1,0), a target gram (0,1)) — no join at all, and a
    * bucket with target mass but zero raw occurrences naturally gets its
    * Laplace-smoothed (c_t+1)/1 row, so a foreign frame scored against
    * this model (the streaming DSIR gate's inner join on bucket) never
    * silently drops grams that hash to target-only buckets. */
  def dsirModel(raw: DataFrame, target: DataFrame, textCol: Column,
      buckets: Int = 4096): DataFrame = {
    def grams(df: DataFrame, isTarget: Int): DataFrame = {
      val norm = normalize(textCol)
      df.select(explode(concat(tokens(norm), ngrams(norm, 2))).as("gram"))
        .select(pmod(portableHash(col("gram")), lit(buckets.toLong)).as("bucket"),
          lit(1L - isTarget).as("r"), lit(isTarget.toLong).as("t"))
    }
    grams(raw, 0).unionByName(grams(target, 1))
      .groupBy(col("bucket"))
      .agg(sum(col("t")).as("c_t"), sum(col("r")).as("c_r"))
      .select(col("bucket"),
        (col("c_t") + lit(1L)).as("a"),
        (col("c_r") + lit(1L)).as("c"))
      .select(col("bucket"), expr(
        "((a * 32768L) div c) * 32768L + (((a * 32768L) % c) * 32768L) div c")
        .as("r_scaled"))
  }

  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: Column,
      idCol: Column, buckets: Int = 4096): DataFrame =
    dsirGramBuckets(raw, textCol, idCol, buckets)
      .join(broadcast(dsirModel(raw, target, textCol, buckets)), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("weight_scaled"))
      .withColumn("mean_weight",
        col("weight_scaled").cast("double") / (col("n_grams") * lit(1073741824.0)))

  /**
   * [[dsirWeights]] for the common in-corpus-target case — the target
   * distribution is a SUBSET of the raw corpus picked by `targetFlag` (e.g.
   * `lang === "en"`, a curated-source flag, a classifier verdict). Same
   * output, same model (target ⊆ raw means every bucket with target mass has
   * raw mass, so [[dsirModel]]'s union degenerates to a conditional count),
   * but the model trains from ONE gram pass with a conditional aggregate
   * instead of two separate explodes — at corpus scale that deletes a full
   * tokenize+md5 scan of the raw side (the profiled cost is almost entirely
   * the gram explode, not the bounded-size model join).
   */
  def dsirWeightsFlagged(raw: DataFrame, targetFlag: Column, textCol: Column,
      idCol: Column, buckets: Int = 4096): DataFrame = {
    val gb = dsirGramBuckets(raw, textCol, idCol, buckets,
      carry = Seq(targetFlag.as("is_t")))
    val model = gb.groupBy(col("bucket"))
      .agg((count(lit(1)) + lit(1L)).as("c"),
        (sum(when(col("is_t"), 1L).otherwise(0L)) + lit(1L)).as("a"))
      .select(col("bucket"), expr(
        "((a * 32768L) div c) * 32768L + (((a * 32768L) % c) * 32768L) div c")
        .as("r_scaled"))
    gb.join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r_scaled")).as("weight_scaled"))
      .withColumn("mean_weight",
        col("weight_scaled").cast("double") / (col("n_grams") * lit(1073741824.0)))
  }

  /**
   * Gopher-style heuristic quality filter: per-document metrics plus pass/fail
   * flags and an overall `quality_keep` verdict. The rule set is the standard
   * web-corpus battery (token-count bounds, mean token length bounds,
   * symbol-to-token ratio, digit-token ratio, stopword presence) with
   * thresholds as parameters; every metric is integer-derived arithmetic so
   * the verdicts are bit-exact across engines (oracle-verifiable).
   *
   * Appends columns to the input frame (rather than projecting them out) so
   * it composes mid-pipeline: dedup → qualityFilter → filter(quality_keep) →
   * redact → split. Pure projection — no shuffle, whole-stage codegen.
   */
  def qualityFilter(docs: DataFrame,
      textCol: Column,
      minTokens: Int = 20, maxTokens: Int = 80,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 8.0,
      maxSymbolRatio: Double = 0.1, maxDigitTokenRatio: Double = 0.2): DataFrame = {
    val stopwords = markerStopwords
    docs
      .withColumn("q_norm", normalize(textCol))
      .withColumn("q_toks", tokens(col("q_norm")))
      .withColumn("n_tokens", size(col("q_toks")))
      .withColumn("avg_token_len",
        (length(col("q_norm")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("symbol_ratio",
        regexp_count(col("q_norm"), lit("[^a-z0-9 ]")).cast("double") / col("n_tokens"))
      .withColumn("digit_token_ratio",
        size(filter(col("q_toks"), x => x.rlike("[0-9]"))).cast("double") / col("n_tokens"))
      .withColumn("n_stopwords",
        size(filter(col("q_toks"), x => x.isInCollection(stopwords))))
      .withColumn("ok_token_count",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).cast("int"))
      .withColumn("ok_token_len",
        (col("avg_token_len") >= minAvgTokenLen && col("avg_token_len") <= maxAvgTokenLen).cast("int"))
      .withColumn("ok_symbol_ratio", (col("symbol_ratio") <= maxSymbolRatio).cast("int"))
      .withColumn("ok_digit_ratio", (col("digit_token_ratio") <= maxDigitTokenRatio).cast("int"))
      .withColumn("ok_stopword", (col("n_stopwords") >= 1).cast("int"))
      .withColumn("quality_keep",
        (col("ok_token_count") === 1 && col("ok_token_len") === 1 &&
          col("ok_symbol_ratio") === 1 && col("ok_digit_ratio") === 1 &&
          col("ok_stopword") === 1).cast("int"))
      .drop("q_norm", "q_toks")
  }

  /**
   * Marker-token language ID. On natural text the markers would be per-language
   * function words; the heuristic structure (count marker hits per language,
   * argmax with deterministic tie-break order) is the real n-gram-profile
   * algorithm shape, scaled down to an oracle-verifiable core.
   */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "table"),
    "de" -> Seq("window", "group"),
    "fr" -> Seq("join", "merge"),
    "zh" -> Seq("vector", "batch")
  )

  /**
   * BM25 keyword retrieval: score every document against a fixed bag of
   * query terms, k1/b standard (1.2 / 0.75). The corpus-statistics side of
   * lexical search — the quality-retrieval primitive a training-data
   * pipeline uses to mine topical documents at scale.
   *
   * One deliberate deviation from textbook BM25, for oracle verifiability:
   * the IDF factor is the RAW ratio `(N - df + 0.5) / (df + 0.5)` without
   * the log. `ln` is not correctly-rounded-identical across engines (libm vs
   * JVM), which would break exact cross-engine comparison; the ratio is a
   * strictly monotone transform of the log form, so per-term ranking is
   * unchanged (absolute scores and multi-term mixes differ — callers that
   * need textbook scores wrap the ratio in `log()` and accept last-ulp
   * divergence). Every operation here is +/-/×/÷ over exactly-representable
   * inputs, which IEEE 754 rounds identically everywhere.
   *
   * Scale shape: doc lengths are a zero-shuffle projection (`size(tokens)`),
   * the corpus scalars (N, Σdl) are one cheap projection-aggregate fetched
   * eagerly as literals (no BNLJ), term frequencies shuffle ONLY rows whose
   * token is a query term (the `isin` filter runs map-side inside the
   * explode), the per-term document frequencies are a 3-row broadcast, and
   * the per-doc mix is a fixed-order sum — no corpus-sized state anywhere.
   */
  /**
   * Per-document top-k salient terms by tf-idf — keyword extraction, the
   * per-doc complement of [[bm25]]'s query-side scoring: tf from the doc's
   * own tokens, idf from the corpus document frequency, `dfCap` dropping
   * stopword-like terms that appear in (nearly) every document and `minDf`
   * dropping hapax noise — the standard curation knobs.
   *
   * Integer-exact scoring discipline: idf is the RATIONAL form
   * `floor(n_docs · idfScale / df)` (a pure integer floor-div, identical in
   * every engine) rather than `ln(n_docs/df)` — same ranking family,
   * monotone decreasing in df, and free of the cross-engine transcendental
   * 1-ulp hazard the conventions comment bans. `score_scaled = tf · idf`;
   * ties break on the term (ascending), so the top-k set is bit-stable.
   * Exact while `n_docs · idfScale < 2^63` (idfScale = 2^20 → corpora to
   * ~8.8e12 docs).
   *
   * Scale shape: two map-side-combinable aggregations (tf on (doc, term),
   * df on term — hot stopword terms partial-aggregate before the exchange),
   * one equi-join on term with exactly one df row per term (no blow-up),
   * a 1-row broadcast for n_docs, and a per-doc window (bounded by the
   * doc's distinct-term count, never corpus-sized).
   */
  def tfidfTopTerms(docs: DataFrame, textCol: Column, idCol: Column, k: Int,
      minDf: Long = 1L, dfCap: Long = Long.MaxValue,
      idfScale: Long = 1L << 20): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(minDf >= 1L && dfCap >= minDf, "need 1 <= minDf <= dfCap")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(idCol.as("doc_id"), explode(tokens(normalize(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(idCol.as("doc_id"))
      .agg(count(lit(1)).as("n_docs"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= dfCap)
      .crossJoin(broadcast(nDocs)) // provably 1-row scalar side
      // `div` is the integer floor-division operator — (n_docs·scale)/df as
      // a double would lose exactness past 2^53
      .withColumn("idf_scaled", expr(s"(n_docs * ${idfScale}L) div df"))
      .select(col("term"), col("df"), col("idf_scaled"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("term"))
    tf.join(dfT, Seq("term"))
      .withColumn("score_scaled", col("tf") * col("idf_scaled"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_scaled"))
  }

  def bm25(docs: DataFrame, textCol: Column, idCol: Column,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    // same pivot-column contract as bm25Multi (r15 advice)
    queryTerms.foreach(t => require(t.matches("[A-Za-z0-9_-]+"),
      s"term '$t' must match [A-Za-z0-9_-]+ (the pivot names a column after it)"))
    val toks = tokens(normalize(textCol))
    val lengths = docs.select(idCol.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    // corpus scalars as literals: one projection-aggregate, no explode
    val statsRow = lengths.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = statsRow.getLong(0)
    // empty corpus: sum is null and avgdl is 0/0 — any value works (there
    // are no rows to score), but reading the null would NPE at construction
    val avgdl = if (nDocs == 0) 1.0 else statsRow.getLong(1).toDouble / nDocs
    val tf = lengths
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val perTerm = tf.join(broadcast(df_), Seq("token"))
      .withColumn("idf",
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / lit(avgdl)))))
    // fixed-order mix: one column per query term, summed in declaration
    // order — double addition order is pinned, so scores are deterministic
    val termCols = queryTerms.map(t =>
      max(when(col("token") === t, col("term_score"))).as(s"s_$t"))
    val pivoted = perTerm.groupBy(col("doc_id"))
      .agg(termCols.head, termCols.tail: _*)
    val score = queryTerms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    pivoted.select(col("doc_id"), score.as("score"))
  }

  /**
   * Multi-query BM25 — [[bm25]] for a SET of term-bag queries in ONE
   * corpus pass: tf explodes once filtered to the union of all query
   * terms, df is per token (query-independent), and each query's score is
   * its own fixed-order mix over its own terms. Per (doc, token) the
   * term_score expression is IDENTICAL to [[bm25]]'s, and each query's
   * mix adds the same coalesced columns in the same declaration order —
   * so scores are bit-equal to running [[bm25]] per query, at 1/|queries|
   * of the corpus scans (the eval_ndcg_retrieval lesson: three separate
   * bm25 calls each paid a stats job + a full tf pass).
   * Output: (query, doc_id, score) — docs with no query term score no row
   * for that query, matching the per-query form.
   */
  def bm25Multi(docs: DataFrame, textCol: Column, idCol: Column,
      queries: Seq[(String, Seq[String])], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    queries.foreach { case (qid, terms) =>
      require(terms.nonEmpty && terms == terms.distinct,
        s"query $qid: terms must be non-empty and distinct")
      // the per-term pivot resolves columns named s_<term>: a term
      // carrying '.', backticks, or other column-name metacharacters
      // would mis-resolve at runtime with an opaque analysis error
      // (r15 advice) — and [[normalize]]d tokens never contain them,
      // so such a term could only ever score zero anyway
      terms.foreach(t => require(t.matches("[A-Za-z0-9_-]+"),
        s"query $qid: term '$t' must match [A-Za-z0-9_-]+ (the pivot " +
          "names a column after it)"))
    }
    val allTerms = queries.flatMap(_._2).distinct
    val toks = tokens(normalize(textCol))
    val lengths = docs.select(idCol.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    val statsRow = lengths.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = statsRow.getLong(0)
    val avgdl = if (nDocs == 0) 1.0 else statsRow.getLong(1).toDouble / nDocs
    val tf = lengths
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isInCollection(allTerms))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val perTerm = tf.join(broadcast(df_), Seq("token"))
      .withColumn("idf",
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / lit(avgdl)))))
    val termCols = allTerms.map(t =>
      max(when(col("token") === t, col("term_score"))).as(s"s_$t"))
    val pivoted = perTerm.groupBy(col("doc_id"))
      .agg(termCols.head, termCols.tail: _*)
    // ONE pass over the pivot: a per-query union of filters would plan
    // |queries| copies of the whole tf subtree (Spark does not share
    // common subplans across union branches) — explode a (query, score)
    // struct array instead; a null score marks "no query term in doc"
    // and reproduces the per-query form's row set
    val qStruct = array(queries.map { case (qid, terms) =>
      val score = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
        .reduceLeft(_ + _)
      val hasAny = terms.map(t => col(s"s_$t").isNotNull).reduce(_ || _)
      struct(lit(qid).as("query"), when(hasAny, score).as("score"))
    }: _*)
    pivoted.select(col("doc_id"), explode(qStruct).as("qs"))
      .select(col("qs.query").as("query"), col("doc_id"),
        col("qs.score").as("score"))
      .filter(col("score").isNotNull)
  }

  /**
   * Context-window chunking: split each document into token windows of
   * `windowTokens` with stride `strideTokens` (overlap = window − stride) —
   * the training-sequence preparation step that turns variable-length
   * documents into model-context-sized pieces. The last window of a doc may
   * be shorter than `windowTokens`; every token appears in at least one
   * chunk (the final partial window is kept, matching the "don't drop
   * document tails" convention).
   *
   * Pure projection (posexplode of a per-row window sequence) — zero
   * shuffle, whole-stage codegen, scales embarrassingly.
   */
  def chunkWindows(docs: DataFrame, textCol: Column, idCol: Column,
      windowTokens: Int, strideTokens: Int): DataFrame = {
    require(strideTokens >= 1 && windowTokens >= strideTokens,
      "need 1 <= stride <= window")
    val t = tokens(normalize(textCol))
    // window start offsets: 0, stride, 2·stride, …; once a window reaches
    // the doc tail no further start is needed, so the last useful start is
    // stride · ceil(max(n − window, 0) / stride) — clamped to ≥ 0 so every
    // doc (even shorter than one window) yields exactly one whole-doc chunk.
    val lastStart = greatest(
      (ceil((col("n_tokens") - windowTokens).cast("double") / strideTokens)
        .cast("int") * strideTokens),
      lit(0))
    docs.select(idCol.as("doc_id"), t.as("toks"), size(t).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        posexplode(transform(
          sequence(lit(0), col("n_tokens") - 1, lit(strideTokens)),
          start => when(start <= lastStart,
            concat_ws(" ", slice(col("toks"), start + 1, lit(windowTokens))))))
          .as(Seq("chunk_id", "chunk_text")))
      .filter(col("chunk_text").isNotNull)
      .withColumn("chunk_tokens",
        least(lit(windowTokens), col("n_tokens") - col("chunk_id") * strideTokens))
  }

  /**
   * Sequence packing: assign documents to fixed-token-budget training
   * sequences by running token prefix-sums, contiguously in id order within
   * each shard (`shardCol`). A doc lands in the sequence where its prefix
   * interval starts; sequences may overflow the budget by at most one doc —
   * the standard greedy concat-until-full packing, made deterministic and
   * distributed by sharding (one window exchange on shard; a single global
   * order would serialize the corpus through one partition, which this
   * deliberately avoids).
   */
  def packSequences(docs: DataFrame, textCol: Column, idCol: Column,
      shardCol: Column, budgetTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(shardCol.as("shard"), idCol.as("doc_id"),
        size(tokens(normalize(textCol))).as("n_tokens"))
      .withColumn("prefix",
        sum(col("n_tokens")).over(Window.partitionBy(col("shard"))
          .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prefix", coalesce(col("prefix"), lit(0L)))
      .withColumn("seq_id", expr(s"prefix div $budgetTokens"))
      .select(col("shard"), col("doc_id"), col("n_tokens"), col("prefix"),
        col("seq_id"))
  }

  /**
   * Feature-hashing vectorizer (the "hashing trick"): text → fixed-width
   * bucket-count vector, token t incrementing bucket portableHash(t) mod
   * `dim`. The no-vocabulary text vectorizer — stable under corpus growth
   * (no dictionary to rebuild), cross-engine deterministic (md5-derived
   * hash), and a pure zero-shuffle projection: per-doc counting is
   * array-local (O(dim · tokens) comparisons — fine for the small dims the
   * trick is used at; a dim in the thousands would want the explode +
   * groupBy shape instead).
   */
  def hashVectorize(text: Column, dim: Int): Column = {
    // bind the per-token bucket ids ONCE: the naive form re-evaluates
    // portableHash (a full md5) inside the per-bucket filter lambda —
    // dim × tokens digests per row instead of tokens (the HOF
    // re-evaluation lesson; see [[withToks]]). Counting is then dim ×
    // tokens INTEGER compares, md5 exactly once per token.
    val buckets = transform(tokens(normalize(text)),
      tok => pmod(portableHash(tok), lit(dim)))
    element_at(transform(array(buckets), bs =>
      transform(sequence(lit(0), lit(dim - 1)),
        b => size(filter(bs, x => x === b)))), 1)
  }

  /**
   * Linear (fastText-shaped) quality-classifier INFERENCE: hashed
   * bag-of-tokens features ([[hashVectorize]], the hashing trick) dotted
   * with an integer weight vector plus bias → a margin, thresholded into a
   * keep flag. This is the scoring half of the classifier-quality-filter
   * every web-corpus recipe runs (CCNet/GPT-3-style "looks like curated
   * text" gates); training happens offline — the weights arrive here as
   * PLAN-TIME LITERALS, the bm25-constants pattern, so inference composes
   * into any projection including a streaming select.
   *
   * Determinism (house convention): integer weights × integer counts sum
   * to an exact long in any order — no float dot product, no sigmoid (the
   * margin is monotone in the probability, and the threshold is what a
   * filter consumes; same trade as [[lmScore]]'s log-free mean).
   *
   * Scale shape: ZERO-SHUFFLE projection — O(dim · tokens) array-local
   * work per row, nothing joins or aggregates across rows.
   */
  def classifierScore(docs: DataFrame, textCol: Column, idCol: Column,
      weights: Seq[Long], bias: Long = 0L, threshold: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "need a weight vector")
    val wCol = array(weights.map(lit): _*)
    val margin = aggregate(
      zip_with(hashVectorize(textCol, weights.size), wCol,
        (c, w) => c.cast("long") * w),
      lit(bias), (acc, x) => acc + x)
    docs.select(idCol.as("doc_id"), margin.as("margin"))
      .withColumn("clf_keep", (col("margin") >= lit(threshold)).cast("int"))
  }

  /**
   * Byte-pair-encoding tokenizer training: starting from character-level
   * segmentation of the corpus word vocabulary (weighted by word frequency),
   * repeatedly find the most frequent adjacent symbol pair and merge it
   * everywhere — the standard BPE training loop, run for a fixed number of
   * merges. Returns one row per merge: (iteration, sym_a, sym_b, weight).
   *
   * Determinism: the winning pair breaks ties by (weight DESC, sym_a,
   * sym_b); the merge itself is the greedy left-to-right fold (merging "aa"
   * in "aaa" yields ["aa","a"]), expressed as an `aggregate()` lambda with
   * `try_element_at` so the empty accumulator never throws under ANSI.
   *
   * Scale shape: the loop is driver-side but bounded by `merges` (the
   * k-means/connected-components pattern); each iteration is one map-side-
   * combined pair-count shuffle over the WORD VOCABULARY (not the corpus —
   * frequencies weight the counts), one 1-row driver fetch for the winning
   * rule, and one zero-shuffle merge projection. Vocabulary tables are
   * bounded (≈ millions of types at web scale) and stay distributed.
   */
  /** The greedy left-to-right BPE merge fold — ONE definition shared by the
    * trainer (both forms) and [[bpeEncode]], so application semantics cannot
    * diverge: merging "aa" in "aaa" yields ["aa","a"]; `try_element_at` keeps
    * the empty accumulator ANSI-safe. */
  private def bpeApplyRule(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Character-segmented word-frequency vocabulary — the trainer's w0. */
  private def bpeVocab(docs: DataFrame, textCol: Column): DataFrame =
    docs
      .select(explode(tokens(normalize(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("w"))
      .select(
        // empty-token guard (mirrors bpeEncode's charSyms): sequence(1, 0)
        // counts DOWN in Spark, so an empty token would char-split to a
        // phantom ["", ""] word feeding bogus ("", "") pair counts
        when(length(col("token")) < 1, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(col("token"))),
            i => col("token").substr(i, lit(1)))).as("syms"), col("w"))

  /** Weighted adjacent-pair counts over the current vocabulary, ranked
    * (weight DESC, sym_a, sym_b) — the trainer's selection frame. */
  private def bpePairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("syms")) >= 2)
      .select(col("w"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("a"),
          element_at(col("syms"), i + 2).as("b")))).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("w")).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))

  def bpeTrain(docs: DataFrame, textCol: Column, merges: Int): DataFrame = {
    require(merges >= 1, "need at least one merge")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = bpeVocab(docs, textCol).localCheckpoint()
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= merges && !exhausted) {
      val topOpt = bpePairCounts(words).limit(1).collect().headOption
      topOpt match {
        case None =>
          // every word fully merged (or single-char vocabulary): no pair
          // left to count — stop with the rules found instead of crashing
          exhausted = true
        case Some(top) =>
          val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
          rules += ((it, a, b, n))
          words = words.select(bpeApplyRule(col("syms"), a, b).as("syms"),
            col("w")).localCheckpoint()
          it += 1
      }
    }
    rules.result().toDF("iteration", "sym_a", "sym_b", "weight")
  }

  /**
   * Tokenizer-scale BPE training: [[bpeTrain]] is exact but costs one full
   * vocabulary aggregation PER MERGE — fine as the small-merges oracle
   * reference, unusable for a 30k-merge production tokenizer (30k sequential
   * Spark jobs). This form amortizes: each corpus pass counts pairs ONCE,
   * then commits a BATCH of merges from that single ranked count.
   *
   * Batch selection discipline (driver-side, over the collected top
   * candidates — bounded rows): walk candidates in (weight DESC, sym_a,
   * sym_b) rank order and accept while each pair's symbols are disjoint
   * from every symbol — and every MERGED symbol string — already accepted
   * this batch; STOP at the first conflict (never skip past it). The
   * disjointness guarantee means each accepted pair's pre-batch count is
   * still its true count when it commits (merging (a,b) only destroys pairs
   * touching a or b and only creates pairs touching a+b), and stopping at
   * the first conflict means no stale-counted pair is ever preferred over
   * one whose count the batch changed. The batch is then applied as ONE
   * projection folding the accepted rules in order — exactly the sequential
   * application semantics ([[bpeApplyRule]] per rule, same fold as
   * [[bpeEncode]]).
   *
   * Divergence contract vs exact BPE: within a batch, a pair involving a
   * symbol CREATED by an earlier accepted rule (count ≤ that rule's count)
   * can never be considered, so the batched rule list may differ from
   * [[bpeTrain]]'s where such a pair would have outranked a later
   * candidate — the standard batched-BPE approximation. `batchSize = 1` is
   * bit-identical to [[bpeTrain]] (rules AND weights), pinned in spec.
   *
   * Scale shape: Spark passes (jobs) ≈ merges / effective-batch instead of
   * merges; each pass is the same map-side-combined pair count as the exact
   * trainer plus one driver fetch of `candidateFactor × batch` rows
   * (bounded), and one zero-shuffle merge projection.
   */
  def bpeTrainBatched(docs: DataFrame, textCol: Column, merges: Int,
      batchSize: Int = 16, candidateFactor: Int = 8): DataFrame = {
    require(merges >= 1, "need at least one merge")
    require(batchSize >= 1, "need a positive batch size")
    require(candidateFactor >= 1, "need a positive candidate factor")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = bpeVocab(docs, textCol).localCheckpoint()
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var exhausted = false
    while (done < merges && !exhausted) {
      val want = math.min(batchSize, merges - done)
      val cands = bpePairCounts(words)
        .limit(want * candidateFactor).collect()
      if (cands.isEmpty) { exhausted = true }
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = Seq.newBuilder[(String, String, Long)]
        var accepted = 0
        var stopped = false
        val it = cands.iterator
        while (!stopped && accepted < want && it.hasNext) {
          val r = it.next()
          val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
          if (used.contains(a) || used.contains(b) || used.contains(a + b)) {
            // first conflict ends the batch: this pair's count is stale now
            stopped = true
          } else {
            batch += ((a, b, n)); accepted += 1
            used += a; used += b; used += (a + b)
          }
        }
        val committed = batch.result()
        committed.foreach { case (a, b, n) =>
          done += 1; rules += ((done, a, b, n))
        }
        val merged = committed.foldLeft(col("syms")) { case (syms, (a, b, _)) =>
          bpeApplyRule(syms, a, b)
        }
        words = words.select(merged.as("syms"), col("w")).localCheckpoint()
      }
    }
    rules.result().toDF("iteration", "sym_a", "sym_b", "weight")
  }

  /**
   * Persist a trained BPE merge table ([[bpeTrain]]/[[bpeTrainBatched]]
   * output) as the on-disk vocabulary artifact — the train-once/encode-many
   * shape every production tokenizer runs (training scans the corpus;
   * encoding happens on every ingest forever after). One parquet file,
   * sorted by iteration: merge ORDER is the vocabulary's semantics (BPE
   * applies rules in training order), so the artifact pins it in both the
   * row order and the explicit `iteration` column that [[readBpeVocab]]
   * re-sorts on (never trust file order alone). Mirrors the PQ ladder's
   * codebook convention ([[Similarity.collectCodebook]] → static
   * projection): a bounded artifact collected once, then folded into
   * plan-time literals by every consumer.
   */
  def writeBpeVocab(rules: DataFrame, path: String): Unit =
    rules.select(col("iteration").cast("int").as("iteration"),
        col("sym_a").cast("string").as("sym_a"),
        col("sym_b").cast("string").as("sym_b"),
        col("weight").cast("long").as("weight"))
      .repartition(1).sortWithinPartitions("iteration")
      .write.mode("overwrite").parquet(path)

  /** Load a [[writeBpeVocab]] artifact back into the ordered literal rule
    * list [[bpeEncode]] consumes. The artifact is bounded by the merge
    * count, so the collect is a driver-side constant-fold, not a data
    * move — the same contract as collecting a PQ codebook. */
  def readBpeVocab(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("iteration").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq

  /**
   * Apply a trained BPE merge list ([[bpeTrain]]'s rules, training order) to
   * the corpus — the encode half of the tokenizer loop a training-data
   * pipeline exists to feed: each token is segmented to characters and every
   * rule folds through the SAME greedy left-to-right merge the trainer used.
   * Emits the applied segmentation as scalars (catalog outputs stay scalar):
   * `n_tokens`, `n_bpe_tokens` (post-merge symbol count — each firing rule
   * strictly shrinks it), and `bpe_checksum` = Σ portableHash(sym) mod 2^40
   * over the post-merge symbol stream (content-sensitive; together with the
   * count it pins the merge application).
   *
   * Scale shape: a ZERO-SHUFFLE projection — the rules arrive as plan-time
   * literals (bounded by the merge count; the bm25-constants pattern), the
   * per-token fold is array-local O(merges · symbols), and nothing joins or
   * aggregates across rows, so the encode runs map-side at any corpus size
   * and drops into a streaming select unchanged. Determinism: the checksum
   * sums 40-bit values — an exact long up to ~2^23 symbols per document.
   */
  def bpeEncode(docs: DataFrame, textCol: Column, idCol: Column,
      rules: Seq[(String, String)]): DataFrame = {
    def bind(x: Column)(body: Column => Column): Column =
      element_at(transform(array(x), body), 1)
    def charSyms(tok: Column): Column =
      when(length(tok) < 1, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(tok)),
          i => tok.substr(i, lit(1))))
    val enc = withToks(normalize(textCol)) { toks =>
      bind(flatten(transform(toks, tok =>
        rules.foldLeft(charSyms(tok)) { case (syms, (a, b)) =>
          bpeApplyRule(syms, a, b)
        }))) { flat =>
        struct(
          size(toks).as("n_tokens"),
          size(flat).as("n_bpe_tokens"),
          aggregate(flat, lit(0L),
            (acc, s) => acc + pmod(portableHash(s), lit(1L << 40)))
            .as("bpe_checksum"))
      }
    }
    docs.select(idCol.as("doc_id"), enc.as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.n_bpe_tokens").as("n_bpe_tokens"),
        col("e.bpe_checksum").as("bpe_checksum"))
  }

  def langId(docs: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    // stage the token array once — binding the 5 language counts directly
    // to tokens(normalize(text)) re-tokenizes every document 5× in one
    // projection (HOFs get no codegen subexpression elimination; the
    // minhashHashes staging rule)
    val scored = docs
      .select(idCol.as("doc_id"),
        tokens(normalize(textCol)).as("__toks"))
      .select(
        (col("doc_id") +:
          langMarkers.map { case (lang, ms) =>
            size(filter(col("__toks"), x => x.isInCollection(ms))).as(s"score_$lang")
          }): _*
      )
    // argmax with ties broken by declaration order (first language wins)
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }.reduce(greatest(_, _))
    val pred = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("lang_pred", pred)
  }
}
