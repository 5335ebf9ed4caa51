package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/**
 * Hand-computed unit checks for the corpus-signal operators added for the
 * training-data pipeline: within-doc repetition, cross-doc boilerplate,
 * train/test contamination, and bigram LM scoring. (Their corpus-scale
 * behavior is oracle-gated by text_repetition / text_boilerplate /
 * text_contamination / text_lm_score in the catalog.)
 */
class CorpusSignalsSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats: hand-computed bigram ratios") {
    // "a b a b a" → bigrams [a b, b a, a b, b a]: n=4, top=2, all duplicated
    val docs = Seq((1L, "a b a b a"), (2L, "x y z w")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs, col("text"), col("doc_id"), 2)
      .orderBy("doc_id").collect()
    assert(r.length == 2)
    assert(r(0).getLong(1) == 4L)
    assert(r(0).getDouble(2) == 0.5)  // top_2gram_ratio
    assert(r(0).getDouble(3) == 1.0)  // dup_2gram_ratio
    // "x y z w": 3 distinct bigrams, no repetition
    assert(r(1).getLong(1) == 3L)
    assert(r(1).getDouble(2) == 1.0 / 3.0)
    assert(r(1).getDouble(3) == 0.0)
  }

  test("ngrams: docs shorter than n yield no grams (and drop from stats)") {
    val docs = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs, col("text"), col("doc_id"), 3)
      .collect()
    assert(r.map(_.getLong(0)).toSet == Set(2L), "2-token doc must drop")
    assert(r.head.getLong(1) == 1L) // "a b c" has exactly one trigram
  }

  test("boilerplateStats: shared shingle flagged at minDf") {
    // one trigram ("x y z") present in all 3 docs; the rest unique
    val docs = Seq(
      (1L, "x y z a b"),   // shingles: x y z, y z a, z a b
      (2L, "x y z c d"),
      (3L, "x y z e f")
    ).toDF("doc_id", "text")
    val r = TextOps.boilerplateStats(docs, col("text"), col("doc_id"),
        n = 3, minDf = 3)
      .orderBy("doc_id").collect()
    r.foreach { row =>
      assert(row.getLong(1) == 3L)               // n_shingles
      assert(row.getLong(2) == 1L)               // n_boiler (just "x y z")
      assert(row.getDouble(3) == 1.0 / 3.0)      // boiler_ratio
    }
  }

  test("contamination: duplicated test doc flagged, novel doc clean") {
    val train = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
      (11L, "completely novel held out material here")       // disjoint
    ).toDF("doc_id", "text")
    val r = TextOps.contamination(test, train, col("text"), col("doc_id"),
        n = 3, threshold = 0.9)
      .orderBy("doc_id").collect()
    assert(r(0).getDouble(3) == 1.0 && r(0).getInt(4) == 1)
    assert(r(1).getDouble(3) == 0.0 && r(1).getInt(4) == 0)
  }

  test("contaminationBloom: row-identical to the exact form; probe is a map-side filter") {
    // mixed corpus: verbatim leak, partial overlap, disjoint — plus enough
    // filler that the bloom prune actually has non-candidates to kill
    val train = ((1L, "the quick brown fox jumps over the lazy dog") +:
      (100L until 160L).map(i => (i, s"filler train doc $i with its own unique words w$i v$i")))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely novel held out material here"),
      (12L, "the quick brown fox went somewhere else entirely")
    ).toDF("doc_id", "text")
    val exact = TextOps.contamination(test, train, col("text"), col("doc_id"),
      n = 3, threshold = 0.9).orderBy("doc_id").collect().toSeq
    val bloom = TextOps.contaminationBloom(test, train, col("text"), col("doc_id"),
      n = 3, threshold = 0.9, expectedItems = 1024L).orderBy("doc_id").collect().toSeq
    assert(bloom == exact, s"bloom form diverged:\n$bloom\nvs\n$exact")
    // the probe must be in the plan as a filter expression, not a join
    val plan = TextOps.contaminationBloom(test, train, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
  }

  test("contaminationBloom: empty test side yields empty output, no crash") {
    val train = Seq((1L, "some training words here")).toDF("doc_id", "text")
    val test = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.contaminationBloom(test, train, col("text"), col("doc_id"))
      .count() == 0L)
  }

  test("lmScore: hand-computed bigram probabilities") {
    // corpus bigrams: "a b" ×1, "a c" ×1 → P(b|a) = P(c|a) = 1/2 exactly;
    // each doc's mean = 0.5 (the 2^30 quantization is exact for 1/2)
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextOps.lmScore(docs, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(row.getLong(1) == 1L)     // n_bigrams
      assert(row.getDouble(2) == 0.5)  // lm_score
    }
  }

  test("hashVectorize: buckets partition the token multiset") {
    val docs = Seq((1L, "a b c a"), (2L, "xyz")).toDF("doc_id", "text")
    val dim = 8
    val r = docs.select(col("doc_id"),
        TextOps.hashVectorize(col("text"), dim).as("v"),
        size(TextOps.tokens(TextOps.normalize(col("text")))).as("n"))
      .collect()
    r.foreach { row =>
      val v = row.getSeq[Int](1)
      assert(v.length == dim)
      assert(v.sum == row.getInt(2), "bucket counts must sum to token count")
      assert(v.forall(_ >= 0))
    }
    // duplicate tokens land in the same bucket: doc 1's "a"×2 gives a
    // bucket of exactly 2 somewhere
    assert(r.find(_.getLong(0) == 1L).get.getSeq[Int](1).contains(2))
  }

  test("BPE vocab artifact round-trip: write → read → encode is bit-identical") {
    // train-once/encode-many: the persisted vocabulary must drive bpeEncode
    // to the same output as the in-memory rules it was written from
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the bat and the cat chat"),
      (3L, "threshing thresher threads")).toDF("doc_id", "text")
    val trained = TextOps.bpeTrain(docs, col("text"), merges = 4)
    val inMem = trained.orderBy("iteration").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val dir = tempDir("bpe-vocab").toString
    TextOps.writeBpeVocab(trained, s"$dir/vocab.parquet")
    val loaded = TextOps.readBpeVocab(spark, s"$dir/vocab.parquet")
    assert(loaded == inMem, s"rule order drifted through the artifact: $loaded vs $inMem")
    val a = TextOps.bpeEncode(docs, col("text"), col("doc_id"), inMem)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = TextOps.bpeEncode(docs, col("text"), col("doc_id"), loaded)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // the artifact is self-describing: weight column survives for audits
    val w = spark.read.parquet(s"$dir/vocab.parquet")
      .select("weight").collect().map(_.getLong(0))
    assert(w.forall(_ >= 1L))
  }

  test("bpeTrain: frequency-weighted merges with deterministic tie-break") {
    // vocab: "aa"×2, "ab"×1 → pair (a,a) weight 2 wins round 1; after the
    // merge "aa" is a single symbol, so round 2's only pair is (a,b)
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val r = TextOps.bpeTrain(docs, col("text"), merges = 2)
      .orderBy("iteration").collect()
      .map(row => (row.getInt(0), row.getString(1), row.getString(2), row.getLong(3)))
    assert(r.toSeq == Seq((1, "a", "a", 2L), (2, "a", "b", 1L)))
  }

  test("bpeTrain: ties break lexicographically; greedy fold on runs") {
    // "ab" and "cd" both weight 1 → (a,b) wins by symbol order
    val tie = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val r1 = TextOps.bpeTrain(tie, col("text"), merges = 1).collect()
    assert(r1.head.getString(1) == "a" && r1.head.getString(2) == "b")
    // "aaa": pairs (a,a)×2 → merge leaves [aa, a], so round 2 pairs (aa, a)
    val run = Seq((1L, "aaa")).toDF("doc_id", "text")
    val r2 = TextOps.bpeTrain(run, col("text"), merges = 2)
      .orderBy("iteration").collect()
    assert(r2(0).getString(1) == "a" && r2(0).getString(2) == "a" &&
      r2(0).getLong(3) == 2L)
    assert(r2(1).getString(1) == "aa" && r2(1).getString(2) == "a")
  }

  test("bpeTrainBatched: batchSize=1 is bit-identical to the exact trainer") {
    val docs = Seq((1L, "aa aa ab cd cd cd ef"), (2L, "gh gh aab"))
      .toDF("doc_id", "text")
    val exact = TextOps.bpeTrain(docs, col("text"), merges = 5)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val batched = TextOps.bpeTrainBatched(docs, col("text"), merges = 5,
        batchSize = 1)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(batched == exact)
  }

  test("bpeTrainBatched: disjoint frequent pairs commit in one batch, matching exact") {
    // four disjoint two-char words at distinct frequencies: exact BPE merges
    // them in frequency order over four passes; the batched trainer must
    // find the SAME rules (same order, same weights) in a single batch
    val docs = Seq((1L, "ab ab ab ab cd cd cd ef ef gh"))
      .toDF("doc_id", "text")
    val exact = TextOps.bpeTrain(docs, col("text"), merges = 4)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val batched = TextOps.bpeTrainBatched(docs, col("text"), merges = 4,
        batchSize = 8)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(batched == exact)
    assert(exact.map(x => (x._2, x._3)).toSet ==
      Set(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")))
  }

  test("bpeTrainBatched: a conflicting candidate ends the batch, never skips past it") {
    // "aaa"×3 + "ab": top pair (a,a) w=6; the next-ranked pair (a,b) also
    // involves 'a', so the first batch must commit ONLY (a,a) and the second
    // rule must be picked from a RECOUNT — (aa,a) w=3, exactly the exact
    // trainer's pick. Skipping past the conflict would instead commit the
    // stale-counted (a,b).
    val docs = Seq((1L, "aaa aaa aaa ab")).toDF("doc_id", "text")
    val batched = TextOps.bpeTrainBatched(docs, col("text"), merges = 2,
        batchSize = 8)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val exact = TextOps.bpeTrain(docs, col("text"), merges = 2)
      .orderBy("iteration").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(batched == exact)
    assert(batched.head == ((1, "a", "a", 6L)))
    assert(batched(1) == ((2, "aa", "a", 3L)))
  }

  test("bpeTrainBatched: Spark job count grows with batches, not merges") {
    // 26 disjoint double-letter words → 24 merges commit in very few
    // passes; the exact trainer needs one pair-count job per merge. Count
    // jobs via listener: batched must launch well under half of exact's.
    val text = ('a' to 'z').map(c => s"$c$c").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    class Counter extends org.apache.spark.scheduler.SparkListener {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    def countJobs(f: => Unit): Int = {
      val c = new Counter
      spark.sparkContext.addSparkListener(c)
      try {
        f
        // the listener bus is async: poll until the count stops moving
        var last = -1
        var waited = 0
        while (c.n.get() != last && waited < 10000) {
          last = c.n.get(); Thread.sleep(200); waited += 200
        }
      } finally spark.sparkContext.removeSparkListener(c)
      c.n.get()
    }
    val exactJobs = countJobs {
      TextOps.bpeTrain(docs, col("text"), merges = 24).collect(); ()
    }
    val batchedJobs = countJobs {
      TextOps.bpeTrainBatched(docs, col("text"), merges = 24,
        batchSize = 16).collect(); ()
    }
    assert(batchedJobs * 2 < exactJobs,
      s"batched trainer launched $batchedJobs jobs vs exact's $exactJobs")
  }

  test("classifierScore: exact integer margin and threshold flag") {
    // dim 2: every token hashes to bucket 0 or 1; weights (+3, -2).
    // margin = 3·c0 - 2·c1 + bias — recompute per doc from the same hash.
    val docs = Seq((1L, "alpha beta gamma"), (2L, "x")).toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
        TextOps.hashVectorize(col("text"), 2).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val r = TextOps.classifierScore(docs, col("text"), col("doc_id"),
        weights = Seq(3L, -2L), bias = 1L, threshold = 2L)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getInt(2))).toMap
    hashed.foreach { case (id, v) =>
      val expect = 3L * v(0) - 2L * v(1) + 1L
      assert(r(id)._1 == expect, s"doc $id margin: $r vs counts $v")
      assert(r(id)._2 == (if (expect >= 2L) 1 else 0))
    }
  }

  test("bpeEncode: applies trained merges greedily in training order, zero-shuffle") {
    // rules (a,a) then (aa,b): "aaab" → chars [a,a,a,b] → rule1 greedy
    // left-to-right [aa,a,b] (merging "aa" in "aaa" leaves [aa,a]) → rule2
    // only fires on adjacent (aa,b) — here [aa, a, b] has (a,b) adjacent,
    // NOT (aa,b), so rule2 does nothing → 3 symbols. "aab" → [aa, b] →
    // rule2 → [aab] → 1 symbol. "cd" unaffected → 2 symbols.
    val docs = Seq((1L, "aaab"), (2L, "aab"), (3L, "cd aab"))
      .toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(docs, col("text"), col("doc_id"),
      Seq(("a", "a"), ("aa", "b")))
    val got = enc.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) == ((1, 3)), s"aaab must encode to 3 symbols: $got")
    assert(got(2L) == ((1, 1)), s"aab must encode to 1 symbol: $got")
    assert(got(3L) == ((2, 3)), s"cd aab must encode to 2+1 symbols: $got")
    // checksum distinguishes content with equal counts
    val ck = enc.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ck(1L) != ck(3L))
    // the encode is a pure projection — no exchange of any kind
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bpeEncode must be zero-shuffle:\n$plan")
  }

  test("chunkWindows: stride/overlap layout and tail handling") {
    val text20 = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text20), (2L, "a b c")).toDF("doc_id", "text")
    val r = TextOps.chunkWindows(docs, col("text"), col("doc_id"),
        windowTokens = 8, strideTokens = 4)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = r.filter(_.getLong(0) == 1L)
    // starts 0,4,8,12: four chunks, all full (20-12=8)
    assert(d1.map(_.getInt(2)).toSeq == Seq(0, 1, 2, 3))
    assert(d1.forall(_.getInt(4) == 8))
    assert(d1.head.getString(3).startsWith("t1 t2 "))
    assert(d1.last.getString(3) == (13 to 20).map(i => s"t$i").mkString(" "))
    // doc shorter than one window: exactly one whole-doc chunk
    val d2 = r.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(3) == "a b c" &&
      d2.head.getInt(4) == 3)
  }

  test("chunkWindows: every token is covered by at least one chunk") {
    val docs = Seq((1L, (1 to 13).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextOps.chunkWindows(docs, col("text"), col("doc_id"), 5, 3)
      .collect().map(_.getString(3))
    val covered = chunks.flatMap(_.split(" ")).toSet
    assert(covered == (1 to 13).map(i => s"w$i").toSet)
  }

  test("packSequences: prefix-sum binning per shard") {
    val docs = Seq(
      ("x", 1L, "a b c d e"), ("x", 2L, "a b c d e"),
      ("x", 3L, "a b c d e"), ("x", 4L, "a b c d e"),
      ("y", 9L, "a b")
    ).toDF("source", "doc_id", "text")
    val r = TextOps.packSequences(docs, col("text"), col("doc_id"),
        col("source"), budgetTokens = 8)
      .orderBy("shard", "doc_id").collect()
    // shard x: prefixes 0,5,10,15 → seqs 0,0,1,1; shard y restarts at 0
    assert(r.map(row => (row.getString(0), row.getLong(4))).toSeq ==
      Seq(("x", 0L), ("x", 0L), ("x", 1L), ("x", 1L), ("y", 0L)))
  }

  test("lmScore: repeated bigram dominates the conditional mass") {
    // "a b a b a b" → bigrams: a b ×3, b a ×2; c1(a)=3, c1(b)=2
    // P(b|a)=1, P(a|b)=1 → every bigram scores 1.0 → mean 1.0
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val r = TextOps.lmScore(docs, col("text"), col("doc_id")).collect()
    assert(r.head.getLong(1) == 5L)
    assert(r.head.getDouble(2) == 1.0)
  }

  test("dsirWeights: target-vocabulary docs outweigh off-target docs") {
    // target uses the {alpha..delta} vocabulary; doc 1 is pure target
    // vocabulary, doc 2 is pure off-target, doc 3 mixes half and half
    val raw = Seq(
      (1L, "alpha beta gamma delta alpha beta"),
      (2L, "zig zag zip zap zig zag"),
      (3L, "alpha beta zig zag alpha zag")).toDF("doc_id", "text")
    val target = Seq(
      (100L, "alpha beta gamma delta"),
      (101L, "beta gamma alpha delta")).toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target, col("text"), col("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_weight"))
      .toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L), s"expected w1 > w3 > w2, got $w")
    // every raw doc is scored — selection is downstream's choice
    assert(w.size == 3)
  }

  test("dsirModel: a target-only bucket still gets its Laplace-smoothed row") {
    // "qqq" appears ONLY in target: its bucket has target mass but zero raw
    // occurrences. The full-outer count join must still emit the bucket
    // (ratio (c_t+1)/(0+1)) so a foreign frame scored against the model
    // doesn't silently drop grams hashing there.
    val raw = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val target = Seq((9L, "qqq qqq qqq")).toDF("doc_id", "text")
    val model = TextOps.dsirModel(raw, target, col("text"))
    val buckets = model.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // locate qqq's unigram bucket the same way dsirGramBuckets does
    val qBucket = Seq((0L, "qqq")).toDF("doc_id", "text")
      .select(pmod(TextOps.portableHash(lit("qqq")), lit(4096L)).as("b"))
      .head().getLong(0)
    assert(buckets.contains(qBucket),
      s"target-only bucket $qBucket missing from model: ${buckets.keys.toSeq.sorted}")
    // raw count 0 → c = 1; target has 3 unigram + 2 bigram "qqq …" grams?
    // ("qqq qqq qqq" → unigrams ×3 + bigrams "qqq qqq" ×2 — bigram hash
    // differs, so this bucket holds the 3 unigrams unless hashes collide)
    // ratio = (3+1)/1 = 4 in parts-per-2^30
    assert(buckets(qBucket) >= (1L << 30),
      s"target-only bucket must score above 1.0 ratio: ${buckets(qBucket)}")
  }

  test("dsirWeightsFlagged matches dsirWeights when target = flagged subset of raw") {
    val raw = Seq(
      (1L, "alpha beta gamma delta alpha beta", "en"),
      (2L, "zig zag zip zap zig zag", "de"),
      (3L, "alpha beta zig zag alpha zag", "de"),
      (4L, "alpha gamma delta beta gamma", "en")).toDF("doc_id", "text", "lang")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "weight_scaled", "mean_weight")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val flagged = key(TextOps.dsirWeightsFlagged(raw, col("lang") === "en",
      col("text"), col("doc_id")))
    val twoPass = key(TextOps.dsirWeights(raw, raw.filter(col("lang") === "en"),
      col("text"), col("doc_id")))
    assert(flagged == twoPass, s"flagged $flagged != two-pass $twoPass")
  }

  test("dsirWeights: the bucket model attaches via broadcast, never a shuffle join") {
    val raw = Seq((1L, "a b c"), (2L, "c d e")).toDF("doc_id", "text")
    val target = Seq((9L, "a b")).toDF("doc_id", "text")
    val plan = TextOps.dsirWeights(raw, target, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("tfidfTopTerms: rational-idf scores, term tie-break, df gates") {
    val docs = Seq(
      (1L, "apple banana banana"),
      (2L, "apple cherry"),
      (3L, "apple durian cherry cherry"),
      (4L, "elderberry")).toDF("doc_id", "text")
    // n_docs=4, S=2^20: idf apple=(4S)//3=1398101, banana/durian/elderberry=4S,
    // cherry=2S; doc 3 ties cherry (2·2S) with durian (1·4S) -> term asc
    val got = TextOps.tfidfTopTerms(docs, col("text"), col("doc_id"), k = 2)
      .as[(Long, Int, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._6)).toSeq).toMap
    assert(got(1L) == Seq(("banana", 2L * 4194304L), ("apple", 1398101L)))
    assert(got(2L) == Seq(("cherry", 2097152L), ("apple", 1398101L)))
    assert(got(3L) == Seq(("cherry", 4194304L), ("durian", 4194304L)))
    assert(got(4L) == Seq(("elderberry", 4194304L)))
    // dfCap drops the near-universal term, minDf the hapaxes
    val capped = TextOps.tfidfTopTerms(docs, col("text"), col("doc_id"),
        k = 2, dfCap = 2L)
      .as[(Long, Int, String, Long, Long, Long)].collect().map(_._3).toSet
    assert(!capped.contains("apple") && capped.contains("cherry"))
    val minned = TextOps.tfidfTopTerms(docs, col("text"), col("doc_id"),
        k = 3, minDf = 2L)
      .as[(Long, Int, String, Long, Long, Long)].collect().map(_._3).toSet
    assert(minned == Set("apple", "cherry"))
  }
}
