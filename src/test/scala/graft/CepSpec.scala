package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Cep
import graft.streaming.StatefulOps

/**
 * Hand-stream checks for the CEP sequence matcher (corpus-scale output is
 * oracle-gated by `events_cep_match`): skip-till-last selection, negation
 * windows, time-bound expiry, and ordering strictness.
 */
class CepSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** (id, type, second) events for one user; returns matched
    * (close_id, a_second, gap_seconds). */
  private def run(events: Seq[(Long, String, Long)], window: Long = 3600L)
      : Seq[(Long, Long, Long)] = {
    val df = events.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    Cep.lastSeqMatch(df, col("user_id"), col("ts"), col("event_id"),
        stepA = col("event_type") === "a", stepB = col("event_type") === "b",
        stepC = col("event_type") === "c", negation = col("event_type") === "n",
        windowSeconds = window)
      .select(col("close_id"),
        expr("unix_micros(a_ts) div 1000000"), col("gap_seconds"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("a -> b -> c in order and in window closes a match") {
    assert(run(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
      == Seq((3L, 10L, 20L)))
  }

  test("skip-till-last: the LATEST a and b chain, and each close reports once") {
    // two views: the later one (t=15) is the matched A; gap measured from it
    val got = run(Seq((1L, "a", 10), (2L, "a", 15), (3L, "b", 20), (4L, "c", 30)))
    assert(got == Seq((4L, 15L, 15L)))
    // two closes -> two independent matches off the same running state
    val two = run(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "c", 40)))
    assert(two.map(_._1) == Seq(3L, 4L))
  }

  test("negation between the matched A and the close blocks; before A does not") {
    assert(run(Seq((1L, "a", 10), (2L, "n", 15), (3L, "b", 20), (4L, "c", 30)))
      .isEmpty, "error inside the span must block")
    assert(run(Seq((0L, "n", 5), (1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
      .nonEmpty, "error before the matched A is irrelevant")
    // negation between an EARLIER a and the latest a is also irrelevant
    assert(run(Seq((1L, "a", 5), (2L, "n", 7), (3L, "a", 10), (4L, "b", 20),
      (5L, "c", 30))) == Seq((5L, 10L, 20L)))
  }

  test("window expiry and ordering strictness") {
    assert(run(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 4000)))
      .isEmpty, "c beyond windowSeconds of a must not match")
    assert(run(Seq((1L, "b", 10), (2L, "a", 20), (3L, "c", 30)))
      .isEmpty, "b before a is not the pattern")
    assert(run(Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 30)))
      .isEmpty, "equal timestamps do not chain (strict order)")
  }

  /** allSeqMatches over one user's (id, type, second) events; 2-step
    * (a → c) with negation n. Returns (close_id, a_second, span_rank). */
  private def runAll(events: Seq[(Long, String, Long)], window: Long = 3600L,
      maxSpans: Int = 16): Set[(Long, Long, Int)] = {
    val df = events.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    Cep.allSeqMatches(df, col("user_id"), col("ts"), col("event_id"),
        steps = Seq(col("event_type") === "a", col("event_type") === "c"),
        negation = col("event_type") === "n", windowSeconds = window,
        maxSpans = maxSpans)
      .select(col("close_id"), expr("unix_micros(ts_1) div 1000000"),
        col("span_rank"))
      .as[(Long, Long, Int)].collect().toSet
  }

  test("allSeqMatches: every clean anchor reports, ranked by recency") {
    // two anchors, one close: both spans emit; the later anchor is rank 1
    assert(runAll(Seq((1L, "a", 10), (2L, "a", 20), (3L, "c", 30)))
      == Set((3L, 20L, 1), (3L, 10L, 2)))
  }

  test("allSeqMatches: negation blocks per ANCHOR — anything between anchor and close") {
    // n sits between the two anchors: the LATER anchor is clean, the
    // earlier one is poisoned — only the clean one reports
    assert(runAll(Seq((1L, "a", 10), (2L, "n", 15), (3L, "a", 20), (4L, "c", 30)))
      == Set((4L, 20L, 1)))
    // n after BOTH anchors poisons both (the global-negation contract,
    // applied per anchor: each span counts negations from ITS anchor)
    assert(runAll(Seq((1L, "a", 10), (2L, "a", 20), (3L, "n", 25),
      (4L, "c", 30))).isEmpty)
  }

  test("allSeqMatches: the recency cap keeps the most-recent spans, window expires old anchors") {
    // three anchors, cap 2: only the two most recent report (rank 1, 2)
    assert(runAll(Seq((1L, "a", 10), (2L, "a", 20), (3L, "a", 25),
      (4L, "c", 30)), maxSpans = 2)
      == Set((4L, 25L, 1), (4L, 20L, 2)))
    // an anchor older than the window never reports — and never occupies
    // a cap slot (the range frame already dropped it)
    assert(runAll(Seq((1L, "a", 10), (2L, "a", 4000), (3L, "c", 4010),
      (4L, "c", 7700)), window = 100L, maxSpans = 1)
      == Set((3L, 4000L, 1)))
  }

  test("allSeqMatches: 3-step — anchors must precede the fixed intermediate chain") {
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 25L),
        (4L, "c", 30L))
      .map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Cep.allSeqMatches(df, col("user_id"), col("ts"),
        col("event_id"),
        steps = Seq(col("event_type") === "a", col("event_type") === "b",
          col("event_type") === "c"),
        negation = col("event_type") === "n", windowSeconds = 3600L)
      .select(col("close_id"), expr("unix_micros(ts_1) div 1000000"),
        expr("unix_micros(ts_2) div 1000000"), col("span_rank"))
      .as[(Long, Long, Long, Int)].collect().toSet
    // the t=25 anchor is AFTER the matched b (t=20): only t=10 chains;
    // its recency rank is 2 (the invalid t=25 anchor still holds slot 1
    // of the capped set — rank gaps are the validity filter's signature)
    assert(got == Set((4L, 10L, 20L, 2)))
    // and THIS is the strict-superset case: skip-till-last pins the
    // LATEST anchor, which breaks the chain here — no match at all
    assert(Cep.lastSeqMatchN(df, col("user_id"), col("ts"), col("event_id"),
      Seq(col("event_type") === "a", col("event_type") === "b",
        col("event_type") === "c"),
      col("event_type") === "n", 3600L).count() == 0L)
  }

  test("allSeqMatches: skip-till-last is a subset of all-matches (same chain columns)") {
    // a randomized-shape but deterministic stream: every lastSeqMatchN
    // match must appear among allSeqMatches' spans with the same chain
    val types = Seq("a", "b", "c", "n", "x")
    val evs = (0 until 120).map { i =>
      (i.toLong, types(((i * 7919) ^ (i >> 2)) % types.size), i.toLong * 7)
    }
    val df = evs.map { case (id, t, sec) => ((id % 3) + 1, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c")
    val last = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 600L)
      .select(col("key"), col("close_id"), col("ts_1"), col("ts_2"), col("ts_3"))
      .as[(Long, Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    val all = Cep.allSeqMatches(df, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 600L,
        maxSpans = 120)
      .select(col("key"), col("close_id"), col("ts_1"), col("ts_2"), col("ts_3"))
      .as[(Long, Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    assert(last.subsetOf(all), s"missing: ${last -- all}")
    assert(all.nonEmpty)
  }

  test("cepStream: batch parity across micro-batch boundaries, shuffled arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // two users, patterns deliberately split MID-SEQUENCE by the batch cut
    // (a/b land in batch 1, the closing c plus a negation case in batch 2)
    val evs = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (1L, 3L, "c", 30L),
      (1L, 4L, "n", 40L), (1L, 5L, "c", 50L),  // blocked: n since matched a
      (2L, 6L, "a", 10L), (2L, 7L, "a", 15L), (2L, 8L, "b", 25L),
      (2L, 9L, "c", 35L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val expected = Cep.lastSeqMatch(batchDf, col("user_id"), col("ts"),
        col("event_id"), col("event_type") === "a", col("event_type") === "b",
        col("event_type") === "c", col("event_type") === "n", 3600L)
      .select(col("key"), col("close_id"), col("gap_seconds"))
      .as[(Long, Long, Long)].collect().toSet
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStream(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id",
      col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c", col("event_type") === "n", 3600L)
    val q = stream.writeStream.format("memory").queryName("cep_out")
      .option("checkpointLocation",
        tempDir("cep-cp").toString)
      .outputMode("append").start()
    try {
      // batch 1: the first five events, SHUFFLED — within-batch time order
      // must come from the operator's sort, not arrival order
      val wire = evs.map { case (u, id, t, sec) => (u, id, t, sec) }
      input.addData(Seq(wire(1), wire(4), wire(0), wire(6), wire(2)): _*)
      q.processAllAvailable()
      input.addData(Seq(wire(8), wire(3), wire(5), wire(7)): _*)
      q.processAllAvailable()
      val got = spark.table("cep_out")
        .select(col("key"), col("close_id"), col("gap_seconds"))
        .as[(Long, Long, Long)].collect().toSet
      // events 4 (n@40) and 5 (c@50) arrive out of order across batches:
      // event 5 lands in batch 1 where the n is not yet seen — drop both
      // from the parity set and assert the IN-ORDER matches agree
      assert(got.filter(_._2 != 5L) == expected.filter(_._2 != 5L))
      // user 1's first close and user 2's close must both be present
      assert(got.contains((1L, 3L, 20L)) && got.contains((2L, 9L, 20L)))
    } finally q.stop()
  }

  test("cepStream: an equal-timestamp LOWER-tie straggler must not overwrite state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // batch semantics: last step-0 in (ts, tie) order is a@10s(tie=2);
    // the n@20 falls AFTER it, so c@40 is blocked. The straggler
    // a@10s(tie=1) arriving in batch 2 is OLDER in window order — if it
    // overwrote (and reset the negation counter), the close would emit
    // (the r14 self-review finding).
    val evs = Seq(
      (1L, 2L, "a", 10L), (1L, 3L, "n", 20L),            // batch 1
      (1L, 1L, "a", 10L), (1L, 4L, "b", 30L), (1L, 5L, "c", 40L)) // batch 2
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val expected = Cep.lastSeqMatch(batchDf, col("user_id"), col("ts"),
        col("event_id"), col("event_type") === "a", col("event_type") === "b",
        col("event_type") === "c", col("event_type") === "n", 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    assert(expected.isEmpty, "batch must block: negation after the matched a")
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStream(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id",
      col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c", col("event_type") === "n", 3600L)
    val q = stream.writeStream.format("memory").queryName("cep_straggler_out")
      .option("checkpointLocation",
        tempDir("cepstrag-cp").toString)
      .outputMode("append").start()
    try {
      input.addData(evs.take(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      input.addData(evs.drop(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      assert(spark.table("cep_straggler_out").count() == 0L,
        "the lower-tie straggler overwrote the held step")
    } finally q.stop()
  }

  test("cepStreamAll: batch parity across shuffled micro-batches (3 steps, cap)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // two users; multiple anchors per close, a poisoned-anchor lane, a
    // cap-displacement lane (user 2: three anchors, maxSpans = 2), and a
    // second close off the same running state. Batch cuts split anchors
    // from their closes; WITHIN each batch arrival is shuffled.
    val evs = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "n", 15L), (1L, 3L, "a", 20L),
      (1L, 4L, "b", 30L), (1L, 5L, "c", 40L), (1L, 6L, "c", 50L),
      (2L, 7L, "a", 10L), (2L, 8L, "a", 12L), (2L, 9L, "a", 14L),
      (2L, 10L, "b", 20L), (2L, 11L, "c", 30L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c")
    val expected = Cep.allSeqMatches(batchDf, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 3600L, maxSpans = 2)
      .select(col("key"), col("close_id"),
        expr("unix_micros(ts_1) div 1000000"), col("gap_seconds"),
        col("span_rank"))
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty)
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStreamAll(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, col("event_type") === "n",
      3600L, maxSpans = 2)
    val q = stream.writeStream.format("memory").queryName("cepall_out")
      .option("checkpointLocation",
        tempDir("cepall-cp").toString)
      .outputMode("append").start()
    try {
      val wire = evs
      // batch 1 (shuffled): both users' anchors + user 1's negation lane
      input.addData(Seq(wire(2), wire(0), wire(7), wire(1), wire(6),
        wire(8)): _*)
      q.processAllAvailable()
      // batch 2 (shuffled): the intermediates and closes
      input.addData(Seq(wire(10), wire(3), wire(9), wire(5), wire(4)): _*)
      q.processAllAvailable()
      val got = spark.table("cepall_out")
        .select(col("key"), col("close_id"),
          expr("element_at(step_us, 1) div 1000000"), col("gap_seconds"),
          col("span_rank"))
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
    } finally q.stop()
  }

  test("cepStreamAll: a straggler anchor inserts in order; an expired one drops at the cap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // anchor a@20 arrives first; the OLDER a@10 straggles into batch 2.
    // With maxSpans = 2 both spans must emit, ranked (20 → 1, 10 → 2) —
    // the ordered insert, not arrival-order append. With maxSpans = 1 the
    // straggler must be DROPPED (older than the full list's oldest), so
    // only the a@20 span emits — exactly the batch slice's pick.
    val evs = Seq((1L, 2L, "a", 20L), (1L, 1L, "a", 10L), (1L, 3L, "c", 30L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "c")
    for ((cap, want) <- Seq(
        (2, Set((3L, 20L, 1), (3L, 10L, 2))),
        (1, Set((3L, 20L, 1))))) {
      val expected = Cep.allSeqMatches(batchDf, col("user_id"), col("ts"),
          col("event_id"), steps, col("event_type") === "n", 3600L,
          maxSpans = cap)
        .select(col("close_id"), expr("unix_micros(ts_1) div 1000000"),
          col("span_rank"))
        .as[(Long, Long, Int)].collect().toSet
      assert(expected == want.map(t => (t._1, t._2, t._3)), s"cap $cap batch")
      val input = MemoryStream[(Long, Long, String, Long)]
      val stream = StatefulOps.cepStreamAll(
        input.toDF().toDF("user_id", "event_id", "event_type", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))),
        "user_id", "ts", "event_id", steps, col("event_type") === "n",
        3600L, maxSpans = cap)
      val q = stream.writeStream.format("memory")
        .queryName(s"cepall_strag_$cap")
        .option("checkpointLocation",
          tempDir("cepallstrag-cp").toString)
        .outputMode("append").start()
      try {
        input.addData((1L, 2L, "a", 20L)); q.processAllAvailable()
        input.addData((1L, 1L, "a", 10L), (1L, 3L, "c", 30L))
        q.processAllAvailable()
        val got = spark.table(s"cepall_strag_$cap")
          .select(col("close_id"), expr("element_at(step_us, 1) div 1000000"),
            col("span_rank"))
          .as[(Long, Long, Int)].collect().toSet
        assert(got == expected, s"cap $cap: stream $got != batch $expected")
      } finally q.stop()
    }
  }

  test("cepStreamAll: a same-microsecond higher-tie anchor occupies a cap slot (range-frame parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // the batch anchor frame is a RANGE frame over us: the a@30(tie 5) —
    // same microsecond as the close, HIGHER tie — sits in the capped set
    // (never valid: validity needs strict precedence). With maxSpans = 1
    // it displaces the valid a@10, so the close emits NOTHING; the stream
    // must merge it from the batch it shares with the close.
    val evs = Seq((1L, 1L, "a", 10L), (1L, 4L, "c", 30L), (1L, 5L, "a", 30L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "c")
    val expected = Cep.allSeqMatches(batchDf, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 3600L, maxSpans = 1)
      .count()
    assert(expected == 0L, "batch: the same-us higher-tie anchor displaces")
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStreamAll(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, col("event_type") === "n",
      3600L, maxSpans = 1)
    val q = stream.writeStream.format("memory").queryName("cepall_sameus")
      .option("checkpointLocation",
        tempDir("cepallsame-cp").toString)
      .outputMode("append").start()
    try {
      input.addData(evs.map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      assert(spark.table("cepall_sameus").count() == 0L,
        "stream missed the same-us higher-tie cap occupant")
    } finally q.stop()
  }

  test("cepStreamAll: negation overlapping a step row — batch parity (r17 advice)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // negation rides a FLAG column so it can overlap step predicates
    // (the batch contract: both effects apply). Three lanes:
    //   user 1 — the CLOSE is also a negation: batch n_upto includes the
    //            current row, so the close blocks its own anchors;
    //   user 2 — an ANCHOR is also a negation: its own a_n snapshot
    //            includes it, so it stays clean — but every OLDER anchor
    //            is poisoned;
    //   user 3 — an INTERMEDIATE is also a negation: poisons all anchors.
    val evs = Seq(
      (1L, 1L, "a", 0, 10L), (1L, 2L, "b", 0, 20L), (1L, 3L, "c", 1, 30L),
      (2L, 4L, "a", 0, 5L), (2L, 5L, "a", 1, 10L), (2L, 6L, "b", 0, 20L),
      (2L, 7L, "c", 0, 30L),
      (3L, 8L, "a", 0, 10L), (3L, 9L, "b", 1, 20L), (3L, 10L, "c", 0, 30L))
    val batchDf = evs.map { case (u, id, t, n, sec) => (u, id, t, n, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "nflag", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c")
    val expected = Cep.allSeqMatches(batchDf, col("user_id"), col("ts"),
        col("event_id"), steps, col("nflag") === 1, 3600L, maxSpans = 4)
      .select(col("key"), col("close_id"),
        expr("unix_micros(ts_1) div 1000000"), col("span_rank"))
      .as[(Long, Long, Long, Int)].collect().toSet
    // hand-derived: only user 2's self-negating anchor survives — rank 1
    // (most recent capped anchor); a@5 is poisoned by the newer negation
    assert(expected == Set((2L, 7L, 10L, 1)),
      s"batch overlap semantics moved: $expected")
    val input = MemoryStream[(Long, Long, String, Int, Long)]
    val stream = StatefulOps.cepStreamAll(
      input.toDF().toDF("user_id", "event_id", "event_type", "nflag", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, col("nflag") === 1,
      3600L, maxSpans = 4)
    val q = stream.writeStream.format("memory").queryName("cepall_overlap")
      .option("checkpointLocation",
        tempDir("cepallov-cp").toString)
      .outputMode("append").start()
    try {
      // split so each user's anchors+negations and closes cross a batch
      // boundary; shuffled within batches
      input.addData(Seq(evs(4), evs(0), evs(7), evs(3), evs(1)): _*)
      q.processAllAvailable()
      input.addData(Seq(evs(9), evs(5), evs(2), evs(8), evs(6)): _*)
      q.processAllAvailable()
      val got = spark.table("cepall_overlap")
        .select(col("key"), col("close_id"),
          expr("element_at(step_us, 1) div 1000000"), col("span_rank"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == expected, s"stream $got != batch $expected")
    } finally q.stop()
  }

  /** (id, type, second) events for one user through the N-step form;
    * returns matched (close_id, first_step_second, gap_seconds). */
  private def runN(events: Seq[(Long, String, Long)], pattern: Seq[String],
      window: Long = 3600L): Seq[(Long, Long, Long)] = {
    val df = events.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    Cep.lastSeqMatchN(df, col("user_id"), col("ts"), col("event_id"),
        pattern.map(p => col("event_type") === p),
        negation = col("event_type") === "n", windowSeconds = window)
      .select(col("close_id"),
        expr("unix_micros(ts_1) div 1000000"), col("gap_seconds"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("lastSeqMatchN: 4-step chain matches in order, blocks out of order") {
    val pat = Seq("a", "b", "c", "d")
    assert(runN(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40)),
      pat) == Seq((4L, 10L, 30L)))
    // c arriving before b breaks the strictly-increasing chain
    assert(runN(Seq((1L, "a", 10), (2L, "c", 20), (3L, "b", 30), (4L, "d", 40)),
      pat).isEmpty)
    // skip-till-last at an inner step: the later b is the matched one and
    // must still precede c
    assert(runN(Seq((1L, "a", 10), (2L, "b", 15), (3L, "b", 35), (4L, "c", 30),
      (5L, "d", 40)), pat).isEmpty, "latest b after c breaks the chain")
    assert(runN(Seq((1L, "a", 10), (2L, "b", 15), (3L, "c", 30), (4L, "d", 40)),
      pat) == Seq((4L, 10L, 30L)))
  }

  test("lastSeqMatchN: K=3 reproduces lastSeqMatch exactly") {
    val evs = Seq((1L, "a", 10L), (2L, "n", 12L), (3L, "a", 15L),
      (4L, "b", 20L), (5L, "c", 30L), (6L, "c", 4000L))
    val threeStep = run(evs)
    assert(runN(evs, Seq("a", "b", "c")) == threeStep && threeStep.nonEmpty)
  }

  test("lastSeqMatchN: negation is global from the matched FIRST step") {
    val pat = Seq("a", "b", "c", "d")
    // n between c and d (after the matched a) blocks
    assert(runN(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "n", 35),
      (5L, "d", 40)), pat).isEmpty)
    // n before the LATEST a is irrelevant
    assert(runN(Seq((1L, "a", 5), (2L, "n", 7), (3L, "a", 10), (4L, "b", 20),
      (5L, "c", 30), (6L, "d", 40)), pat) == Seq((6L, 10L, 30L)))
  }

  /** Per-gap run: steps a→b→c, gap negations (n between a,b; m between
    * b,c); returns (close_id, first_second, gap_seconds). */
  private def runGaps(events: Seq[(Long, String, Long)],
      window: Long = 3600L): Seq[(Long, Long, Long)] = {
    val df = events.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    Cep.lastSeqMatchGaps(df, col("user_id"), col("ts"), col("event_id"),
        steps = Seq("a", "b", "c").map(p => col("event_type") === p),
        gapNegations = Seq(col("event_type") === "n",
          col("event_type") === "m"),
        windowSeconds = window)
      .select(col("close_id"),
        expr("unix_micros(ts_1) div 1000000"), col("gap_seconds"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("lastSeqMatchGaps: each gap is patrolled by ITS OWN predicate") {
    // n inside gap 0 (a..b) blocks
    assert(runGaps(Seq((1L, "a", 10), (2L, "n", 15), (3L, "b", 20),
      (4L, "c", 30))).isEmpty)
    // the same n inside gap 1 (b..c) is invisible — m patrols there
    assert(runGaps(Seq((1L, "a", 10), (2L, "b", 20), (3L, "n", 25),
      (4L, "c", 30))) == Seq((4L, 10L, 20L)))
    // m inside gap 1 blocks
    assert(runGaps(Seq((1L, "a", 10), (2L, "b", 20), (3L, "m", 25),
      (4L, "c", 30))).isEmpty)
    // m inside gap 0 is invisible
    assert(runGaps(Seq((1L, "a", 10), (2L, "m", 15), (3L, "b", 20),
      (4L, "c", 30))) == Seq((4L, 10L, 20L)))
    // negation before the matched (latest) step doesn't block
    assert(runGaps(Seq((1L, "n", 5), (2L, "a", 10), (3L, "b", 20),
      (4L, "c", 30))) == Seq((4L, 10L, 20L)))
  }

  test("lastSeqMatchGaps: one shared predicate reproduces the global form") {
    // gaps tile [t_0, close], so per-gap zero counts == global zero count
    val evs = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "n", 25L),
      (4L, "c", 30L), (5L, "c", 40L), (6L, "a", 50L), (7L, "b", 55L),
      (8L, "c", 60L))
    val df = evs.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq("a", "b", "c").map(p => col("event_type") === p)
    val global = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    val perGap = Cep.lastSeqMatchGaps(df, col("user_id"), col("ts"),
        col("event_id"), steps,
        Seq(col("event_type") === "n", col("event_type") === "n"), 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    assert(perGap == global && global.nonEmpty)
  }

  /** Kleene run: steps a→c, gap bounds [b in [minB, maxB], n in [0,0]];
    * returns (close_id, first_second, n_b). */
  private def runKleene(events: Seq[(Long, String, Long)], minB: Long,
      maxB: Option[Long], window: Long = 3600L): Seq[(Long, Long, Long)] = {
    val df = events.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    Cep.lastSeqMatchKleene(df, col("user_id"), col("ts"), col("event_id"),
        steps = Seq(col("event_type") === "a", col("event_type") === "c"),
        gapBounds = Seq(Seq(
          Cep.GapBound(col("event_type") === "b", minB, maxB),
          Cep.GapBound(col("event_type") === "n", 0L, Some(0L)))),
        windowSeconds = window)
      .select(col("close_id"),
        expr("unix_micros(ts_1) div 1000000"), col("n_0_0"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
  }

  test("lastSeqMatchKleene: occurrence bounds gate the close; counts are exposed") {
    val twoBs = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "b", 25L),
      (4L, "c", 30L))
    // >= 2 b's: matches, count reported
    assert(runKleene(twoBs, 2L, None) == Seq((4L, 10L, 2L)))
    // >= 3 b's: one short, blocked
    assert(runKleene(twoBs, 3L, None).isEmpty)
    // at most 1 b: exceeded, blocked
    assert(runKleene(twoBs, 0L, Some(1L)).isEmpty)
    // the [0,0] n-bound still patrols: an n inside the gap blocks even
    // when the b quota is met
    assert(runKleene(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "n", 22L),
      (4L, "b", 25L), (5L, "c", 30L)), 2L, None).isEmpty)
    // b's BEFORE the matched (latest) a do not count toward the quota
    assert(runKleene(Seq((1L, "b", 5L), (2L, "b", 7L), (3L, "a", 10L),
      (4L, "b", 20L), (5L, "c", 30L)), 2L, None).isEmpty)
    assert(runKleene(Seq((1L, "b", 5L), (2L, "a", 10L), (3L, "b", 20L),
      (4L, "b", 25L), (5L, "c", 30L)), 2L, None) == Seq((5L, 10L, 2L)))
  }

  test("lastSeqMatchKleene: empty bounds reproduce lastSeqMatchN without negation") {
    val evs = Seq((1L, "a", 10L), (2L, "n", 15L), (3L, "b", 20L),
      (4L, "c", 30L), (5L, "a", 40L), (6L, "b", 45L), (7L, "c", 50L),
      (8L, "c", 5000L))
    val df = evs.map { case (id, t, sec) => (1L, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq("a", "b", "c").map(p => col("event_type") === p)
    val viaN = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
        col("event_id"), steps, lit(false), 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    val viaK = Cep.lastSeqMatchKleene(df, col("user_id"), col("ts"),
        col("event_id"), steps, Seq(Seq.empty, Seq.empty), 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    assert(viaK == viaN && viaN.nonEmpty)
  }

  test("cepStreamKleene: batch parity across shuffled micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // user 1: a with 3 b's then c (match, count 3), then another c after an
    // n (blocked by the [0,0] bound); user 2: only 1 b (blocked by min 2)
    val evs = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 15L), (1L, 3L, "b", 20L),
      (1L, 4L, "b", 25L), (1L, 5L, "c", 30L), (1L, 6L, "n", 35L),
      (1L, 7L, "c", 40L),
      (2L, 8L, "a", 10L), (2L, 9L, "b", 20L), (2L, 10L, "c", 30L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq(col("event_type") === "a", col("event_type") === "c")
    val bounds = Seq(Seq(
      Cep.GapBound(col("event_type") === "b", 2L, None),
      Cep.GapBound(col("event_type") === "n", 0L, Some(0L))))
    val expected = Cep.lastSeqMatchKleene(batchDf, col("user_id"),
        col("ts"), col("event_id"), steps, bounds, 3600L)
      .select(col("key"), col("close_id"), col("n_0_0"))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected == Set((1L, 5L, 3L)))
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStreamKleene(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, bounds, 3600L)
    val q = stream.writeStream.format("memory").queryName("cepk_out")
      .option("checkpointLocation",
        tempDir("cepk-cp").toString)
      .outputMode("append").start()
    try {
      val w = evs
      // shuffled within each batch; cut mid-gap (b's split across batches)
      input.addData(Seq(w(2), w(0), w(7), w(1), w(8)): _*)
      q.processAllAvailable()
      input.addData(Seq(w(6), w(3), w(9), w(4), w(5)): _*)
      q.processAllAvailable()
      val got = spark.table("cepk_out")
        .select(col("key"), col("close_id"),
          element_at(col("gap_counts"), 1))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("cepStream: a negation straggler OLDER than the held A must not block") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // batch: n@5 precedes the matched a@10, so c@40 matches. The n arrives
    // in a LATER micro-batch — the r14 counter form wrongly incremented
    // and blocked; the max-(ts,tie) form must not.
    val evs = Seq(
      (1L, 2L, "a", 10L), (1L, 3L, "b", 30L),              // batch 1
      (1L, 1L, "n", 5L), (1L, 4L, "c", 40L))               // batch 2
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val expected = Cep.lastSeqMatch(batchDf, col("user_id"), col("ts"),
        col("event_id"), col("event_type") === "a", col("event_type") === "b",
        col("event_type") === "c", col("event_type") === "n", 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    assert(expected == Set(4L), "batch admits: negation precedes the matched a")
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStream(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id",
      col("event_type") === "a", col("event_type") === "b",
      col("event_type") === "c", col("event_type") === "n", 3600L)
    val q = stream.writeStream.format("memory").queryName("cep_negstrag_out")
      .option("checkpointLocation",
        tempDir("cepnegstrag-cp").toString)
      .outputMode("append").start()
    try {
      input.addData(evs.take(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      input.addData(evs.drop(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      assert(spark.table("cep_negstrag_out").select(col("close_id"))
        .as[Long].collect().toSet == expected,
        "an older-than-held-A negation straggler wrongly blocked the close")
    } finally q.stop()
  }

  test("cepStreamN: an equal-timestamp lower-tie negation straggler must not block") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    // the exact r14-advice case: negation at the SAME timestamp as the
    // held step-0 but with a LOWER tie — batch window order puts it
    // before the step-0 match, so the close is clean
    val evs = Seq(
      (1L, 2L, "a", 10L), (1L, 3L, "b", 20L),              // batch 1
      (1L, 1L, "n", 10L), (1L, 4L, "c", 30L))              // batch 2
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq("a", "b", "c").map(p => col("event_type") === p)
    val expected = Cep.lastSeqMatchN(batchDf, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 3600L)
      .select(col("close_id")).as[Long].collect().toSet
    assert(expected == Set(4L))
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStreamN(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, col("event_type") === "n", 3600L)
    val q = stream.writeStream.format("memory").queryName("cepn_negstrag_out")
      .option("checkpointLocation",
        tempDir("cepnnegstrag-cp").toString)
      .outputMode("append").start()
    try {
      input.addData(evs.take(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      input.addData(evs.drop(2).map { case (u, id, t, sec) => (u, id, t, sec) }: _*)
      q.processAllAvailable()
      assert(spark.table("cepn_negstrag_out").select(col("close_id"))
        .as[Long].collect().toSet == expected,
        "the equal-ts lower-tie negation straggler wrongly blocked")
    } finally q.stop()
  }

  test("cepStreamN: batch parity across shuffled micro-batches (4 steps)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (1L, 3L, "c", 30L),
      (1L, 4L, "d", 40L), (1L, 5L, "n", 45L), (1L, 6L, "d", 50L),
      (2L, 7L, "a", 10L), (2L, 8L, "b", 15L), (2L, 9L, "c", 25L),
      (2L, 10L, "b", 28L), (2L, 11L, "d", 35L))
    val batchDf = evs.map { case (u, id, t, sec) => (u, id, t, ts(sec)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val steps = Seq("a", "b", "c", "d").map(p => col("event_type") === p)
    val expected = Cep.lastSeqMatchN(batchDf, col("user_id"), col("ts"),
        col("event_id"), steps, col("event_type") === "n", 3600L)
      .select(col("key"), col("close_id"), col("gap_seconds"))
      .as[(Long, Long, Long)].collect().toSet
    // user 1: d@40 matches, d@50 blocked by n@45; user 2: the late b@28
    // breaks the chain (latest b after c) -> no match
    assert(expected == Set((1L, 4L, 30L)))
    val input = MemoryStream[(Long, Long, String, Long)]
    val stream = StatefulOps.cepStreamN(
      input.toDF().toDF("user_id", "event_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      "user_id", "ts", "event_id", steps, col("event_type") === "n", 3600L)
    val q = stream.writeStream.format("memory").queryName("cepn_out")
      .option("checkpointLocation",
        tempDir("cepn-cp").toString)
      .outputMode("append").start()
    try {
      // batch 1 shuffled, cut mid-sequence; batch 2 carries both closes
      val w = evs
      input.addData(Seq(w(2), w(0), w(7), w(1), w(6), w(8)): _*)
      q.processAllAvailable()
      input.addData(Seq(w(10), w(3), w(9), w(4), w(5)): _*)
      q.processAllAvailable()
      val got = spark.table("cepn_out")
        .select(col("key"), col("close_id"), col("gap_seconds"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  /** (user, tie, role, second): `role` is a pattern step, "n" (negation)
    * or "x" (neither) — at most one role per row, the documented contract. */
  private type CepRow = (Long, Long, String, Long)

  /** One generated case: ≤3 keys, ≤30 events with unique ties and seconds
    * from 0..20, delivered in (ts, tie) order and cut into 1–4 pieces. The
    * range is small, so equal timestamps are common. Steps are drawn four
    * times as often as "n" or "x", and two thirds of the step-i rows fall
    * in seconds 3i..3i+4 rather than anywhere, so in-order chains occur
    * often enough for matches not to be rare; with 8–10 s windows, spans
    * past the window and spans of exactly the window occur too. */
  private def cepCaseGen(steps: Seq[String]): Gen[Seq[Seq[CepRow]]] = {
    val roles = steps ++ Seq("n", "x")
    val row = for {
      r <- Gen.frequency(roles.indices.map(i =>
        (if (i < steps.size) 4 else 1) -> Gen.const(i)): _*)
      sec <- if (r < steps.size)
          Gen.frequency(1 -> Gen.choose(0L, 20L),
            2 -> Gen.choose(3L * r, 3L * r + 4))
        else Gen.choose(0L, 20L)
    } yield (roles(r), sec)
    for {
      n <- Gen.choose(0, 30)
      nKeys <- Gen.choose(1L, 3L)
      raw <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, nKeys), row))
      nPieces <- Gen.choose(1, 4)
      cuts <- Gen.listOfN(nPieces - 1, Gen.choose(0, n))
    } yield {
      val rows = raw.zipWithIndex
        .map { case ((u, (role, sec)), i) => (u, i.toLong, role, sec) }
        .sortBy(r => (r._4, r._2))
      val bounds = 0 +: cuts.sorted :+ n
      bounds.zip(bounds.tail).map { case (lo, hi) => rows.slice(lo, hi) }
    }
  }

  /** Stream/batch parity over 20 seeded cases. Case c lives on keys
    * 10c+1..10c+3, so one query carries them all: micro-batch j holds every
    * case's j-th piece, and per-key state keeps the cases apart. */
  private def assertCepParity[T: Encoder](steps: Seq[String], name: String)(
      stream: DataFrame => Dataset[T], batch: DataFrame => Dataset[T]): Unit = {
    val params = Gen.Parameters.default.withSize(30)
    // one seed per case: successive `next` seeds would shift one draw
    // stream by a step and make the cases near copies of each other
    val cases = (0 until 20).map { c =>
      cepCaseGen(steps)(params, Seed(20261019L + c)).get
        .map(_.map { case (u, t, r, s) => (10L * c + u, t, r, s) })
    }
    def framed(df: DataFrame) = df.toDF("user_id", "event_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val expected = batch(framed(cases.flatten.flatten.toDF())).collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CepRow]
    val q = stream(framed(input.toDF())).writeStream.format("memory")
      .queryName(name)
      .option("checkpointLocation",
        tempDir(name).toString)
      .outputMode("append").start()
    val got = try {
      (0 until 4).foreach { j =>
        val piece = cases.flatMap(_.lift(j).getOrElse(Nil))
        if (piece.nonEmpty) { input.addData(piece: _*); q.processAllAvailable() }
      }
      spark.table(name).as[T].collect().toSet
    } finally q.stop()
    info(s"${cases.size} cases, ${cases.flatten.flatten.size} events, " +
      s"${expected.size} matches")
    assert(expected.size >= 5, s"vacuous sample: ${expected.size} matches")
    assert(got == expected, s"stream-only ${got -- expected}, " +
      s"batch-only ${expected -- got}; cases $cases")
  }

  private def byRole(steps: Seq[String]) = steps.map(s => col("event_type") === s)
  private val isNeg = col("event_type") === "n"

  test("property: cepStream equals lastSeqMatch over in-order micro-batch cuts") {
    val Seq(a, b, c) = byRole(Seq("a", "b", "c"))
    assertCepParity(Seq("a", "b", "c"), "cep_prop")(
      ev => StatefulOps.cepStream(ev, "user_id", "ts", "event_id",
          a, b, c, isNeg, 8L)
        .select(col("key"), col("close_id"), col("a_us"), col("b_us"),
          col("c_us"), col("gap_seconds"))
        .as[(Long, Long, Long, Long, Long, Long)],
      ev => Cep.lastSeqMatch(ev, col("user_id"), col("ts"), col("event_id"),
          a, b, c, isNeg, 8L)
        .select(col("key"), col("close_id"), unix_micros(col("a_ts")),
          unix_micros(col("b_ts")), unix_micros(col("c_ts")),
          col("gap_seconds"))
        .as[(Long, Long, Long, Long, Long, Long)])
  }

  test("property: cepStreamN at K=4 equals lastSeqMatchN over in-order micro-batch cuts") {
    val steps = Seq("a", "b", "c", "d")
    assertCepParity(steps, "cepn_prop")(
      ev => StatefulOps.cepStreamN(ev, "user_id", "ts", "event_id",
          byRole(steps), isNeg, 10L)
        .select(col("key"), col("close_id"), col("step_us"), col("gap_seconds"))
        .as[(Long, Long, Seq[Long], Long)],
      ev => Cep.lastSeqMatchN(ev, col("user_id"), col("ts"), col("event_id"),
          byRole(steps), isNeg, 10L)
        .select(col("key"), col("close_id"),
          array((1 to 4).map(i => unix_micros(col(s"ts_$i"))): _*),
          col("gap_seconds"))
        .as[(Long, Long, Seq[Long], Long)])
  }
}
