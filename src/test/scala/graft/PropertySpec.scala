package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.model.FlightEvent
import graft.operators.{Dedup, FlightOps, TextOps}

/** Property-based invariants (SURVEY §5.2). Spark jobs per check are
  * expensive, so properties run on a reduced number of generated cases. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic-seed sampling harness (the scalatest/scalacheck bridge
    * artifact is not in the offline cache; raw Gen sampling is equivalent
    * for these invariants). One seed per sample: consecutive `seed.next`
    * states would replay the previous sample's draws shifted by one. */
  private def forSamples[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(30)
    (0 until n).foreach { i =>
      gen.apply(params, org.scalacheck.rng.Seed(42L + i)).foreach(f)
    }
  }

  private val eventGen: Gen[FlightEvent] = for {
    id <- Gen.uuid
    airline <- Gen.oneOf("AA", "BB", "CC")
    hour <- Gen.choose(0, 23)
    min <- Gen.choose(0, 59)
    delay <- Gen.choose(-60L, 300L)
    delayed <- Gen.oneOf(0, 1)
  } yield {
    val sched = java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00")
    FlightEvent(id.toString, "FN", airline, "A", "B", sched,
      new java.sql.Timestamp(sched.getTime + delay * 60000), delayed, "u", delay)
  }

  test("airlineStats invariants: 0<=rate<=100, delayed<=total, counts add up") {
    forSamples(Gen.listOfN(60, eventGen)) { events =>
      {
        val stats = FlightOps.airlineStats(events.toDF(), col("scheduled_time"), "2 minutes")
          .collect()
        assert(stats.forall { r =>
          val rate = r.getAs[Double]("delay_rate")
          rate >= 0.0 && rate <= 100.0 &&
            r.getAs[Long]("delayed_flights") <= r.getAs[Long]("total_flights")
        })
        // window-partitioned totals must equal the global total
        assert(stats.map(_.getAs[Long]("total_flights")).sum == events.size)
        assert(stats.map(_.getAs[Long]("delayed_flights")).sum ==
          events.count(_.is_delayed == 1))
      }
    }
  }

  test("windowed mean is a weighted combination of per-window means") {
    forSamples(Gen.listOfN(40, eventGen)) { events =>
      {
        val stats = FlightOps.airlineStats(events.toDF(), col("scheduled_time"), "1 hour")
          .collect()
        val weighted = stats.map(r =>
          r.getAs[Double]("avg_delay_minutes") * r.getAs[Long]("total_flights")).sum
        val direct = events.map(_.delay_minutes.toDouble).sum
        assert(math.abs(weighted - direct) < 1e-6 * math.max(1.0, math.abs(direct)))
      }
    }
  }

  private val textGen: Gen[String] = Gen.chooseNum(1, 30).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("the", "fast", "spark", "data", "join", "row",
      "batch", "sort", "key", "merge")).map(_.mkString(" ")))

  test("jaccard is 1 on self, symmetric, and within [0,1]") {
    forSamples(Gen.listOfN(6, textGen)) { texts =>
      {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val ids = texts.indices.map(_.toLong)
        val pairs = (ids.map(i => (i, i)) ++
          (for (a <- ids; b <- ids if a < b) yield Seq((a, b), (b, a))).flatten)
          .toDF("doc_a", "doc_b")
        val j = Dedup.ngramJaccard(pairs, docs, col("text"), col("doc_id"))
          .collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
            r.getAs[Double]("jaccard")).toMap
        assert(ids.forall(i => j((i, i)) == 1.0))
        assert(j.forall { case ((a, b), v) => v >= 0.0 && v <= 1.0 && v == j((b, a)) })
      }
    }
  }

  test("minhash signature of a union is the elementwise min of the parts") {
    // ≥3 tokens each: for shorter docs the whole-text fallback shingle is
    // (correctly) not a member of the concatenation's shingle set, so the
    // superset property only applies to full n-gram docs
    val longTextGen = Gen.chooseNum(3, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("the", "fast", "spark", "data", "join", "row",
        "batch", "sort", "key", "merge")).map(_.mkString(" ")))
    forSamples(Gen.zip(longTextGen, longTextGen)) { case (t1, t2) =>
      val docs = Seq((1L, t1), (2L, t2), (3L, s"$t1 $t2")).toDF("doc_id", "text")
      // shingle set of doc3 ⊇ doc1's, so each of doc3's minhashes can only
      // be <= doc1's (monotonicity of min over a superset)
      val sigs = Dedup.minhashSignatures(docs, col("text"), col("doc_id"), 3, 8)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("perm")) ->
          r.getAs[Long]("minhash")).toMap
      assert((0 until 8).forall(p => sigs((3L, p)) <= sigs((1L, p))))
    }
  }

  private val docTextGen: Gen[String] = Gen.chooseNum(1, 40).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("the", "fast", "spark", "data", "join", "row",
      "batch", "sort", "key", "merge")).map(_.mkString(" ")))

  test("chunkWindows: full token coverage, ordered ids, bounded chunk sizes") {
    forSamples(Gen.zip(Gen.listOfN(4, docTextGen),
        Gen.chooseNum(2, 10), Gen.chooseNum(1, 10))) { case (texts, w0, s0) =>
      val w = math.max(w0, s0) // need stride <= window
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = TextOps.chunkWindows(docs, col("text"), col("doc_id"), w, s0)
        .collect()
      texts.zipWithIndex.foreach { case (t, i) =>
        val mine = chunks.filter(_.getLong(0) == i.toLong).sortBy(_.getInt(2))
        // ids contiguous from 0
        assert(mine.map(_.getInt(2)).toSeq == mine.indices.toSeq)
        // every source token position covered by token multiset inclusion:
        // concatenating stride-prefixes of each chunk + last chunk rebuilds
        // the doc exactly
        val toks = t.split(" ").toSeq
        val rebuilt = mine.init.flatMap(_.getString(3).split(" ").take(s0)) ++
          mine.last.getString(3).split(" ")
        assert(rebuilt.toSeq == toks, s"w=$w s=$s0 doc=$t")
        // no chunk exceeds the window
        assert(mine.forall(_.getString(3).split(" ").length <= w))
      }
    }
  }

  test("packSequences: bins respect the budget modulo one straddling doc") {
    forSamples(Gen.zip(Gen.listOfN(12, docTextGen), Gen.chooseNum(5, 60))) {
      case (texts, budget) =>
        val docs = texts.zipWithIndex.map { case (t, i) =>
          (s"shard${i % 2}", i.toLong, t)
        }.toDF("source", "doc_id", "text")
        val packed = TextOps.packSequences(docs, col("text"), col("doc_id"),
          col("source"), budget).collect()
        packed.groupBy(r => (r.getString(0), r.getLong(4))).foreach {
          case (_, rows) =>
            val total = rows.map(_.getInt(2)).sum
            val maxDoc = rows.map(_.getInt(2)).max
            // a bin only exceeds the budget by (part of) its last doc
            assert(total < budget + maxDoc,
              s"bin total $total with budget $budget, max doc $maxDoc")
        }
        // every doc lands in exactly one bin; prefix sums are per-shard
        assert(packed.length == texts.length)
    }
  }

  test("pageRank: total mass never exceeds N·scale and is nearly conserved") {
    import graft.operators.Graph
    forSamples(Gen.listOfN(12,
        Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 5))), n = 3) { pairs =>
      // symmetrize so no node dangles: mass conservation only holds on
      // dangling-free graphs (dangling contributions are DROPPED by design —
      // the documented simplified variant)
      val edges = pairs.flatMap { case (a, b) =>
        Seq((s"n$a", s"n$b"), (s"n$b", s"n$a"))
      }.distinct.toDF("src", "dst")
      val iters = 3
      val r = Graph.pageRank(edges, iters).collect()
      val nodes = r.length
      val total = r.map(_.getLong(1)).sum
      assert(total <= nodes.toLong * Graph.RankScale)
      // floor losses: ≤ ~2 units per node per iteration, plus dangling-free
      // construction here means mass is otherwise conserved
      assert(total >= nodes.toLong * (Graph.RankScale - 4 * iters))
      assert(r.forall(_.getLong(1) >= (Graph.RankScale * 3) / 20))
    }
  }

  /** Random keyed event streams for the CEP equivalence properties:
    * (user, event_id, type, second) with duplicate timestamps possible
    * (the tie column disambiguates, as in the catalog rows). */
  private val cepStreamGen: Gen[Seq[(Long, Long, String, Long)]] =
    Gen.listOfN(40, Gen.zip(Gen.chooseNum(1L, 3L),
        Gen.oneOf("a", "b", "c", "n", "x"), Gen.chooseNum(0L, 120L)))
      .map(_.zipWithIndex.map { case ((u, t, sec), i) => (u, i.toLong, t, sec) })

  test("lastSeqMatchN at K=3 equals lastSeqMatch on random streams") {
    import graft.operators.Cep
    forSamples(cepStreamGen, n = 4) { evs =>
      val df = evs.map { case (u, id, t, sec) =>
        (u, id, t, new java.sql.Timestamp(sec * 1000L))
      }.toDF("user_id", "event_id", "event_type", "ts")
      val steps = Seq("a", "b", "c").map(p => col("event_type") === p)
      val legacy = Cep.lastSeqMatch(df, col("user_id"), col("ts"),
          col("event_id"), steps(0), steps(1), steps(2),
          col("event_type") === "n", 60L)
        .select(col("key"), col("close_id"), col("gap_seconds"))
        .as[(Long, Long, Long)].collect().toSet
      val n3 = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
          col("event_id"), steps, col("event_type") === "n", 60L)
        .select(col("key"), col("close_id"), col("gap_seconds"))
        .as[(Long, Long, Long)].collect().toSet
      assert(n3 == legacy, s"K=3 generalization diverged on $evs")
    }
  }

  test("per-gap CEP with one shared predicate equals the global form on random streams") {
    import graft.operators.Cep
    forSamples(cepStreamGen, n = 4) { evs =>
      val df = evs.map { case (u, id, t, sec) =>
        (u, id, t, new java.sql.Timestamp(sec * 1000L))
      }.toDF("user_id", "event_id", "event_type", "ts")
      val steps = Seq("a", "b", "c").map(p => col("event_type") === p)
      val neg = col("event_type") === "n"
      val global = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
          col("event_id"), steps, neg, 60L)
        .select(col("key"), col("close_id")).as[(Long, Long)].collect().toSet
      val perGap = Cep.lastSeqMatchGaps(df, col("user_id"), col("ts"),
          col("event_id"), steps, Seq(neg, neg), 60L)
        .select(col("key"), col("close_id")).as[(Long, Long)].collect().toSet
      assert(perGap == global, s"gap tiling violated on $evs")
    }
  }

  test("Kleene bounds are monotone and count-consistent on random streams") {
    import graft.operators.Cep
    forSamples(cepStreamGen, n = 4) { evs =>
      val df = evs.map { case (u, id, t, sec) =>
        (u, id, t, new java.sql.Timestamp(sec * 1000L))
      }.toDF("user_id", "event_id", "event_type", "ts")
      val steps = Seq(col("event_type") === "a", col("event_type") === "c")
      def matches(minB: Long): Map[(Long, Long), Long] =
        Cep.lastSeqMatchKleene(df, col("user_id"), col("ts"),
            col("event_id"), steps,
            Seq(Seq(Cep.GapBound(col("event_type") === "b", minB, None))), 60L)
          .select(col("key"), col("close_id"), col("n_0_0"))
          .as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      val m0 = matches(0L); val m1 = matches(1L); val m2 = matches(2L)
      // raising the min bound can only SHRINK the match set, never change
      // a surviving match's reported count
      assert(m1.keySet.subsetOf(m0.keySet) && m2.keySet.subsetOf(m1.keySet),
        s"bound monotonicity violated on $evs")
      assert(m1.forall { case (k, c) => m0(k) == c },
        s"count changed under a tighter bound on $evs")
      // every reported count satisfies its own bound, and the bound-0
      // matches are exactly the unconstrained two-step closes
      assert(m1.values.forall(_ >= 1L) && m2.values.forall(_ >= 2L))
      val unconstrained = Cep.lastSeqMatchN(df, col("user_id"), col("ts"),
          col("event_id"), steps, lit(false), 60L)
        .select(col("key"), col("close_id")).as[(Long, Long)].collect().toSet
      assert(m0.keySet == unconstrained, s"min=0 must be unconstrained on $evs")
    }
  }

  test("entityKeys: C(k,2) keys per fully-populated record, null slots drop") {
    val df = Seq(
      (1L, "nm", "blk", "aa", "bb", "cc"),
      (2L, "nm", "blk", null, "bb", "cc"),
      (3L, "nm", null, "aa", "bb", "cc")
    ).toDF("id", "name", "blk", "p0", "p1", "p2")
    val keys = Dedup.entityKeys(df, col("id"), col("name"), col("blk"),
        Seq(col("p0"), col("p1"), col("p2")))
      .groupBy(col("id")).count().as[(Long, Long)].collect().toMap
    assert(keys.getOrElse(1L, 0L) == 3L, "all-populated record pairs 3 slots")
    assert(keys.getOrElse(2L, 0L) == 1L, "a null piece kills its two slots")
    assert(!keys.contains(3L), "a null blocking attribute kills every slot")
  }
}
