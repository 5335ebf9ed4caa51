package graft

import org.apache.spark.sql.functions._
import graft.operators.{Layout, Scd}

/** Hand-computed checks for the SCD2 run-history builder and the versioned
  * parquet MERGE (corpus-scale SCD2 is oracle-gated by events_scd2_history). */
class ScdMergeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("runHistory: consecutive same-state events collapse; intervals chain") {
    val events = Seq(
      ("u1", "free", ts("2024-01-01 00:00:00"), 1L),
      ("u1", "free", ts("2024-01-02 00:00:00"), 2L),
      ("u1", "paid", ts("2024-01-05 00:00:00"), 3L),
      ("u1", "free", ts("2024-01-09 00:00:00"), 4L), // back to free = NEW run
      ("u2", "paid", ts("2024-01-01 00:00:00"), 5L)
    ).toDF("user", "plan", "t", "id")
    val h = Scd.runHistory(events, col("user"), col("plan"), col("t"), col("id"))
      .orderBy("k", "run_id").collect()
    val u1 = h.filter(_.getString(0) == "u1")
    assert(u1.map(r => (r.getLong(1), r.getString(2), r.getLong(5))).toSeq ==
      Seq((1L, "free", 2L), (2L, "paid", 1L), (3L, "free", 1L)))
    // interval chaining: run N's valid_to == run N+1's valid_from; last open
    assert(u1(0).getTimestamp(6) == u1(1).getTimestamp(3))
    assert(u1(1).getTimestamp(6) == u1(2).getTimestamp(3))
    assert(u1(2).isNullAt(6))
    val u2 = h.filter(_.getString(0) == "u2")
    assert(u2.length == 1 && u2.head.isNullAt(6))
  }

  test("runHistory: null states participate via the null-safe compare") {
    val events = Seq(
      ("u", Option.empty[String], ts("2024-01-01 00:00:00"), 1L),
      ("u", Option.empty[String], ts("2024-01-02 00:00:00"), 2L),
      ("u", Option("x"), ts("2024-01-03 00:00:00"), 3L)
    ).toDF("user", "plan", "t", "id")
    val h = Scd.runHistory(events, col("user"), col("plan"), col("t"), col("id"))
      .orderBy("run_id").collect()
    // two NULLs are ONE run (null-safe equality), then the x run
    assert(h.length == 2)
    assert(h(0).isNullAt(2) && h(0).getLong(5) == 2L)
    assert(h(1).getString(2) == "x")
  }

  test("upsert: matched keys replaced, new keys appended, others untouched") {
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("k", "name", "v")
    val got = Layout.upsert(base, updates, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)))
  }

  test("mergeIntoParquet: versioned table converges and retains history") {
    val dir = tempDir("merge-tbl").toString
    val v1 = Layout.mergeIntoParquet(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"), Seq("k"))
    assert(v1 == 1)
    val v2 = Layout.mergeIntoParquet(spark, dir,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "name"), Seq("k"))
    assert(v2 == 2)
    val latest = Layout.latestVersion(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(latest.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // prior version intact (rollback/time-travel until vacuumed)
    val prior = spark.read.parquet(s"$dir/v1")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(prior.toSeq == Seq((1L, "a"), (2L, "b")))
  }
}
