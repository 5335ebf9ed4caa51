package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: quadrants occupy disjoint contiguous ranges") {
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = grid.select(col("x"), col("y"),
        Layout.zValue(col("x"), col("y"), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(z.map(_._3).distinct.length == 256) // bijective on the grid
    def range(p: ((Long, Long, Long)) => Boolean) = {
      val zs = z.filter(p).map(_._3); (zs.min, zs.max)
    }
    assert(range(t => t._1 < 8 && t._2 < 8) == (0L, 63L))
    assert(range(t => t._1 >= 8 && t._2 < 8) == (64L, 127L))
    assert(range(t => t._1 < 8 && t._2 >= 8) == (128L, 191L))
    assert(range(t => t._1 >= 8 && t._2 >= 8) == (192L, 255L))
  }

  test("compactParquet rewrites a splintered directory into right-sized files") {
    val dir = tempDir("graft_compact").toString
    (1L to 10000L).toDF("id").withColumn("payload", lpad(col("id").cast("string"), 64, "x"))
      .repartition(64).write.parquet(s"$dir/in") // 64 splinter files
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/in") == 64)
    val inBytes = Layout.dirBytes(spark, s"$dir/in")
    val parts = Layout.compactParquet(spark, s"$dir/in", s"$dir/out", targetBytes = inBytes / 4)
    assert(parts >= 4 && parts <= 5)
    assert(parquetFiles(s"$dir/out") == parts)
    // data survives byte-for-byte
    val a = spark.read.parquet(s"$dir/in").orderBy("id").collect()
    val b = spark.read.parquet(s"$dir/out").orderBy("id").collect()
    assert(a.sameElements(b))
  }

  test("shuffleShards: balanced permutation, order decorrelated, growth-stable") {
    val df = (1L to 800L).toDF("id")
    val out = Layout.shuffleShards(df, col("id"), nShards = 8)
      .select("id", "shard", "shard_pos").as[(Long, Int, Int)].collect()
    // a permutation: every row placed once, positions contiguous per shard
    assert(out.length == 800)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length))
    }
    // roughly balanced shards (hash uniformity, generous tolerance)
    assert(out.groupBy(_._2).values.forall(g => g.length > 60 && g.length < 140))
    // decorrelated from ingestion order: within a shard, consecutive
    // positions are not consecutive ids (a sorted-by-id order would be)
    val shard0 = out.filter(_._2 == 0).sortBy(_._3).map(_._1)
    assert(shard0.sliding(2).count(p => p(1) == p(0) + 1) < shard0.length / 4)
    // growth-stable: appending rows never moves an existing row's shard
    val grown = Layout.shuffleShards((1L to 1600L).toDF("id"), col("id"), 8)
      .select("id", "shard").as[(Long, Int)].collect().toMap
    assert(out.forall { case (id, shard, _) => grown(id) == shard })
  }

  test("clusterByZ groups both axes: leading rows are exactly the low quadrant") {
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val sorted = Layout.clusterByZ(grid, col("x"), col("y"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // after z-sort, the first 64 rows are precisely the (x<8, y<8) quadrant —
    // a linear sort that a single-column order cannot achieve for both axes
    assert(sorted.take(64).forall { case (x, y) => x < 8 && y < 8 })
    assert(sorted.takeRight(64).forall { case (x, y) => x >= 8 && y >= 8 })
  }

  test("snapshotDiff classifies added / removed / changed / unchanged") {
    import org.apache.spark.sql.functions.col
    val a = Seq((1L, "fA"), (2L, "fB"), (3L, "fC")).toDF("doc_id", "fp")
    val b = Seq((2L, "fB"), (3L, "fC2"), (4L, "fD")).toDF("doc_id", "fp")
    val got = Layout.snapshotDiff(a, b, "doc_id")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // id survives the full-outer join on BOTH unmatched sides
    assert(Layout.snapshotDiff(a, b, "doc_id").filter(col("id").isNull).count() == 0)
  }
}
