package graft

/**
 * Interleaved spot bench — the verdict-r11 item-1 tracking tool,
 * generalized in r13 (verdict-r12 item 1b) to take an ARBITRARY row list.
 * The reference's flagship rows (`flight_route_stats`/`flight_airline_stats`)
 * wandered 2.1→3.2 s across r11's full-bench runs while parse/hourly held
 * flat; adjudicating that from full-bench artifacts is hopeless because a
 * row gets exactly 2 samples there and the bench itself drives loadavg
 * to ~10, so a co-tenant or GC burst landing on both samples of ONE row
 * reads as one-directional drift.
 *
 * This main measures a row family properly:
 *  - INTERLEAVED rounds (round-robin over the family, not N back-to-back
 *    runs per row) — a contention burst degrades one ROUND for every row
 *    equally instead of one row's whole sample set;
 *  - a full-family warmup pass first (JIT + parquet footers; isolated
 *    cold runs measure the JVM, not the plan — r12 finding: an isolated
 *    min-of-5 still ran the whole family ~25% above full-bench numbers);
 *  - per-row min/median/max over `SPOT_ROUNDS` (default 7) rounds, plus
 *    each row's median RATIO TO THE ANCHOR (the first row in the list) —
 *    the plan-drift signal. Ratios are stable under environment shifts
 *    (everything slows together); a plan regression moves one row's
 *    ratio alone. Pick a cheap, plan-stable anchor (`flight_parse` for
 *    the flight family; a light projection row for heavy-row sampling).
 *
 * Usage: `sbt "runMain graft.FlightSpotBench [row ...]"` — no args runs
 * the flight family with the r12-pinned `flight_parse` anchor.
 * One JSON line on stdout (and SPOT_OUT, default flight_spot_last.json).
 */
object FlightSpotBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = math.max(3, sys.env.getOrElse("SPOT_ROUNDS", "7").toInt)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val defaultFam = Seq("flight_parse", "flight_delayed", "flight_notifications",
      "flight_reject_stats", "flight_airline_stats", "flight_route_stats",
      "flight_hourly_stats")
    val fam = if (args.isEmpty) defaultFam else args.toSeq
    val unknown = fam.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown catalog rows: ${unknown.mkString(", ")}")
    val anchor = fam.head
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    // full-family warmup pass, untimed
    fam.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
    val samples = fam.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    for (_ <- 1 to rounds; n <- fam) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      samples(n) += (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val anchorMed = med(samples(anchor).toSeq)
    val rows = fam.map { n =>
      val xs = samples(n).toSeq
      f"""\"$n\":{\"min\":${xs.min}%.3f,\"med\":${med(xs)}%.3f,\"max\":${xs.max}%.3f,\"ratio_to_anchor\":${med(xs) / anchorMed}%.3f}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"spot_bench","anchor":"$anchor","rounds":$rounds,"rows":$rows,""" +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadAvg,"sf":"$sfDir"}"""
    println(line)
    val outFile = sys.env.getOrElse("SPOT_OUT", "flight_spot_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[spot] WARNING: could not write $outFile: $e")
    }
    spark.stop()
  }
}
