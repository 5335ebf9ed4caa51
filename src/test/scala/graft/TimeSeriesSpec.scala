package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

/**
 * Hand-series checks for SAX motif discovery (corpus-scale output is
 * oracle-gated by `events_sax_motifs`): shape-not-level matching, the
 * trivial-match exclusion, flat-window stability, and hot-word hygiene.
 */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  /** One reading per second starting at t=0 for each (key, series). */
  private def df(series: Map[Long, Seq[Double]]) =
    series.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) =>
        (k, i.toLong, new Timestamp(i * 1000L), v)
      }
    }.toDF("key", "tie", "ts", "value")

  private def motifs(series: Map[Long, Seq[Double]], maxWordSize: Int = 256)
      : Set[(Long, Long, Long, Long, Int)] =
    TimeSeries.saxMotifs(df(series), col("key"), col("ts"), col("tie"),
        col("value"), windowLen = 4, segments = 2, alphabet = 4,
        quantScale = 10L, shapeScale = 100L, minSeparation = 4,
        maxWordSize = maxWordSize, maxL1 = 10L)
      .select(col("key_a"), col("start_a"), col("key_b"), col("start_b"),
        col("is_motif"))
      .as[(Long, Long, Long, Long, Int)].collect().toSet

  test("saxMotifs: the same shape at a different LEVEL matches (min-max symbols)") {
    // rising-then-flat shape at level ~1 and level ~100: per-window
    // normalization makes them the same word and l1 = 0
    val got = motifs(Map(
      1L -> Seq(1.0, 1.0, 5.0, 5.0),
      2L -> Seq(100.0, 100.0, 500.0, 500.0)))
    assert(got == Set((1L, 1L, 2L, 1L, 1)))
  }

  test("saxMotifs: different shapes share no word") {
    val got = motifs(Map(
      1L -> Seq(1.0, 1.0, 5.0, 5.0),    // rising
      2L -> Seq(5.0, 5.0, 1.0, 1.0)))   // falling
    assert(got.isEmpty)
  }

  test("saxMotifs: trivial same-series overlaps are excluded, separated repeats match") {
    // series repeats its shape at start 1 and start 9 (separation 8 >= 4);
    // intermediate overlapping windows of the periodic middle also repeat —
    // every reported same-key pair must respect the separation rule
    val wave = Seq(1.0, 1.0, 5.0, 5.0, 1.0, 1.0, 5.0, 5.0, 1.0, 1.0, 5.0, 5.0)
    val got = motifs(Map(1L -> wave))
    assert(got.nonEmpty)
    assert(got.forall { case (_, sa, _, sb, _) => sb - sa >= 4 })
    assert(got.contains((1L, 1L, 1L, 9L, 1)))
  }

  test("saxMotifs: flat windows are stable; hot words drop") {
    // all-constant series: hi == lo, symbols all 0, no crash; two flat
    // series match each other
    val flat = motifs(Map(1L -> Seq(3.0, 3.0, 3.0, 3.0),
      2L -> Seq(7.0, 7.0, 7.0, 7.0)))
    assert(flat == Set((1L, 1L, 2L, 1L, 1)))
    // with maxWordSize 1 every shared word is hot -> nothing pairs
    assert(motifs(Map(1L -> Seq(3.0, 3.0, 3.0, 3.0),
      2L -> Seq(7.0, 7.0, 7.0, 7.0)), maxWordSize = 1).isEmpty)
  }

  /** (key, win_start, is_hot_word, n_cands, nn_l1, is_discord) rows. */
  private def discords(series: Map[Long, Seq[Double]], maxWordSize: Int = 256,
      minL1: Long = 10L)
      : Set[(Long, Long, Int, Option[Long], Option[Long], Int)] =
    TimeSeries.saxDiscords(df(series), col("key"), col("ts"), col("tie"),
        col("value"), windowLen = 4, segments = 2, alphabet = 4,
        quantScale = 10L, shapeScale = 100L, minSeparation = 4,
        maxWordSize = maxWordSize, minL1 = minL1)
      .select(col("key"), col("win_start"), col("is_hot_word"),
        col("n_cands"), col("nn_l1"), col("is_discord"))
      .as[(Long, Long, Int, Option[Long], Option[Long], Int)]
      .collect().toSet

  test("saxDiscords: a window with no same-word neighbor is a discord") {
    val got = discords(Map(
      1L -> Seq(1.0, 1.0, 5.0, 5.0),    // rising — alone in its word
      2L -> Seq(5.0, 5.0, 1.0, 1.0)))   // falling — alone in its word
    assert(got == Set((1L, 1L, 0, Some(0L), None, 1),
      (2L, 1L, 0, Some(0L), None, 1)))
  }

  test("saxDiscords: a close neighbor suppresses the discord flag") {
    val got = discords(Map(
      1L -> Seq(1.0, 1.0, 5.0, 5.0),
      2L -> Seq(1.0, 1.0, 5.0, 5.0)))   // identical shape -> nn_l1 = 0
    assert(got == Set((1L, 1L, 0, Some(1L), Some(0L), 0),
      (2L, 1L, 0, Some(1L), Some(0L), 0)))
  }

  test("saxDiscords: a far same-word neighbor still flags at minL1") {
    // 3 segments (2-segment windows are degenerate after min-max: lo->0,
    // hi->top always): same coarse word "0,1,3", middle segment fine shape
    // differs -> paired (n_cands = 1), nn_l1 = 17, so minL1 10 flags both
    val got = TimeSeries.saxDiscords(df(Map(
        1L -> Seq(1.0, 1.0, 3.0, 3.0, 5.0, 5.0),
        2L -> Seq(1.0, 1.0, 2.3, 2.3, 5.0, 5.0))),
        col("key"), col("ts"), col("tie"), col("value"),
        windowLen = 6, segments = 3, alphabet = 4, quantScale = 10L,
        shapeScale = 100L, minSeparation = 6, maxWordSize = 256, minL1 = 10L)
      .select(col("key"), col("win_start"), col("is_hot_word"),
        col("n_cands"), col("nn_l1"), col("is_discord"))
      .as[(Long, Long, Int, Option[Long], Option[Long], Int)]
      .collect().toSet
    assert(got == Set((1L, 1L, 0, Some(1L), Some(17L), 1),
      (2L, 1L, 0, Some(1L), Some(17L), 1)), s"got: $got")
  }

  test("seasonalAnomalies: exact residual vs the phase norm; flag at tau") {
    // key 1, phase 0: values 10, 10, 40 -> qv 100,100,400; sum 600, cnt 3;
    // resid_scaled = qv*3 - 600 = -300, -300, +600; tau 150 flags only the 400
    val df = Seq((1L, 10L, 0, 10.0), (1L, 11L, 0, 10.0), (1L, 12L, 0, 40.0),
        (1L, 13L, 1, 10.0))
      .toDF("key", "id", "phase", "value")
    val got = TimeSeries.seasonalAnomalies(df, col("key"), col("id"),
        col("phase"), col("value"), quantScale = 10L, tauScaled = 150L)
      .select(col("id"), col("resid_scaled"), col("s_cnt"), col("is_anomaly"))
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == Set((10L, -300L, 3L, 0), (11L, -300L, 3L, 0),
      (12L, 600L, 3L, 1), (13L, 0L, 1L, 0)))
  }

  test("scoreAgainstProfile: a reading with no profile cell survives, unscored") {
    // profile trained without key 2: its reading must NOT be dropped
    // (inner-join regression, r14 self-review) — it comes back with null
    // residual/count/verdict, the explicit cold-start signal
    val hist = Seq((1L, 10L, 0, 10.0)).toDF("key", "id", "phase", "value")
    val live = Seq((1L, 20L, 0, 10.0), (2L, 21L, 0, 99.0))
      .toDF("key", "id", "phase", "value")
    val profile = TimeSeries.seasonalProfile(hist, col("key"), col("phase"),
      col("value"), quantScale = 10L)
    val got = TimeSeries.scoreAgainstProfile(live, profile, col("key"),
        col("id"), col("phase"), col("value"), quantScale = 10L,
        tauScaled = 150L)
      .select(col("id"), col("s_cnt"), col("is_anomaly"))
      .as[(Long, Option[Long], Option[Int])].collect().toSet
    assert(got == Set((20L, Some(1L), Some(0)), (21L, None, None)), s"got $got")
  }

  test("saxDiscords: hot-word windows are non-discord without pairing") {
    val got = discords(Map(
      1L -> Seq(3.0, 3.0, 3.0, 3.0),
      2L -> Seq(7.0, 7.0, 7.0, 7.0)), maxWordSize = 1)
    assert(got == Set((1L, 1L, 1, None, None, 0),
      (2L, 1L, 1, None, None, 0)))
  }

  test("cusumChangepoints: a level shift accumulates past h; noise inside slack never flags") {
    // series: 5 readings at 10, then 5 at 14 — baseline mean 12.
    // quantScale 10: qv 100.. / mean 120, cnt 10. slack 10 (1.0 units):
    // d_up for a 14-reading = (140·10 − 1200) − 10·10 = 100 per row; the
    // up-side CUSUM reaches 500 by the last row and crosses h·cnt at
    // h = 30 (300·10 = 3000 < 500·10? careful: cusum units are quant·cnt).
    val series = df(Map(1L -> (Seq.fill(5)(10.0) ++ Seq.fill(5)(14.0))))
    val prof = TimeSeries.keyProfile(series, col("key"), col("value"), 10L)
    val got = TimeSeries.cusumChangepoints(series, prof, col("key"),
        col("tie"), col("ts"), col("tie"), col("value"), quantScale = 10L,
        slackScaled = 10L, hScaled = 30L)
      .select(col("id"), col("cusum_up"), col("is_shift_up"),
        col("is_shift_dn"))
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1)
    // low-phase rows: d_up = (100·10 − 1200) − 100 = −300 each → cusum 0
    assert(got.take(5).forall(r => r._2 == 0L && r._3 == 0))
    // high-phase rows accumulate d_up = 100 each: 100, 200, ..., 500;
    // h·cnt = 30·10 = 300 → rows 4 and 5 of the high phase flag
    assert(got.drop(5).map(_._2).toSeq == Seq(100L, 200L, 300L, 400L, 500L))
    assert(got.drop(5).map(_._3).toSeq == Seq(0, 0, 0, 1, 1))
    // the DOWN side mirrors on the low phase (both phases sit off the
    // global mean 12: low is −2/reading beyond the slack) and must drain
    // to zero once the high phase pulls the prefix sum down
    assert(got.map(_._4).toSeq == Seq(0, 0, 0, 1, 1, 0, 0, 0, 0, 0))
  }

  test("cusumChangepoints: the CUSUM resets after a dip (max(0, S+d) closed form)") {
    // one huge low reading between normals: the down-side prefix sum dips
    // then recovers — the min-floor must reset S to the post-dip excess,
    // not let the dip linger as a negative credit... and vice versa: the
    // up side must not pay the dip before accumulating
    val series = df(Map(1L -> Seq(10.0, 10.0, 0.0, 10.0, 10.0)))
    val prof = TimeSeries.keyProfile(series, col("key"), col("value"), 10L)
    val got = TimeSeries.cusumChangepoints(series, prof, col("key"),
        col("tie"), col("ts"), col("tie"), col("value"), quantScale = 10L,
        slackScaled = 5L, hScaled = 1000L)
      .select(col("id"), col("cusum_up"), col("cusum_dn"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // mean = 8.0 (qv mean 80, cnt 5). normal rows: d_up = (100·5−400) −25
    // = 75; dip row: d_up = (0−400) − 25 = −425 → S_up: 75,150,0,75,150
    assert(got.map(_._2).toSeq == Seq(75L, 150L, 0L, 75L, 150L))
    // d_dn normal = (400−500) − 25 = −125; dip = 400 − 25 = 375 →
    // S_dn: 0, 0, 375, 250, 125
    assert(got.map(_._3).toSeq == Seq(0L, 0L, 375L, 250L, 125L))
  }

  test("cusumStream: batch parity against the persisted profile, split micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val series = df(Map(1L -> (Seq.fill(4)(10.0) ++ Seq.fill(4)(14.0)),
      2L -> Seq(5.0, 5.0, 5.0, 5.0)))
    val prof = TimeSeries.keyProfile(series, col("key"), col("value"), 10L)
    val expected = TimeSeries.cusumChangepoints(series, prof, col("key"),
        col("tie"), col("ts"), col("tie"), col("value"), quantScale = 10L,
        slackScaled = 10L, hScaled = 20L)
      .select(col("key"), col("id"), col("cusum_up"), col("is_shift_up"))
      .as[(Long, Long, Long, Int)].collect().toSet
    val rows = series.select(col("key"), col("tie"),
        expr("unix_micros(ts) div 1000000").as("sec"), col("value"))
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._3, r._2))
    val input = MemoryStream[(Long, Long, Long, Double)]
    val stream = StatefulOps.cusumStream(
      input.toDF().toDF("key", "tie", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      prof, "key", "ts", "tie", "value", quantScale = 10L,
      slackScaled = 10L, hScaled = 20L)
    val q = stream.writeStream.format("memory").queryName("cusum_out")
      .option("checkpointLocation",
        tempDir("cusum-cp").toString)
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(5)
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("cusum_out")
        .select(col("key"), col("id"), col("cusum_up"), col("is_shift_up"))
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(got == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("decompose: exact trend/seasonal/residual identities; edges stay null") {
    // spike series 10,10,40,10,10 (quant 1): a centered window-3 trend is
    // flat 20 on the interior, so d = (qv − 20)·3; phase = tie % 2 gives
    // the spike its own seasonal cell and every residual collapses to 0
    val series = df(Map(1L -> Seq(10.0, 10.0, 40.0, 10.0, 10.0)))
    val got = TimeSeries.decompose(series, col("key"), col("tie"),
        col("ts"), col("tie"), (col("tie") % 2).cast("int"), col("value"),
        window = 3, quantScale = 1L)
      .select(col("id"), col("trend_num"), col("d_scaled"), col("s_cnt"),
        col("resid_scaled"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    // edge rows: no full window -> null trend, null detrended, null resid
    assert(got(0) == ((0L, None, None, Some(1L), None)))
    assert(got(4) == ((4L, None, None, Some(1L), None)))
    // interior: t_num = 60 everywhere; d = qv·3 − 60
    assert(got(1) == ((1L, Some(60L), Some(-30L), Some(2L), Some(0L))))
    assert(got(2) == ((2L, Some(60L), Some(60L), Some(1L), Some(0L))))
    assert(got(3) == ((3L, Some(60L), Some(-30L), Some(2L), Some(0L))))
    // a key too short for ANY full window: everything null but the rows
    // SURVIVE (undecomposable, not dropped) — with no interior rows the
    // seasonal cell is absent too
    val tiny = df(Map(2L -> Seq(7.0, 7.0)))
    val t2 = TimeSeries.decompose(tiny, col("key"), col("tie"), col("ts"),
        col("tie"), lit(0), col("value"), window = 3, quantScale = 1L)
      .select(col("trend_num"), col("s_cnt"))
      .as[(Option[Long], Option[Long])].collect()
    assert(t2.length == 2 && t2.forall(_ == ((None, None))))
  }

  test("forecastRolling: a perfectly linear series forecasts itself exactly") {
    // values 1..12 (quant 1): every trailing-8 window is the line y = i,
    // so OLS reproduces it and the one-step forecast IS the next value —
    // fc_num = qv·336, err 0; rows with < 8 prior readings stay null
    val series = df(Map(1L -> (1 to 12).map(_.toDouble)))
    val got = TimeSeries.forecastRolling(series, col("key"), col("tie"),
        col("ts"), col("tie"), col("value"), window = 8, quantScale = 1L)
      .select(col("id"), col("qv"), col("fc_num"), col("err_scaled"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(got.take(8).forall(r => r._3.isEmpty && r._4.isEmpty))
    got.drop(8).foreach { case (_, qv, fc, err) =>
      assert(fc.contains(qv * 336L) && err.contains(0L))
    }
  }

  test("forecastBacktest: linear series MASE 0; flat series mase null") {
    val series = df(Map(
      1L -> (1 to 12).map(_.toDouble),      // linear: forecast exact
      2L -> Seq.fill(12)(7.0)))             // flat: naive walk is flat too
    val got = TimeSeries.forecastBacktest(series, col("key"), col("tie"),
        col("ts"), col("tie"), col("value"), window = 8, quantScale = 1L)
      .select(col("key"), col("n_eval"), col("sae_fc_scaled"),
        col("sae_naive"), col("mase"))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 0L, 4L, Some(0.0))))
    assert(got(2L) == ((2L, 4L, 0L, 0L, None)))
  }

  test("trendProfile + forecastAgainstProfile: exact line, extrapolation, n<2 verdict") {
    // history 1..10, lastN 4 retains (7,8,9,10) at i = 1..4:
    // n=4, s_y=34, s_iy=90 → den 20, slope_num 20 (slope 1),
    // int_num 120 (intercept 6) — the line y = 6 + i
    val hist = df(Map(1L -> (1 to 10).map(_.toDouble)))
    val prof = TimeSeries.trendProfile(hist, col("key"), col("ts"),
      col("tie"), col("value"), lastN = 4, quantScale = 1L)
    assert(prof.as[(Long, Long, Long, Long)].collect().toSet ==
      Set((1L, 4L, 34L, 90L)))
    // arrivals h=1 (value 11: on the line), h=2 (value 14: off by 2)
    val live = Seq((1L, 100L, 1L, 11.0), (1L, 101L, 2L, 14.0))
      .toDF("key", "id", "h", "value")
    val got = TimeSeries.forecastAgainstProfile(live, prof, col("key"),
        col("id"), col("h"), col("value"), quantScale = 1L, tauScaled = 1L)
      .select(col("id"), col("den"), col("fc_num"), col("err_scaled"),
        col("is_surprise"))
      .as[(Long, Option[Long], Option[Long], Option[Long], Option[Int])]
      .collect().sortBy(_._1)
    assert(got(0) == ((100L, Some(20L), Some(220L), Some(0L), Some(0))))
    // fc at h=2: 120 + 20·6 = 240 (value 12); actual 14 → err 40 > 1·20
    assert(got(1) == ((101L, Some(20L), Some(240L), Some(40L), Some(1))))
    // a one-reading artifact can't hold a line: null verdicts, row kept
    val tinyProf = TimeSeries.trendProfile(df(Map(2L -> Seq(5.0))),
      col("key"), col("ts"), col("tie"), col("value"), lastN = 4, 1L)
    val t2 = TimeSeries.forecastAgainstProfile(
        Seq((2L, 200L, 1L, 5.0)).toDF("key", "id", "h", "value"),
        tinyProf, col("key"), col("id"), col("h"), col("value"), 1L, 1L)
      .select(col("den"), col("fc_num"), col("is_surprise"))
      .as[(Option[Long], Option[Long], Option[Int])].collect()
    assert(t2.toSeq == Seq((None, None, None)))
  }

  test("forecastScoreStream: batch parity against the persisted artifact, split micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val hist = df(Map(1L -> (1 to 10).map(_.toDouble),
      2L -> Seq(4.0, 4.0, 4.0, 4.0)))
    val prof = TimeSeries.trendProfile(hist, col("key"), col("ts"),
      col("tie"), col("value"), lastN = 4, quantScale = 10L)
    // live arrivals, h by per-key arrival order
    val live = Seq((1L, 100L, 1L, 11.0), (1L, 101L, 2L, 14.0),
      (2L, 102L, 1L, 4.0), (1L, 103L, 3L, 12.6), (2L, 104L, 2L, 9.9))
    val expected = TimeSeries.forecastAgainstProfile(
        live.toDF("key", "id", "h", "value"), prof, col("key"), col("id"),
        col("h"), col("value"), quantScale = 10L, tauScaled = 5L)
      .select(col("key"), col("id"), col("h"), col("fc_num"),
        col("err_scaled"), col("is_surprise"))
      .as[(Long, Long, Long, Long, Long, Int)].collect().toSet
    val input = MemoryStream[(Long, Long, Long, Double)]
    val stream = StatefulOps.forecastScoreStream(
      input.toDF().toDF("key", "tie", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      prof, "key", "ts", "tie", "value", quantScale = 10L, tauScaled = 5L)
    val q = stream.writeStream.format("memory").queryName("fc_out")
      .option("checkpointLocation",
        tempDir("fc-cp").toString)
      .outputMode("append").start()
    try {
      // arrival order encodes h: feed in (id) order with ts = id
      val rows = live.map { case (k, id, _, v) => (k, id, id, v) }
      val (b1, b2) = rows.splitAt(3)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("fc_out")
        .select(col("key"), col("id"), col("h"), col("fc_num"),
          col("err_scaled"), col("is_surprise"))
        .as[(Long, Long, Long, Long, Long, Int)].collect().toSet
      assert(got == expected && expected.nonEmpty, s"got $got\nexp $expected")
    } finally q.stop()
  }

  test("forecastScoreStream: seeded resume — tail-only replay scores at the batch horizons") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val hist = df(Map(1L -> (1 to 10).map(_.toDouble),
      2L -> Seq(4.0, 4.0, 4.0, 4.0), 3L -> Seq(2.0, 4.0, 6.0, 8.0)))
    val prof = TimeSeries.trendProfile(hist, col("key"), col("ts"),
      col("tie"), col("value"), lastN = 4, quantScale = 10L)
    // the full post-training history (h = per-key arrival order)...
    val live = Seq((1L, 100L, 1L, 11.0), (1L, 101L, 2L, 14.0),
      (2L, 102L, 1L, 4.0), (1L, 103L, 3L, 12.6), (2L, 104L, 2L, 9.9),
      (3L, 105L, 1L, 10.0), (1L, 106L, 4L, 13.0))
    val expectedAll = TimeSeries.forecastAgainstProfile(
        live.toDF("key", "id", "h", "value"), prof, col("key"), col("id"),
        col("h"), col("value"), quantScale = 10L, tauScaled = 5L)
      .select(col("key"), col("id"), col("h"), col("fc_num"),
        col("err_scaled"), col("is_surprise"))
      .as[(Long, Long, Long, Long, Long, Int)].collect().toSet
    // ...of which the first three arrivals were scored BEFORE a restart:
    // the stream replays only the tail, seeded with the per-key counts
    // already consumed (key 1 → 2, key 2 → 1; key 3 absent → fresh 0)
    val tail = live.drop(3)
    val expected = expectedAll.filter(r => tail.exists(_._2 == r._2))
    assert(expected.size == 4 && expected.exists(_._1 == 3L))
    val seed = Seq((1L, 2L), (2L, 1L)).toDF("k", "h0")
    val input = MemoryStream[(Long, Long, Long, Double)]
    val stream = StatefulOps.forecastScoreStream(
      input.toDF().toDF("key", "tie", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      prof, "key", "ts", "tie", "value", quantScale = 10L, tauScaled = 5L,
      seed = Some(seed))
    val q = stream.writeStream.format("memory").queryName("fc_seed_out")
      .option("checkpointLocation",
        tempDir("fcseed-cp").toString)
      .outputMode("append").start()
    try {
      val rows = tail.map { case (k, id, _, v) => (k, id, id, v) }
      // split so a seeded key crosses a micro-batch boundary — the
      // checkpointed counter must win over the seed from batch 2 on
      val (b1, b2) = rows.splitAt(1)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("fc_seed_out")
        .select(col("key"), col("id"), col("h"), col("fc_num"),
          col("err_scaled"), col("is_surprise"))
        .as[(Long, Long, Long, Long, Long, Int)].collect().toSet
      assert(got == expected, s"got $got\nexp $expected")
    } finally q.stop()
  }

  test("cusumPeakStream: the last emission per (key, side) is the batch argmax peak") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    implicit val sqlCtx = spark.sqlContext
    val series = df(Map(1L -> (Seq.fill(4)(10.0) ++ Seq.fill(4)(14.0)),
      2L -> Seq(5.0, 5.0, 5.0, 5.0)))
    val prof = TimeSeries.keyProfile(series, col("key"), col("value"), 10L)
    // batch peaks: flagged rows' max cusum per (key, side), earliest tie
    val scored = TimeSeries.cusumChangepoints(series, prof, col("key"),
        col("tie"), col("ts"), col("tie"), col("value"), quantScale = 10L,
        slackScaled = 10L, hScaled = 20L)
      .select(col("key"), col("id"), col("cusum_up"), col("cusum_dn"),
        col("is_shift_up"), col("is_shift_dn"))
      .as[(Long, Long, Long, Long, Int, Int)].collect()
    def batchPeak(side: String) = scored
      .filter(r => (if (side == "up") r._5 else r._6) == 1)
      .groupBy(_._1).map { case (k, rs) =>
        val best = rs.map(r => (if (side == "up") r._3 else r._4, r._2))
          .sortBy { case (c, id) => (-c, id) }.head
        (k, side, best._2, best._1)
      }.toSet
    val expected = batchPeak("up") ++ batchPeak("dn")
    val rows = series.select(col("key"), col("tie"),
        expr("unix_micros(ts) div 1000000").as("sec"), col("value"))
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._3, r._2))
    val input = MemoryStream[(Long, Long, Long, Double)]
    val stream = StatefulOps.cusumPeakStream(
      input.toDF().toDF("key", "tie", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))),
      prof, "key", "ts", "tie", "value", quantScale = 10L,
      slackScaled = 10L, hScaled = 20L)
    val q = stream.writeStream.format("memory").queryName("peak_out")
      .option("checkpointLocation",
        tempDir("peak-cp").toString)
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(5)
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // emissions only ever improve, so the max-cusum emission per
      // (key, side) IS the final state — compare that against batch
      val got = spark.table("peak_out")
        .select(col("key"), col("side"), col("event_id"), col("cusum"))
        .as[(Long, String, Long, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (_, rs) =>
          rs.maxBy(_._4)
        }.toSet
      assert(got == expected && expected.nonEmpty, s"got $got\nexp $expected")
    } finally q.stop()
  }

  test("mergeProfiles: two epochs merged equal the whole-corpus profile") {
    val series = df(Map(1L -> Seq(1.0, 2.0, 3.0, 4.0),
      2L -> Seq(10.0, 20.0, 30.0, 40.0)))
    val phase = (col("tie") % 2).cast("int")
    val whole = TimeSeries.seasonalProfile(series, col("key"), phase,
        col("value"), 10L)
      .as[(Long, Int, Long, Long)].collect().toSet
    val epochA = series.filter(col("tie") < 2)
    val epochB = series.filter(col("tie") >= 2)
    val merged = TimeSeries.mergeProfiles(
        TimeSeries.seasonalProfile(epochA, col("key"), phase, col("value"), 10L),
        TimeSeries.seasonalProfile(epochB, col("key"), phase, col("value"), 10L))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(merged == whole && whole.nonEmpty)
  }
}
