package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.Analytics

class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val S = 1000000000L
  private val P = 10 * S

  /** One sample per 10 s window start → window mean == the value. */
  private def series(ch: String, vs: Seq[Double]): Seq[(String, Long, Double, String, Int, Int, Long)] =
    vs.zipWithIndex.map { case (v, i) =>
      (ch, i * P, v, "", 0, 0, (ch.hashCode.toLong << 20) + i)
    }

  private def frame(rows: Seq[(String, Long, Double, String, Int, Int, Long)]): DataFrame =
    rows.toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")

  test("correlatedChannels: affine +1, inverted -1, constant 0, ranked desc") {
    val base = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0)
    val df = frame(
      series("probe", base) ++
        series("affine", base.map(2 * _ + 1)) ++   // corr +1
        series("inv", base.map(10 - _)) ++          // corr -1
        series("flat", base.map(_ => 7.0)))         // zero variance → 0
    val got = Analytics.correlatedChannels(df, P, "probe").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq("affine", "flat", "inv"))
    val byCh = got.map(t => t._1 -> t._3).toMap
    assert(byCh("affine") == 1.0 && byCh("inv") == -1.0 && byCh("flat") == 0.0)
    // the final sample has zero-width validity (sample-and-hold ends
    // at the last ts), so its window never materializes: n = size - 1
    assert(got.forall(_._2 == base.size - 1))
  }

  test("histogram bins, clamps out-of-range values to edge bins, skips nulls") {
    val df = frame(series("c", Seq(-5.0, 0.0, 24.9, 25.0, 99.0, 250.0)))
      .union(frame(series("d", Seq(1.0))).withColumn("value",
        lit(null).cast("double")))
    val got = Analytics.histogram(df, bins = 4, lo = 0.0, hi = 100.0)
      .collect().map(r =>
        (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(!got.exists(_._1 == "d"), "null values must not produce bins")
    val bins = got.filter(_._1 == "c").map(t => t._2 -> t._4).toMap
    // -5 clamps to bin 0; 0, 24.9 in bin 0; 25 in bin 1; 99 in bin 3;
    // 250 clamps to bin 3
    assert(bins == Map(0 -> 3L, 1 -> 1L, 3 -> 2L))
    assert(got.filter(_._1 == "c").forall(t => t._3 == t._2 * 25.0))
  }

  test("lttb: keeps first/last points, middle buckets pick max-area, one row per non-empty bucket") {
    // 4 buckets of 10 s over [0, 40 s); two points per bucket so the
    // argmax has a choice. Bucket 1's spike (100) dominates any
    // triangle against flat neighbors; bucket 2 is flat so the tie
    // breaks to its earliest point.
    val df = frame(Seq(
      ("c", 0L * S, 1.0), ("c", 5L * S, 2.0),            // bucket 0
      ("c", 10L * S, 100.0), ("c", 15L * S, 1.0),        // bucket 1
      ("c", 20L * S, 1.0), ("c", 25L * S, 1.0),          // bucket 2
      ("c", 30L * S, 3.0), ("c", 39L * S, 4.0))          // bucket 3
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val got = Analytics.lttb(df, 0L, 40L * S, k = 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 4, "one pick per non-empty bucket")
    assert(got(0) == (0L, 0L, 1.0), "bucket 0 keeps its FIRST point")
    assert(got(1) == (1L, 10L * S, 100.0), "spike wins the area argmax")
    assert(got(2)._2 == 20L * S, "flat bucket ties break to earliest ts")
    assert(got(3) == (3L, 39L * S, 4.0), "last bucket keeps its LAST point")
  }

  test("lttb: null values dropped, empty buckets absent, missing neighbor falls back to first point") {
    val df = Seq(
      ("c", 1L * S, Option(5.0)),
      ("c", 11L * S, Option(7.0)),
      ("c", 12L * S, Option.empty[Double]), // null ignored
      ("c", 31L * S, Option(9.0)), ("c", 35L * S, Option(8.0)),
      // channel d starts at bucket 1 (bucket 0 empty): middle bucket 1
      // has NO previous non-empty neighbor → first-point fallback, even
      // though 17 s would win any area contest
      ("d", 12L * S, Option(1.0)), ("d", 17L * S, Option(50.0)),
      ("d", 21L * S, Option(2.0)))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) }
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    val got = Analytics.lttb(df, 0L, 40L * S, k = 4)
      .orderBy("channel", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.filter(_._1 == "c").map(_._2).toSeq == Seq(0L, 1L, 3L),
      "empty bucket absent, null-only sample never picked")
    assert(got.find(t => t._1 == "c" && t._2 == 3L).get._3 == 35L * S,
      "last bucket keeps its LAST point")
    assert(got.find(t => t._1 == "d" && t._2 == 1L).get._3 == 12L * S,
      "middle bucket without a previous neighbor keeps its first point")
  }

  test("valuePercentiles: interpolated quantiles, nulls and NaN excluded") {
    val df = frame(series("c", Seq(1.0, 2.0, 3.0, 4.0)))
      .union(frame(series("n", Seq(1.0)))
        .withColumn("value", lit(Double.NaN)))
    val got = Analytics.valuePercentiles(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(6)))
    assert(got.length == 1, "NaN-only channel excluded")
    // p50 of {1,2,3,4} interpolates to 2.5
    assert(got.head == (("c", 4L, 1.0, 2.5, 4.0)))
  }

  test("m4: first/min/max/last per bucket with earliest-ts extreme picks") {
    // one bucket of [0, 40 s); min value 1.0 occurs twice — the
    // EARLIEST occurrence must win both t_min and (for the max) t_max
    val df = frame(Seq(
      ("c", 0L * S, 5.0), ("c", 10L * S, 1.0), ("c", 20L * S, 9.0),
      ("c", 25L * S, 1.0), ("c", 30L * S, 9.0), ("c", 39L * S, 7.0))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val got = Analytics.m4(df, 0L, 40L * S, k = 1).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("t_first") == 0L && r.getAs[Double]("v_first") == 5.0)
    assert(r.getAs[Long]("t_min") == 10L * S && r.getAs[Double]("v_min") == 1.0,
      "duplicate min value resolves to the earliest ts")
    assert(r.getAs[Long]("t_max") == 20L * S && r.getAs[Double]("v_max") == 9.0,
      "duplicate max value resolves to the earliest ts")
    assert(r.getAs[Long]("t_last") == 39L * S && r.getAs[Double]("v_last") == 7.0)
  }

  test("m4: bucketing by integer div, nulls dropped, empty buckets absent") {
    val df = Seq(
      ("c", 0L * S, Option(1.0)), ("c", 9L * S, Option(3.0)),   // bucket 0
      ("c", 12L * S, Option.empty[Double]),                      // dropped
      ("c", 30L * S, Option(2.0)))                               // bucket 3
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) }
      .toDF("channel", "ts", "value", "str_value", "severity", "status",
        "sample_id")
    val got = Analytics.m4(df, 0L, 40L * S, k = 4)
      .orderBy("bucket").collect()
    assert(got.map(_.getAs[Long]("bucket")).toSeq == Seq(0L, 3L))
    assert(got(0).getAs[Double]("v_min") == 1.0 &&
      got(0).getAs[Double]("v_max") == 3.0)
    // single-point bucket: all four corners are the same point
    assert(got(1).getAs[Long]("t_first") == 30L * S &&
      got(1).getAs[Long]("t_min") == 30L * S &&
      got(1).getAs[Long]("t_max") == 30L * S &&
      got(1).getAs[Long]("t_last") == 30L * S)
  }

  test("m4/lttb bucket ids survive year-scale windows (no Long overflow)") {
    // (ts − lo)·k at a 2-year window × k=1000 is ~6.3e19 > 2⁶³: the
    // DECIMAL-routed bucket id must still land every sample in
    // [0, k) and keep the last sample in the last bucket
    val lo = 1704067200L * S
    val hi = lo + 2L * 365L * 86400L * S
    val df = frame(Seq(
      ("c", lo, 1.0), ("c", lo + (hi - lo) / 2, 2.0), ("c", hi - 1, 3.0))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val m = Analytics.m4(df, lo, hi, k = 1000).orderBy("bucket").collect()
      .map(_.getAs[Long]("bucket"))
    assert(m.toSeq == Seq(0L, 500L, 999L))
    val l = Analytics.lttb(df, lo, hi, k = 1000).orderBy("bucket").collect()
      .map(_.getAs[Long]("bucket"))
    assert(l.toSeq == Seq(0L, 500L, 999L))
  }

  test("m4: NaN bucket keeps the (t_max, v_max) pair consistent") {
    val df = frame(Seq(
      ("c", 0L, 5.0), ("c", 10L * S, Double.NaN), ("c", 20L * S, 7.0))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val r = Analytics.m4(df, 0L, 40L * S, k = 1).collect().head
    // Spark orders NaN greatest: max(value) = NaN, and the t_max pick
    // must name the SAME row (the earliest NaN), not a finite one
    assert(r.getAs[Double]("v_max").isNaN)
    assert(r.getAs[Long]("t_max") == 10L * S)
    // the min side ignores NaN as both engines do
    assert(r.getAs[Double]("v_min") == 5.0 && r.getAs[Long]("t_min") == 0L)
  }

  test("seasonalProfile: integer ns hour-of-day, DECIMAL-exact means") {
    val H = 3600L * S
    val df = frame(Seq(
      ("c", 3L * H, 1.0), ("c", 27L * H, 3.0),   // hour 3 on two days
      ("c", 5L * H + 7L * S, 10.0))               // hour 5
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val got = Analytics.seasonalProfile(df).orderBy("hour").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq((3, 2L, 2.0, 1.0, 3.0), (5, 1L, 10.0, 10.0, 10.0)))
  }

  test("seasonalAnomalies flags against the hour band, not the global mean") {
    val H = 3600L * S
    // hour 3 band: {10, 12, 11, 100} over four days — 100 is the
    // anomaly; hour 5 band is constant (σ = 0) → never flags, even
    // though its value differs wildly from the global mean
    val df = frame(Seq(
      ("c", 3L * H, 10.0), ("c", 27L * H, 12.0), ("c", 51L * H, 11.0),
      ("c", 75L * H, 100.0),
      ("c", 5L * H, 500.0), ("c", 29L * H, 500.0))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val got = Analytics.seasonalAnomalies(df, nSigma = 1.0).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_samples") == 6L)
    assert(r.getAs[Long]("n_anomalies") == 1L,
      "only the hour-3 outlier flags; the constant hour-5 band never does")
    assert(r.getAs[Long]("t_first_anomaly") == 75L * H)
  }

  test("thresholdCrossings: up/down counts, first/last up ts, hold-above time") {
    val S10 = 10L * S
    // values: 1 → 5 (up) → 5 → 1 (down) → 6 (up); threshold 4; window
    // caps at 50 s so the final sample holds 10 s above
    val df = frame(Seq(
      ("c", 0L, 1.0), ("c", S10, 5.0), ("c", 2 * S10, 5.0),
      ("c", 3 * S10, 1.0), ("c", 4 * S10, 6.0))
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, t) })
    val got = Analytics.thresholdCrossings(df, 0L, 5 * S10, 4.0).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_up") == 2L && r.getAs[Long]("n_down") == 1L)
    assert(r.getAs[Long]("t_first_up") == S10 &&
      r.getAs[Long]("t_last_up") == 4 * S10)
    // above: [10s,30s) + [40s,50s cap) = 30 s
    assert(r.getAs[Long]("above_ns") == 3 * S10)
    // the first sample has no predecessor: never a crossing
    assert(r.getAs[Long]("n_samples") == 5L)
  }

  test("waveformStats: element-wise stats over array vtypes only") {
    val df = Seq(
      ("w", "array_double", Seq(1.0, 10.0)),
      ("w", "array_double", Seq(3.0, 20.0, 7.0)),  // ragged: idx 2 n=1
      ("w", "scalar_double", Seq(99.0)),            // non-array: excluded
      ("x", "array_long", Seq(4.0)))
      .toDF("channel", "vtype", "arr_num")
    val got = Analytics.waveformStats(df)
      .orderBy("channel", "vtype", "idx").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("w", "array_double", 0, 2L, 2.0, 1.0, 3.0),
      ("w", "array_double", 1, 2L, 15.0, 10.0, 20.0),
      ("w", "array_double", 2, 1L, 7.0, 7.0, 7.0),
      ("x", "array_long", 0, 1L, 4.0, 4.0, 4.0)))
  }

  test("topMovers: ranks by exact quantized |mean shift|, single-half channels excluded") {
    val S10 = 10L * S
    // window [0, 40 s), mid = 20 s
    val df = frame(Seq(
      ("big", 0L, 1.0), ("big", S10, 1.0),
      ("big", 2 * S10, 9.0), ("big", 3 * S10, 9.0),      // Δ = +8
      ("small", 0L, 5.0), ("small", 2 * S10, 4.0),       // Δ = -1
      ("only_a", 0L, 3.0))                                // one half only
      .map { case (ch, t, v) => (ch, t, v, "", 0, 0, (ch + t).hashCode.toLong) })
    val got = Analytics.topMovers(df, 0L, 4 * S10, k = 5).collect()
      .map(r => (r.getString(0), r.getAs[Double]("mean_a"),
        r.getAs[Double]("mean_b"), r.getAs[Double]("delta")))
    assert(got.map(_._1).toSeq == Seq("big", "small"),
      "ranked by |delta| desc; single-half channel excluded")
    assert(got(0) == (("big", 1.0, 9.0, 8.0)))
    assert(got(1) == (("small", 5.0, 4.0, -1.0)))
  }

  test("alarmStats: dwell times sample-and-hold to hi, entries count transitions") {
    val S10 = 10L * S
    val df = frame(Seq(
      ("c", 0L, 0), ("c", S10, 2), ("c", 2 * S10, 2), ("c", 3 * S10, 0))
      .map { case (ch, t, sev) => (ch, t, 1.0, "", sev, 0, t) })
    val got = Analytics.alarmStats(df, 0L, 5 * S10)
      .orderBy("severity").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // sev 0: [0,10s) + [30s,50s cap) = 30 s over 2 entries;
    // sev 2: [10s,30s) = 20 s over ONE entry (no transition inside)
    assert(got.toSeq == Seq((0, 3 * S10, 2L, 2L), (2, 2 * S10, 1L, 2L)))
  }

  test("derivedChannel: pointwise combine of held values, undefined until both inputs exist") {
    // grid every 10 s over [0, 40 s]; b starts at 20 s so the first
    // two grid points are undefined (calc records need every input)
    val df = frame(
      Seq(("a", 0L, 10.0), ("a", 15 * S, 20.0),
          ("b", 20 * S, 3.0), ("b", 30 * S, 4.0))
        .map { case (ch, t, v) => (ch, t, v, "", 0, 0, (ch + t).hashCode.toLong) })
    val got = Analytics.derivedChannel(df, "calc:a-b", "a", "b",
      _ - _, 0L, 40 * S, P).orderBy("ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall(_._1 == "calc:a-b"))
    // t=20: a holds 20 (from 15 s), b = 3 → 17; t=30: 20 − 4 = 16;
    // t=40: both hold → 16
    assert(got.toSeq.map(t => (t._2, t._3)) ==
      Seq((20 * S, 17.0), (30 * S, 16.0), (40 * S, 16.0)))
  }

  test("lagCorrelation: a delayed copy peaks at its transit lag, positive lag = A leads B") {
    // b is a delayed-by-2-steps copy of a: b(t + 2·step) = a(t), so
    // pairing A at t with B at t + 2·step reproduces (a_t, a_t) → the
    // +2 lag must read corr 1.0; zero lag pairs shifted values and
    // must read strictly less
    val base = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0)
    val rows =
      base.zipWithIndex.map { case (v, i) => ("a", i * P, v) } ++
        base.zipWithIndex.map { case (v, i) => ("b", (i + 2) * P, v) }
    val df = frame(rows.map { case (ch, t, v) =>
      (ch, t, v, "", 0, 0, (ch + t).hashCode.toLong)
    })
    val got = Analytics.lagCorrelation(df, "a", "b",
        0L, (base.size + 2) * P, P, maxLagSteps = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got(2) == 1.0, s"transit lag must read 1.0, got $got")
    assert(got(0) < 1.0 && got(-2) < 1.0)
    assert(got.keySet == (-3 to 3).toSet)
  }

  test("spectrum: a pure sinusoid concentrates power at its true period") {
    // 600 samples at 1 s cadence, 100·sin(2πt/60) + DC offset 50 —
    // the 60 s candidate must dominate and the demean must kill the
    // DC leak a raw projection would spread over every candidate
    val vs = (0 until 600).map(t =>
      50.0 + 100.0 * math.sin(2 * math.Pi * t / 60.0))
    val df = frame(vs.zipWithIndex.map { case (v, i) =>
      ("c", i * S, v, "", 0, 0, 1000L + i) })
    val periods = Seq(30L, 60L, 120L, 600L).map(_ * S)
    val got = Analytics.spectrum(df, 0L, 600 * S, periods)
      .collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap
    // ideal power = (A/2)² = 2500; quantized phase table costs a few %
    assert(got(60L) > 2000.0, s"true-period power ${got(60L)}")
    assert(Seq(30L, 120L, 600L).forall(p => got(p) < 300.0),
      s"off-period leak: $got")
    val dom = Analytics.dominantPeriod(
        Analytics.spectrum(df, 0L, 600 * S, periods))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
    assert(dom.toSeq == dom.toSeq.sortBy(_._1))
    assert(dom.head._2 == 60L && dom.head._3 > 0.7,
      s"dominant ${dom.head}")
  }

  test("crossSpectrum: in-phase, anti-phase, and quadrature channels resolve against the probe") {
    val mk = (ch: String, f: Int => Double) =>
      (0 until 600).map(t => (ch, t.toLong * S, f(t), "", 0, 0,
        (ch.hashCode.toLong << 20) + t))
    val w = (t: Int) => 2 * math.Pi * t / 60.0
    val df = frame(
      mk("probe", t => 100 * math.sin(w(t))) ++
        mk("inphase", t => 100 * math.sin(w(t))) ++
        mk("anti", t => -100 * math.sin(w(t))) ++
        mk("quad", t => 100 * math.cos(w(t))))
    val got = Analytics.crossSpectrum(df, 0L, 600 * S,
        Seq(60L * S), probe = "probe")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // ideal |cross| = (A/2)² = 2500 at the shared period
    assert(got("inphase")._1 > 2000 && math.abs(got("inphase")._2) < 300,
      s"in-phase: ${got("inphase")}")
    assert(got("anti")._1 < -2000 && math.abs(got("anti")._2) < 300,
      s"anti-phase: ${got("anti")}")
    assert(math.abs(got("quad")._2) > 2000 && math.abs(got("quad")._1) < 300,
      s"quadrature: ${got("quad")}")
  }

  test("spectrum: constant channel has zero power everywhere") {
    val df = frame(series("flat", Seq.fill(50)(42.0)))
    val got = Analytics.spectrum(df, 0L, 500 * S, Seq(30L * S, 60L * S))
      .collect()
    assert(got.length == 2 && got.forall(_.getDouble(5) == 0.0))
  }

  test("cusumShifts: a step change fires both sides of the detector") {
    // 100 samples at 10 then 100 at 30 (global mean 20): the low side
    // accumulates during the first half (level below target), the
    // high side during the second — slack 5 leaves drift 5/sample, so
    // threshold 200 trips after ~40 samples on each side
    val vs = Seq.fill(100)(10.0) ++ Seq.fill(100)(30.0)
    val df = frame(vs.zipWithIndex.map { case (v, i) =>
      ("c", i * S, v, "", 0, 0, 2000L + i) })
    val r = Analytics.cusumShifts(df, 0L, 200 * S,
      slack = 5.0, threshold = 200.0).collect().head
    val (nHi, nLo) = (r.getLong(2), r.getLong(3))
    val (tHi, tLo) = (r.getLong(4), r.getLong(5))
    assert(nHi > 0 && nLo > 0, s"both sides must fire: hi=$nHi lo=$nLo")
    assert(tLo < 100 * S && tHi >= 100 * S,
      s"low fires in the low half ($tLo), high after the step ($tHi)")
    // peak of each side: 100 samples × |dev 10 − slack 5| = 500
    assert(r.getDouble(6) == 500.0 && r.getDouble(7) == 500.0)
  }

  test("stalenessReport: median cadence, expected next, overdue flag, single-sample degenerate") {
    // "live": 10 s cadence, last at 90 s, asOf 100 s → not overdue
    // "dead": 10 s cadence but silent since 40 s → overdue at 100 s
    // "lone": one sample → no cadence, stale by definition
    // "burst": gaps 1,1,1,50 → median 1 s (robust), silent → stale
    val live = series("live", (0 to 9).map(_.toDouble))
    val dead = (0 to 4).map(i => ("dead", i * P, 1.0, "", 0, 0, 100L + i))
    val lone = Seq(("lone", 0L, 1.0, "", 0, 0, 200L))
    val burst = Seq(0L, 1L, 2L, 3L, 53L).zipWithIndex.map { case (t, i) =>
      ("burst", t * S, 1.0, "", 0, 0, 300L + i) }
    val asOf = 100 * S
    val got = Analytics.stalenessReport(
        frame(live ++ dead ++ lone ++ burst), asOf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got("live").getBoolean(5) &&
      got("live").getLong(3) == 10 * S &&
      got("live").getLong(4) == 100 * S)
    assert(got("dead").getBoolean(5) &&
      got("dead").getLong(4) == 50 * S)
    assert(got("lone").getBoolean(5) && got("lone").isNullAt(3) &&
      got("lone").isNullAt(4))
    assert(got("burst").getLong(3) == 1 * S, "median must resist the burst gap")
    assert(got("burst").getBoolean(5))
  }

  test("cusumShifts: constant channel never fires, peaks stay zero") {
    val df = frame(series("flat", Seq.fill(60)(5.0)))
    val r = Analytics.cusumShifts(df, 0L, 600 * S,
      slack = 1.0, threshold = 10.0).collect().head
    assert(r.getLong(2) == 0 && r.getLong(3) == 0)
    assert(r.getDouble(6) == 0.0 && r.getDouble(7) == 0.0)
  }

  test("derivedChannel: ratio expression feeds downstream ops unchanged") {
    val df = frame(
      Seq(("a", 0L, 8.0), ("b", 0L, 2.0), ("a", 10 * S, 9.0),
          ("b", 10 * S, 3.0))
        .map { case (ch, t, v) => (ch, t, v, "", 0, 0, (ch + t).hashCode.toLong) })
    val d = Analytics.derivedChannel(df, "r", "a", "b", _ / _, 0L, 10 * S, P)
    // canonical frame: the derived series drops straight into m4
    val m4 = Analytics.m4(d, 0L, 20 * S, k = 1).collect()
    assert(m4.length == 1)
    val r = m4.head
    assert(r.getAs[Double]("v_min") == 3.0 && r.getAs[Double]("v_max") == 4.0)
  }
}
