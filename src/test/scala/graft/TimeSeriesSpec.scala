package graft

import graft.operators.TimeSeries
import java.sql.Timestamp
import org.apache.spark.sql.functions.col

class TimeSeriesSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("resampleHourlyFill densifies gaps and forward-fills the value") {
    // user 1: events at 00h (v=2.0 twice) and 03h (v=5.0) — hours 01,02
    // are gaps that must appear with n=0 and the 00h sum carried forward
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), 1.5),
      (1L, ts("2024-01-01 00:40:00"), 0.5),
      (1L, ts("2024-01-01 03:05:00"), 5.0),
      (2L, ts("2024-01-01 02:00:00"), 7.0))
      .toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleHourlyFill(events, "user_id", "ts", "value")
      .as[(Long, Timestamp, Long, Double)].collect().toSet
    assert(out === Set(
      (1L, ts("2024-01-01 00:00:00"), 2L, 2.0),
      (1L, ts("2024-01-01 01:00:00"), 0L, 2.0),
      (1L, ts("2024-01-01 02:00:00"), 0L, 2.0),
      (1L, ts("2024-01-01 03:00:00"), 1L, 5.0),
      (2L, ts("2024-01-01 02:00:00"), 1L, 7.0)))
  }

  test("rollingStats: trailing frame excludes current row, z flags spikes") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 10.0),
      (1L, ts("2024-01-01 01:00:00"), 2L, 12.0),
      (1L, ts("2024-01-01 02:00:00"), 3L, 11.0),
      (1L, ts("2024-01-01 03:00:00"), 4L, 100.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.rollingStats(events, "user_id", "ts", "event_id", "value", 5)
      .orderBy($"event_id")
      .select($"prev_value", $"trail_mean", $"trail_sd", $"rolling_z")
      .as[(Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect()
    assert(out(0) === ((None, None, None, None)))           // empty frame
    assert(out(1)._1 === Some(10.0))
    assert(out(1)._2 === Some(10.0))
    assert(out(1)._3 === None)                              // n=1: no sd
    // row 4: trailing {10,12,11} mean=11 sd=1 → z=(100-11)/1=89
    assert(out(3)._2 === Some(11.0))
    assert(math.abs(out(3)._3.get - 1.0) < 1e-9)
    assert(math.abs(out(3)._4.get - 89.0) < 1e-6)
  }

  test("rollingStats constant series yields null z, not NaN or Infinity") {
    val events = (1 to 6).map(i => (1L, ts(f"2024-01-01 0$i:00:00"), i.toLong, 5.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.rollingStats(events, "user_id", "ts", "event_id", "value", 3)
      .select($"trail_sd", $"rolling_z")
      .as[(Option[Double], Option[Double])].collect()
    assert(out.forall { case (sd, z) =>
      z.isEmpty && sd.forall(v => v == 0.0 && !v.isNaN) })
  }

  test("interpolateLinear blends interior gaps, leaves edges null") {
    // user 1: known at 00h (10.0) and 03h (16.0); 01h/02h interior nulls
    // interpolate to 12.0/14.0; user 2 has a LEADING null → stays null
    val grid = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(10.0)),
      (1L, ts("2024-01-01 01:00:00"), None),
      (1L, ts("2024-01-01 02:00:00"), None),
      (1L, ts("2024-01-01 03:00:00"), Some(16.0)),
      (2L, ts("2024-01-01 00:00:00"), None),
      (2L, ts("2024-01-01 01:00:00"), Some(4.0)))
      .toDF("user_id", "ts", "value")
    val out = TimeSeries.interpolateLinear(grid, "user_id", "ts", "value")
      .select($"user_id", $"ts", $"v_interp")
      .as[(Long, Timestamp, Option[Double])].collect().toSet
    assert(out === Set(
      (1L, ts("2024-01-01 00:00:00"), Some(10.0)),
      (1L, ts("2024-01-01 01:00:00"), Some(12.0)),
      (1L, ts("2024-01-01 02:00:00"), Some(14.0)),
      (1L, ts("2024-01-01 03:00:00"), Some(16.0)),
      (2L, ts("2024-01-01 00:00:00"), None),
      (2L, ts("2024-01-01 01:00:00"), Some(4.0))))
  }

  test("islands: consecutive days form one run, gaps split runs") {
    val events = Seq(
      // user 1: 1-2-3 Jan, gap, 5 Jan; multiple events on 2 Jan collapse
      (1L, ts("2024-01-01 08:00:00"), 0.0),
      (1L, ts("2024-01-02 09:00:00"), 0.0),
      (1L, ts("2024-01-02 23:00:00"), 0.0),
      (1L, ts("2024-01-03 01:00:00"), 0.0),
      (1L, ts("2024-01-05 12:00:00"), 0.0),
      (2L, ts("2024-02-10 00:00:00"), 0.0))
      .toDF("user_id", "ts", "value")
    val out = TimeSeries.islands(events, "user_id", "ts")
      .select($"user_id", $"start_day".cast("string"),
        $"end_day".cast("string"), $"n_days")
      .as[(Long, String, String, Long)].collect().toSet
    assert(out === Set(
      (1L, "2024-01-01", "2024-01-03", 3L),
      (1L, "2024-01-05", "2024-01-05", 1L),
      (2L, "2024-02-10", "2024-02-10", 1L)))
  }

  test("resampleHourlyFill grid is exactly first..last hour per entity") {
    val events = Tables.events(spark, sf)
    val out = TimeSeries.resampleHourlyFill(events, "user_id", "ts", "value")
    val perUser = out.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("rows"),
        org.apache.spark.sql.functions.min($"hour").as("lo"),
        org.apache.spark.sql.functions.max($"hour").as("hi"))
      .as[(Long, Long, Timestamp, Timestamp)].collect()
    assert(perUser.nonEmpty)
    perUser.foreach { case (u, rows, lo, hi) =>
      val hours = (hi.getTime - lo.getTime) / 3600000L + 1
      assert(rows === hours, s"user $u grid not dense")
    }
    // no null fills: first grid row is always a real event hour
    assert(out.filter($"v_filled".isNull).isEmpty)
  }

  test("ewmaHalving: hand-computed weights, head normalization, lookback truncation") {
    val ts = (i: Int) => Timestamp.valueOf(f"2024-01-01 00:0$i:00")
    val df = Seq((1L, ts(1), 1L, 2.0), (1L, ts(2), 2L, 4.0),
      (2L, ts(1), 3L, 7.0)).toDF("u", "ts", "id", "v")
    val out = TimeSeries.ewmaHalving(df, "u", "ts", "id", "v")
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    // head row: single-term window normalizes to the value itself
    assert(out(1L) === 2.0 && out(3L) === 7.0)
    // second row: (4·1/2 + 2·1/4)/(3/4) = 10/3
    assert(out(2L) === 3.333333)
    // lookback=2 forgets the oldest value: row 3 sees [3,2] only
    val three = Seq((1L, ts(1), 1L, 1.0), (1L, ts(2), 2L, 2.0),
      (1L, ts(3), 3L, 3.0)).toDF("u", "ts", "id", "v")
    val t3 = TimeSeries.ewmaHalving(three, "u", "ts", "id", "v", lookback = 2)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    // (3·1/2 + 2·1/4)/(3/4) = 8/3 → 2.666667 at 6dp
    assert(t3(3L) === 2.666667)
    // null values are excluded, not zero-filled
    val withNull = Seq((1L, ts(1), 1L, Some(2.0)), (1L, ts(2), 2L, None),
      (1L, ts(3), 3L, Some(4.0))).toDF("u", "ts", "id", "v")
    val nn = TimeSeries.ewmaHalving(withNull, "u", "ts", "id", "v")
      .collect()
    assert(nn.length === 2)
    val m = nn.map(r => r.getLong(2) -> r.getDouble(4)).toMap
    // row 3's window is [4, 2] — the null row simply isn't in the series
    assert(m(3L) === 3.333333)
  }

  test("decayedTopK: month-bucketed half-life weights, exact scores") {
    // newest = 2024-12-31; 2024-07-04 is 180 days = bucket 6 = weight 1/2
    val rows =
      Seq.fill(3)((1L, "2024-12-31")) ++
        Seq.fill(10)((2L, "2024-07-04")) ++
        (Seq.fill(2)((3L, "2024-12-31")) ++ Seq.fill(4)((3L, "2024-07-04")))
    val df = rows.toDF("part_id", "s")
      .withColumn("ts", col("s").cast("timestamp"))
    val out = TimeSeries.decayedTopK(df, "part_id", "ts", 6.0, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === Seq((2L, 5.0), (3L, 4.0), (1L, 3.0)))
    intercept[IllegalArgumentException] {
      TimeSeries.decayedTopK(df, "part_id", "ts", 0.0, 3)
    }
  }

  test("cusumDaily: window identity matches the direct max(0, ...) recursion") {
    val ev = Seq(("2024-01-01", 10), ("2024-01-02", 10), ("2024-01-03", 10),
      ("2024-01-04", 30), ("2024-01-05", 32))
      .flatMap { case (d, n) => (1 to n).map(i => s"$d 01:00:00") }
      .toDF("s").withColumn("ts", col("s").cast("timestamp"))
    val out = TimeSeries.cusumDaily(ev, "ts")
      .orderBy("day").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    val xs = out.map(_._1.toDouble)
    val mu = xs.sum / xs.length
    val sigma = math.sqrt(math.max(xs.map(x => x * x).sum / xs.length - mu * mu, 0.0))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var s = 0.0
    out.zip(xs).foreach { case ((_, cusum, threshold, alarm), x) =>
      s = math.max(0.0, s + x - mu - 0.5 * sigma)
      // output is 6dp-rounded; the recursion is exact
      assert(math.abs(cusum - s) <= 5.0e-7, s"cusum $cusum vs recursion $s")
      assert(threshold === r6(4.0 * sigma))
      assert(alarm === (cusum > threshold))
    }
  }

  test("seasonalIndex: full 24-slot grid, silent hours 0, indices sum to 24") {
    val ev = Seq("2024-01-01 03:10:00", "2024-01-01 03:50:00",
      "2024-01-02 05:00:00")
      .map(("x", _)) :+ (("y", "2024-01-01 12:00:00"))
    val df = ev.toDF("k", "s").withColumn("ts", col("s").cast("timestamp"))
    val out = TimeSeries.seasonalIndex(df, "ts", "k").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size === 48) // 24 slots × 2 keys, silent hours included
    assert(out(("x", 3)) === ((2L, 16.0)))   // 24·2/3
    assert(out(("x", 5)) === ((1L, 8.0)))    // 24·1/3
    assert(out(("x", 4)) === ((0L, 0.0)))    // silent hour IS a row
    assert(out(("y", 12)) === ((1L, 24.0)))  // single-hour key: all mass
    // multiplicative indices average to 1 → sum to 24 per key
    Seq("x", "y").foreach { k =>
      val s = (0 until 24).map(h => out((k, h))._2).sum
      assert(math.abs(s - 24.0) < 1e-6, s"$k sums to $s")
    }
  }
  test("autocorrelation: alternating series gives acf(1) = -1, acf(2) = 1") {
    // daily counts 2,1,2,1,2,1 (via event multiplicity per day)
    val ev = (0 until 6).flatMap { d =>
      val n = if (d % 2 == 0) 2 else 1
      (1 to n).map(_ => f"2024-01-${d + 1}%02d 12:00:00")
    }.toDF("s").withColumn("ts", col("s").cast("timestamp"))
    val out = TimeSeries.autocorrelation(ev, "ts", maxLag = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))
      .toMap
    assert(out(1L)._1 === 5L && out(1L)._2 === -1.0)
    assert(out(2L)._1 === 4L && out(2L)._2 === 1.0)
    assert(out(3L)._2 === -1.0)
    // constant series: zero variance -> null, never NaN
    val const = (0 until 4).map(d => f"2024-02-${d + 1}%02d 12:00:00")
      .toDF("s").withColumn("ts", col("s").cast("timestamp"))
    assert(TimeSeries.autocorrelation(const, "ts", 1)
      .collect().forall(_.isNullAt(2)))
    intercept[IllegalArgumentException](
      TimeSeries.autocorrelation(ev, "ts", 0))
  }

  test("crossCorrelation: a shifted copy peaks at its lead lag") {
    // type b's daily counts are type a's shifted +2 days: perfect
    // correlation at lag = +2 (a leads b by two days)
    def day(d: Int, n: Int, t: String) = Seq.tabulate(n)(i =>
      (ts(f"2024-01-${d + 1}%02d 10:${i}%02d:00"), t))
    val ev = (day(0, 1, "a") ++ day(1, 2, "a") ++ day(2, 3, "a") ++
      day(3, 5, "a") ++
      day(2, 1, "b") ++ day(3, 2, "b") ++ day(4, 3, "b") ++ day(5, 5, "b"))
      .toDF("ts", "event_type")
    val out = TimeSeries.crossCorrelation(ev, "ts", "event_type",
        "a", "b", maxLag = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .toMap
    assert(out(2L)._1 === 4L && out(2L)._2 === 1.0, out.toString)
    // lags with < 2 matched days produce no row or few pairs; the
    // degenerate single-pair lag yields null ccf
    assert(!out.contains(-3L) || out(-3L)._1 < 2 || !out(-3L)._2.isNaN)
    intercept[IllegalArgumentException](
      TimeSeries.crossCorrelation(ev, "ts", "event_type", "a", "b", 0))
  }

  test("seasonalNaiveEval: zero-filled grid, exact MAEs, period guard") {
    // days 0..5 with day 4 SILENT: y = [1,2,1,2,0,2]
    // naive errors  |Δ1| = 1,1,1,2,2 → MAE 1.4
    // period-2 errors |Δ2| = 0,0,1,0 → MAE 0.25 ; ratio 0.25/1.4
    def day(d: Int, n: Int) = Seq.tabulate(n)(i =>
      Tuple1(ts(f"2024-01-${d + 1}%02d 10:${i}%02d:00")))
    val ev = (day(0, 1) ++ day(1, 2) ++ day(2, 1) ++ day(3, 2) ++ day(5, 2))
      .toDF("ts")
    val r = TimeSeries.seasonalNaiveEval(ev, "ts", period = 2)
      .collect().head
    assert(r.getLong(0) === 6L)
    assert(r.getDouble(1) === 1.4)
    assert(r.getDouble(2) === 0.25)
    assert(r.getDouble(3) === BigDecimal(0.25 / 1.4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // span shorter than the period → null seasonal MAE and ratio
    val short = (day(0, 1) ++ day(1, 2)).toDF("ts")
    val sr = TimeSeries.seasonalNaiveEval(short, "ts", period = 7)
      .collect().head
    assert(sr.isNullAt(2) && sr.isNullAt(3))
    intercept[IllegalArgumentException](
      TimeSeries.seasonalNaiveEval(ev, "ts", period = 1))
  }

  test("pettittOverCounts: locates the level shift, midrank-exact U") {
    // [1,1,1,5,5,5]: midranks 2 and 5 → U_t = −3,−6,−9,−6,−3 (U_6 = 0
    // dropped) — argmax |U| at day 3, K = 9
    val counts = (1 to 6).map(d =>
      (ts(f"2024-01-0$d 00:00:00"), if (d <= 3) 1L else 5L))
      .toDF("day", "n_events")
    val r = TimeSeries.pettittOverCounts(counts).collect().head
    assert(r.getTimestamp(0) === ts("2024-01-03 00:00:00"))
    assert(r.getLong(1) === 6L && r.getLong(2) === 9L)
    val expP = BigDecimal(2.0 * math.exp(-6.0 * 81.0 / (216.0 + 36.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) === expP)
    // constant series: all midranks equal → every U_t = 0, K = 0, p
    // capped at 1; earliest day wins the argmax tiebreak
    val flat = (1 to 4).map(d =>
      (ts(f"2024-01-0$d 00:00:00"), 7L)).toDF("day", "n_events")
    val fr = TimeSeries.pettittOverCounts(flat).collect().head
    assert(fr.getLong(2) === 0L && fr.getDouble(3) === 1.0)
    assert(fr.getTimestamp(0) === ts("2024-01-01 00:00:00"))
  }

  test("hurstDaily: hand-checked R/S blocks, incomplete block dropped") {
    // 10 days alternating 1,2 events: every complete block of 4 (and of
    // 2) has mean 1.5, cumulative deviations {−0.5, 0}, R = 0.5,
    // σ = 0.5 → R/S = 1 for every block; mean_rs = 1 at both sizes and
    // the log–log slope through (ln m, 0) points is 0. Days 9–10 form an
    // incomplete block of 4 and must be dropped.
    val ev = (1 to 10).flatMap { d =>
      val n = if (d % 2 == 1) 1 else 2
      Seq.fill(n)(Tuple1(ts(f"2024-01-$d%02d 12:00:00")))
    }.toDF("t")
    val out = TimeSeries.hurstDaily(ev, "t", blockSizes = Seq(2, 4))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getLong(1) === 5L && out(4L).getLong(1) === 2L)
    assert(out(2L).getDouble(2) === 1.0 && out(4L).getDouble(2) === 1.0)
    assert(out(2L).getDouble(3) === 0.0)
    // constant series: every block has σ = 0 → no usable blocks at all
    val flat = (1 to 8).map(d => Tuple1(ts(f"2024-01-0$d 12:00:00")))
      .toDF("t")
    assert(TimeSeries.hurstDaily(flat, "t", Seq(4)).collect().isEmpty)
  }

  test("periodogramDaily: pure cycle concentrates power at its period") {
    // 12 days alternating counts 1,3 — an exact period-2 cycle: after
    // mean-centering the series is ±1 and every unit of spectral mass
    // sits at p=2, none at p=3
    val ev = (1 to 12).flatMap { d =>
      val n = if (d % 2 == 0) 3 else 1
      Seq.fill(n)(Tuple1(ts(f"2024-01-$d%02d 12:00:00")))
    }.toDF("t")
    val out = TimeSeries.periodogramDaily(ev, "t", periods = Seq(2, 3))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getLong(1) === 12L)
    // alternating ±1 around the mean IS the period-2 cycle: power at
    // p=2 is n·1² = 12, power at p=3 is ~0
    assert(math.abs(out(2L).getDouble(2) - 12.0) < 1e-6)
    assert(math.abs(out(3L).getDouble(2)) < 1e-6)
  }

  test("ljungBoxDaily: hand-checked alternating series") {
    // daily counts 1,2,1,2,1,2 (n=6, x̄=1.5, centered ∓0.5):
    // den = 6·0.25 = 1.5
    // lag1: 5 products of (−0.25) → ρ₁ = −1.25/1.5 = −5/6
    // lag2: 4 products of (+0.25) → ρ₂ = 1.0/1.5 = 2/3
    // Q(1) = 6·8·ρ₁²/5 = 48·(25/36)/5 = 20/3; Q(2) = Q(1)+48·(4/9)/4 = 12
    val ev = (1 to 6).flatMap { d =>
      Seq.fill(if (d % 2 == 0) 2 else 1)(Tuple1(ts(f"2024-01-0$d 12:00:00")))
    }.toDF("t")
    val out = TimeSeries.ljungBoxDaily(ev, "t", maxLag = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L).getLong(1) === 6L)
    assert(out(1L).getDouble(2) === -0.833333)
    assert(out(2L).getDouble(2) === 0.666667)
    assert(out(1L).getDouble(3) === 6.666667)
    assert(out(2L).getDouble(3) === 12.0)
    // a constant series has zero denominator → null rho/q, not NaN
    val flat = (1 to 5).map(d => Tuple1(ts(f"2024-01-0$d 12:00:00"))).toDF("t")
    val fr = TimeSeries.ljungBoxDaily(flat, "t", maxLag = 2).collect()
    assert(fr.forall(r => r.isNullAt(2) && r.isNullAt(3)))
  }

  test("durbinWatsonDaily: alternating series, constant null") {
    // counts 1,3,1,3: e = ∓1, Σe² = 4; diffs ±2 ×3 → DW = 12/4 = 3
    val ev = (1 to 4).flatMap { d =>
      Seq.fill(if (d % 2 == 0) 3 else 1)(Tuple1(ts(f"2024-01-0$d 12:00:00")))
    }.toDF("t")
    val r = TimeSeries.durbinWatsonDaily(ev, "t").collect().head
    assert(r.getLong(0) === 4L && r.getDouble(1) === 3.0)
    // constant series → zero residual energy → null, not NaN
    val flat = (1 to 4).map(d => Tuple1(ts(f"2024-01-0$d 12:00:00"))).toDF("t")
    assert(TimeSeries.durbinWatsonDaily(flat, "t").collect().head.isNullAt(1))
  }

  test("runsTestDaily: oscillation, clustering, at-mean exclusion") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def mk(counts: Seq[Int]) = counts.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(Tuple1(ts(f"2024-01-${i + 1}%02d 12:00:00")))
    }.toDF("t")
    // alternating 1,3,…: max runs (6); E = 4, Var = 1.2
    val osc = TimeSeries.runsTestDaily(mk(Seq(1, 3, 1, 3, 1, 3)), "t")
      .collect().head
    assert(osc.getLong(0) === 6L && osc.getLong(1) === 3L
      && osc.getLong(2) === 3L && osc.getLong(3) === 6L)
    assert(osc.getDouble(4) === 4.0)
    assert(osc.getDouble(5) === r6(2.0 / math.sqrt(1.2)))
    // clustered 1,1,1,3,3,3: minimum 2 runs → z mirrors negative
    val clu = TimeSeries.runsTestDaily(mk(Seq(1, 1, 1, 3, 3, 3)), "t")
      .collect().head
    assert(clu.getLong(3) === 2L)
    assert(clu.getDouble(5) === r6(-2.0 / math.sqrt(1.2)))
    // 1,2,3: the at-mean day carries no sign → dropped, variance 0 → null
    val atMean = TimeSeries.runsTestDaily(mk(Seq(1, 2, 3)), "t")
      .collect().head
    assert(atMean.getLong(0) === 2L && atMean.getLong(3) === 2L)
    assert(atMean.isNullAt(5))
  }

  test("controlRulesDaily: spike trips R1, steady low side trips R4") {
    // 11 days of 1, then a 100-spike: z₁₂ > 3 (R1); days 8–11 complete
    // an 8-day negative run (R4); R2/R3 never fire (low days |z| < 1,
    // only ONE day beyond 2σ)
    val counts = Seq.fill(11)(1) :+ 100
    val ev = counts.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(Tuple1(ts(f"2024-01-${i + 1}%02d 12:00:00")))
    }.toDF("t")
    val out = TimeSeries.controlRulesDaily(ev, "t")
      .collect().sortBy(_.getTimestamp(0).getTime)
    assert(out.length === 12)
    val mu = counts.sum.toDouble / 12.0
    val sd = math.sqrt(counts.map(c => (c - mu) * (c - mu)).sum / 11.0)
    assert(out(11).getDouble(2) === BigDecimal((100.0 - mu) / sd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(11).getBoolean(3), "spike beyond 3 sigma")
    assert(out.take(11).forall(!_.getBoolean(3)))
    // R4 lights exactly on days 8..11 (first full 8-day one-side window)
    assert((0 to 11).filter(out(_).getBoolean(6)) === Seq(7, 8, 9, 10))
    assert(out.forall(r => !r.getBoolean(4) && !r.getBoolean(5)))
  }
  test("permutationEntropyDaily: monotone series has zero entropy, mixed rises") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // counts 1,2,3,4,5 -> every triple is pattern abc -> H = 0
    val mono = (0 until 5).flatMap(d => Seq.fill(d + 1)(("m", d.toLong * day)))
    // counts 2,1,2,1 -> patterns (2,1,2)->(b,a,c)? and (1,2,1): two
    // distinct patterns over 2 windows -> H = ln2/ln6
    val zig = Seq(("z", 0L * day), ("z", 0L * day), ("z", 1L * day),
      ("z", 2L * day), ("z", 2L * day), ("z", 3L * day))
    val df = (mono ++ zig).toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = graft.operators.TimeSeries.permutationEntropyDaily(df, "g", "ts")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("m").getLong(1) === 3L && out("m").getLong(2) === 1L)
    assert(out("m").getDouble(3) === 0.0)
    assert(out("z").getLong(1) === 2L && out("z").getLong(2) === 2L)
    val h = BigDecimal(math.log(2.0) / math.log(6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("z").getDouble(3) === h)
  }

  test("holtLinear: perfect trend locks level/trend, zero RMSE") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // daily counts 1,2,3,4: seed l=2 b=1; every forecast exact ->
    // level 4, trend 1, forecast 5, rmse 0
    val rows = (0 to 3).flatMap(d => Seq.fill(d + 1)(("a", d.toLong * day)))
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val r = TimeSeries.holtLinear(df, "g", "ts").collect().head
    assert(r.getLong(1) === 4L)
    assert(r.getDouble(2) === 4.0 && r.getDouble(3) === 1.0)
    assert(r.getDouble(4) === 5.0)
    assert(r.getDouble(5) === 0.0)
    // single-day group: no seed -> null state, no crash
    val one = Seq(("b", 0L)).toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val s = TimeSeries.holtLinear(one, "g", "ts").collect().head
    assert(s.getLong(1) === 1L && s.isNullAt(2) && s.isNullAt(5))
  }

  test("pinballEval: exact tenth-scaled losses, symmetric under/over") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // day0 count 2 -> day7 count 5 (under by 3); day1 count 5 ->
    // day8 count 2 (over by 3): tau .1 mean (3*1+3*9)/20 = 1.5, etc.
    val rows = Seq.fill(2)(("a", 0L)) ++ Seq.fill(5)(("a", 7L * day)) ++
      Seq.fill(5)(("a", 1L * day)) ++ Seq.fill(2)(("a", 8L * day))
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = TimeSeries.pinballEval(df, "g", "ts").collect()
      .map(r => r.getDouble(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(0.1 -> ((2L, 1.5)), 0.5 -> ((2L, 1.5)),
      0.9 -> ((2L, 1.5))))
  }

  test("hampelFilter: spike flags through zero MAD, smooth ramp does not") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // group a: 5,5,5,50,5,5,5 -> interior day 3: med 5, mad 0, outlier
    // group r: 1..7 ramp -> day 3: med 4, dev 0, not an outlier
    val rows =
      (0 to 6).flatMap(dd => Seq.fill(if (dd == 3) 50 else 5)(
        ("a", dd.toLong * day))) ++
        (0 to 6).flatMap(dd => Seq.fill(dd + 1)(("r", dd.toLong * day)))
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = TimeSeries.hampelFilter(df, "g", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size === 2, "one interior day per group")
    assert(out("a").getLong(2) === 50L)
    assert(out("a").getDouble(3) === 5.0 && out("a").getDouble(4) === 0.0)
    assert(out("a").isNullAt(5) && out("a").getBoolean(6),
      "zero MAD: z null but the spike still flags")
    assert(out("r").getLong(2) === 4L)
    assert(out("r").getDouble(3) === 4.0 && out("r").getDouble(4) === 2.0)
    assert(out("r").getDouble(5) === 0.0 && !out("r").getBoolean(6))
  }

  test("gumbelBlockMax: exact block moments, mirrored constant algebra") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // one active day per week, maxima 4,6,8,10: mean 7, var 80/12
    val rows = (0 to 3).flatMap(w =>
      Seq.fill(4 + 2 * w)(("a", (w * 7L + 1) * day)))
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val r = TimeSeries.gumbelBlockMax(df, "g", "ts").collect().head
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(1) === 4L)
    assert(r.getDouble(2) === 7.0)
    val sd = math.sqrt(80.0 / 12)
    assert(r.getDouble(3) === r6(sd))
    val beta = sd * TimeSeries.GumbelC.sqrt6OverPi
    val mu = 7.0 - TimeSeries.GumbelC.eulerGamma * beta
    assert(r.getDouble(4) === r6(beta))
    assert(r.getDouble(5) === r6(mu))
    assert(r.getDouble(6) === r6(mu - beta * TimeSeries.GumbelC.lnln99))
  }

  test("seasonalStrength: perfect weekly cycle reads 1, constant reads null") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // two exact repeats of a 7-day pattern -> residuals 0 -> strength 1
    val rows = (0 to 13).flatMap(dd =>
      Seq.fill(dd % 7 + 1)(("a", dd.toLong * day))) ++
      (0 to 13).map(dd => ("c", dd.toLong * day)) // constant 1/day
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = TimeSeries.seasonalStrength(df, "g", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 14L)
    assert(out("a").getDouble(3) === 0.0, "zero residual variance")
    assert(out("a").getDouble(4) === 1.0)
    assert(out("c").getDouble(2) === 0.0 && out("c").isNullAt(4),
      "constant series: zero total variance -> null strength")
  }

  test("circularHours: point mass at hour 6 concentrates fully") {
    import org.apache.spark.sql.functions._
    val df = Seq.fill(5)(("a", 6L * 3600000000L))
      .toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val r = TimeSeries.circularHours(df, "g", "ts").collect().head
    assert(r.getLong(1) === 5L)
    assert(r.getDouble(2) === 1.0, "resultant 1 at a point mass")
    assert(r.getDouble(3) === 0.0)
    val exp = BigDecimal(math.atan2(5.0 * TimeSeries.circularSin24(6),
      5.0 * TimeSeries.circularCos24(6)) * TimeSeries.twelveOverPi)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === exp)
    assert(math.abs(r.getDouble(4) - 6.0) < 1e-5, "mean hour ~ 6")
  }

  test("theilsU2: exact RMSE ratio on the doubly-forecastable day") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // counts d0=2 d1=4 d7=2 d8=6: only day 8 has both forecasts;
    // seasonal err -2, naive err -4 -> U2 = 0.5
    val rows = Seq.fill(2)(("a", 0L)) ++ Seq.fill(4)(("a", 1L * day)) ++
      Seq.fill(2)(("a", 7L * day)) ++ Seq.fill(6)(("a", 8L * day))
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val r = TimeSeries.theilsU2(df, "g", "ts").collect().head
    assert(r.getLong(1) === 1L)
    assert(r.getDouble(2) === 2.0 && r.getDouble(3) === 4.0)
    assert(r.getDouble(4) === 0.5)
  }

  test("pageHinkleyDaily: ramp excursion and alarm day, flat series reads 0") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // group a: daily counts 1,1,1,4 -> dev at day3 = 4 - 7/4 = 2.25
    val rows = (Seq(0, 1, 2).map(d => ("a", d.toLong * day)) ++
      (1 to 4).map(_ => ("a", 3L * day)) ++
      Seq(0, 1).map(d => ("f", d.toLong * day))) // flat 1,1
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = TimeSeries.pageHinkleyDaily(df, "g", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 4L)
    assert(out("a").getDouble(2) === 2.25)
    assert(out("a").getTimestamp(3).getTime === 3L * 86400000L)
    // flat series: every deviation 0 -> PH 0, alarm = earliest day
    assert(out("f").getDouble(2) === 0.0)
    assert(out("f").getTimestamp(3).getTime === 0L)
  }

  test("daily-grid operators: empty events no rows, one event does not throw") {
    import org.apache.spark.sql.functions._
    val empty = Seq.empty[(String, Long)].toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val one = Seq(("a", 0L)).toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => Long)] = Seq(
      "pinballEval" -> (TimeSeries.pinballEval(_, "g", "ts").count()),
      "theilsU2" -> (TimeSeries.theilsU2(_, "g", "ts").count()),
      "gumbelBlockMax" -> (TimeSeries.gumbelBlockMax(_, "g", "ts").count()),
      "pageHinkleyDaily" -> (TimeSeries.pageHinkleyDaily(_, "g", "ts").count()))
    for ((name, run) <- ops) assert(run(empty) === 0L, name)
    // one day of one key: no week-ago or day-ago forecast day, one block
    // (gumbel needs two), so only Page–Hinkley reports the key
    val oneRows = ops.map { case (name, run) => name -> run(one) }.toMap
    assert(oneRows === Map("pinballEval" -> 0L, "theilsU2" -> 0L,
      "gumbelBlockMax" -> 0L, "pageHinkleyDaily" -> 1L))
  }

}
