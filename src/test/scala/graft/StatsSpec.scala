package graft

import graft.operators.Stats
import org.apache.spark.sql.functions.col

class StatsSpec extends SparkSuite {
  import spark.implicits._

  test("groupOls: exact fit recovered, noisy fit hand-checked") {
    val exact = Seq(("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0))
      .toDF("grp", "x", "y")
    val r = Stats.groupOls(exact, "grp", "x", "y").collect().head
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 2.0)   // slope
    assert(r.getDouble(3) === 0.0)   // intercept
    assert(r.getDouble(4) === 1.0)   // r2 of a perfect line
    // y = 1 + x with one off-line point: slope from hand-computed sums
    // x = 1,2,3 ; y = 2,3,5 → cov = 1.5, var(x) = 1 → slope 1.5,
    // intercept = ȳ − 1.5·x̄ = 10/3 − 3 = 1/3
    val noisy = Seq(("g", 1.0, 2.0), ("g", 2.0, 3.0), ("g", 3.0, 5.0))
      .toDF("grp", "x", "y")
    val n = Stats.groupOls(noisy, "grp", "x", "y").collect().head
    assert(n.getDouble(2) === 1.5)
    assert(n.getDouble(3) === 0.333333)
  }

  test("groupOls: singleton and zero-x-variance groups yield nulls, not NaN") {
    val df = Seq(("solo", 1.0, 5.0),
      ("flat", 2.0, 1.0), ("flat", 2.0, 9.0)).toDF("grp", "x", "y")
    val out = Stats.groupOls(df, "grp", "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("solo").isNullAt(2) && out("solo").isNullAt(4))
    assert(out("flat").isNullAt(2) && out("flat").isNullAt(3) &&
      out("flat").isNullAt(4))
  }

  test("zipfFit recovers an exact power law and honors maxRank") {
    import org.apache.spark.sql.functions._
    // frequencies 8,4,2,1 for tokens a,b,c,d → freq = 8 / rank^1.5 is NOT
    // integral; use freq = 16/2^rank instead: ln f = ln32 − (ln2)·rank —
    // that's exponential in rank, not a power law, so fit on x=ln(rank)
    // won't be exact. Build a true power law: rank 1,2,4,8 with
    // freq 16,8,4,2 → ln f = ln32 − 1·ln(rank·2)… simplest exact case:
    // tokens with counts 8,4,2,1 at ranks 1,2,3,4 is not a clean line, so
    // instead assert against groupOls on the same ranked data.
    val docs = Seq(
      (1L, "g", ("a " * 8 + "b " * 4 + "c " * 2 + "d").trim)
    ).toDF("doc_id", "grp", "text")
    val fit = graft.operators.TextAnalytics.zipfFit(docs, "grp", "text")
      .collect().head
    assert(fit.getLong(1) === 4L)
    // slope must be negative (frequency falls with rank) and r² high
    assert(fit.getDouble(2) < -0.5 && fit.getDouble(4) > 0.9, fit.toString)
    // maxRank=2 fits only the top 2 ranks: ln8,ln4 at ln1,ln2 →
    // slope = (ln4−ln8)/(ln2−ln1) = −1 exactly
    val head2 = graft.operators.TextAnalytics
      .zipfFit(docs, "grp", "text", maxRank = 2).collect().head
    assert(head2.getLong(1) === 2L)
    assert(math.abs(head2.getDouble(2) - (-1.0)) < 1e-6, head2.toString)
  }

  test("sampleRatioCheck: exact chi-squared, zero on a perfect split") {
    // 60/40 on expected 50/50 of 100: chi2 = 10²/50 + 10²/50 = 4
    val df = (Seq.fill(60)("a") ++ Seq.fill(40)("b") ++ Seq.fill(5)("x"))
      .toDF("arm")
    val r = graft.operators.Stats
      .sampleRatioCheck(df, "arm", "a", "b").collect().head
    assert(r.getLong(0) === 60L && r.getLong(1) === 40L)
    assert(r.getDouble(2) === 4.0, r.toString)
    val even = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("arm")
    assert(graft.operators.Stats.sampleRatioCheck(even, "arm", "a", "b")
      .collect().head.getDouble(2) === 0.0)
    // expected 25/75 split delivered exactly → 0
    val skewed = (Seq.fill(25)("a") ++ Seq.fill(75)("b")).toDF("arm")
    assert(graft.operators.Stats
      .sampleRatioCheck(skewed, "arm", "a", "b", ratioA = 0.25)
      .collect().head.getDouble(2) === 0.0)
  }

  test("ksStatistic: hand-computed ECDF gap; identical samples give 0") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0),
      ("ignored", 99.0)).toDF("side", "v")
    val r = graft.operators.Stats
      .ksStatistic(df, "side", "v", "a", "b").collect().head
    // ECDFs: at v=1 gap 1/3; v=2 gap 2/3−1/3; v=3 gap 1−2/3; v=4 gap 0
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 0.333333, r.toString)
    val same = Seq(("a", 5.0), ("b", 5.0), ("a", 7.0), ("b", 7.0))
      .toDF("side", "v")
    assert(graft.operators.Stats.ksStatistic(same, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.0)
  }

  test("welchTTest: hand-computed t and Welch-Satterthwaite df") {
    // arm a: 1,2,3 (n=3, m=2, v=1); arm b: 2,4 (n=2, m=3, v=2)
    // se² = 1/3 + 1 = 4/3 → t = −1/√(4/3) ≈ −0.866025
    // df = (4/3)² / ((1/3)²/2 + 1²/1) = 1.777778/1.055556 ≈ 1.684211
    val df = Seq(
      ("g", "a", 1.0), ("g", "a", 2.0), ("g", "a", 3.0),
      ("g", "b", 2.0), ("g", "b", 4.0),
      ("solo", "a", 1.0), ("solo", "a", 2.0),
      ("g", "other", 99.0)).toDF("grp", "arm", "v")
    val out = graft.operators.Stats
      .welchTTest(df, "grp", "arm", "v", "a", "b").collect()
    assert(out.length === 1)                    // 'solo' lacks arm b
    val r = out.head
    assert(r.getString(0) === "g" && r.getLong(1) === 3L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === -1.0)
    assert(r.getDouble(4) === -0.866025, r.toString)
    assert(r.getDouble(5) === 1.684211, r.toString)
  }

  test("welchTTest: degenerate arms yield null, never NaN") {
    val df = Seq(("g", "a", 5.0), ("g", "b", 1.0), ("g", "b", 2.0),
      ("h", "a", 3.0), ("h", "a", 3.0), ("h", "b", 3.0), ("h", "b", 3.0))
      .toDF("grp", "arm", "v")
    val out = graft.operators.Stats
      .welchTTest(df, "grp", "arm", "v", "a", "b")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("g").isNullAt(4) && out("g").isNullAt(5))  // n_a = 1
    assert(out("h").isNullAt(4) && out("h").isNullAt(5))  // both vars 0
  }

  test("vectorMoments: per-dim mean/variance, singleton group gets null") {
    val df = Seq(
      (0, Seq(1.0f, 10.0f)), (0, Seq(3.0f, 10.0f)),
      (1, Seq(5.0f, 6.0f))).toDF("label", "embedding")
    val out = graft.operators.Stats.vectorMoments(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
    assert(out((0, 0L)).getDouble(3) === 2.0)      // mean of 1,3
    assert(out((0, 0L)).getDouble(4) === 2.0)      // var_samp of 1,3
    assert(out((0, 1L)).getDouble(4) === 0.0)      // constant dim
    assert(out((1, 0L)).getLong(2) === 1L &&
      out((1, 0L)).isNullAt(4))                    // singleton → null var
  }

  test("rocAuc: hand-computed midrank AUC with ties; separable = 1") {
    // pos {0.5, 0.9}, neg {0.1, 0.5}: midranks 0.1→1, 0.5→2.5, 0.9→4
    // rankSumPos = 2.5 + 4 = 6.5 → AUC = (6.5 − 3)/(2·2) = 0.875
    val mixed = Seq((0.5, true), (0.9, true), (0.1, false), (0.5, false))
      .toDF("s", "y")
    val m = Stats.rocAuc(mixed, "s", "y").collect().head
    assert(m.getLong(0) === 2L && m.getLong(1) === 2L)
    assert(m.getDouble(2) === 0.875)
    val sep = Seq((0.9, true), (0.8, true), (0.7, false), (0.6, false))
      .toDF("s", "y")
    assert(Stats.rocAuc(sep, "s", "y").collect().head.getDouble(2) === 1.0)
    // inverted ranker scores symmetric: AUC = 0
    val inv = Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))
      .toDF("s", "y")
    assert(Stats.rocAuc(inv, "s", "y").collect().head.getDouble(2) === 0.0)
  }

  test("averagePrecision: hand-computed step AP; perfect ranking = 1; no positives = null") {
    // descending thresholds: 0.9(p) → P=1, 0.8(n) → no ΔR, 0.7(p) → P=2/3
    // AP = (1·1 + 1·2/3)/2 = 0.833333
    val mixed = Seq((0.9, true), (0.8, false), (0.7, true)).toDF("s", "y")
    val m = Stats.averagePrecision(mixed, "s", "y").collect().head
    assert(m.getLong(0) === 2L && m.getLong(1) === 1L)
    assert(m.getDouble(2) === 0.833333)
    val sep = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("s", "y")
    assert(Stats.averagePrecision(sep, "s", "y").collect().head
      .getDouble(2) === 1.0)
    val none = Seq((0.9, false), (0.1, false)).toDF("s", "y")
    assert(Stats.averagePrecision(none, "s", "y").collect().head.isNullAt(2))
  }

  test("rocAuc: single-class input yields null, never NaN") {
    val onlyPos = Seq((0.3, true), (0.7, true)).toDF("s", "y")
    val r = Stats.rocAuc(onlyPos, "s", "y").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 0L && r.isNullAt(2))
  }

  test("calibrationBins: bin edges, clamping, and gap arithmetic") {
    val df = Seq((0.05, false), (0.15, true), (0.95, true), (1.0, true),
      (-0.5, false)).toDF("s", "y")
    val bins = Stats.calibrationBins(df, "s", "y").collect()
      .map(r => r.getLong(0) -> r).toMap
    // score 1.0 folds into bin 9; -0.5 clamps to 0 → bin 0
    assert(bins.keySet === Set(0L, 1L, 9L))
    assert(bins(0L).getLong(1) === 2L)
    assert(bins(0L).getDouble(3) === 0.0)          // pos_rate
    assert(bins(9L).getLong(1) === 2L)
    assert(bins(9L).getDouble(2) === 0.975)        // mean_score
    assert(bins(9L).getDouble(3) === 1.0)
    assert(bins(9L).getDouble(4) === 0.025)        // gap = 1 − 0.975
  }

  test("cohenKappa: textbook 2×2 table gives κ = 0.4; perfect-chance null") {
    val rows = Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val k = Stats.cohenKappa(rows.toDF("a", "b"), "a", "b").collect().head
    assert(k.getLong(0) === 50L && k.getLong(1) === 35L)
    assert(k.getDouble(2) === 0.7)   // p_observed
    assert(k.getDouble(3) === 0.5)   // p_expected
    assert(k.getDouble(4) === 0.4)
    // both raters constant and equal: p_e = 1 → kappa undefined (null)
    val const = Seq.fill(4)(("x", "x")).toDF("a", "b")
    assert(Stats.cohenKappa(const, "a", "b").collect().head.isNullAt(4))
  }

  test("cupedAdjusted: perfect covariate removes all variance, means preserved") {
    // y = 2x + 10·1[arm=b], same x distribution per arm → pooled θ = 2,
    // adjusted y is constant per arm: var_reduction = 1 exactly
    val units = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0),
      ("b", 1.0, 12.0), ("b", 2.0, 14.0), ("b", 3.0, 16.0))
      .toDF("arm", "x", "y")
    val out = Stats.cupedAdjusted(units, "arm", "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 3L)
    assert(out("a").getDouble(2) === 4.0)    // mean_y
    assert(out("a").getDouble(3) === 4.0)    // mean_y_adj = 2·x̄
    assert(out("b").getDouble(2) === 14.0 && out("b").getDouble(3) === 14.0)
    assert(out("a").getDouble(4) === 4.0)    // var_y of {2,4,6}
    assert(out("a").getDouble(5) === 0.0 && out("a").getDouble(6) === 1.0)
    assert(out("b").getDouble(5) === 0.0 && out("b").getDouble(6) === 1.0)
  }

  test("cupedAdjusted: zero-variance covariate falls back to no adjustment") {
    val units = Seq(("a", 5.0, 1.0), ("a", 5.0, 3.0),
      ("b", 5.0, 7.0), ("b", 5.0, 9.0)).toDF("arm", "x", "y")
    val out = Stats.cupedAdjusted(units, "arm", "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    // θ = 0: adjusted ≡ raw, reduction 0
    assert(out("a").getDouble(2) === out("a").getDouble(3))
    assert(out("a").getDouble(4) === out("a").getDouble(5))
    assert(out("a").getDouble(6) === 0.0)
  }

  test("madOutliers flags only far points; MAD=0 groups flag nothing") {
    // g: values 1..9 plus 100 → median 5.5, deviations 0.5..4.5 & 94.5
    // → MAD = 2.5; robust z of 100 = 94.5/(2.5·1.4826) ≈ 25.5 — the only
    // point past z=3 (next largest is 4.5/(2.5·1.4826) ≈ 1.21)
    val g = (1 to 9).map(v => ("g", v.toDouble)) :+ (("g", 100.0))
    // flat: >half identical → MAD = 0 → nothing flagged, not divide-by-0
    val flat = Seq(("flat", 7.0), ("flat", 7.0), ("flat", 7.0), ("flat", 99.0))
    val df = (g ++ flat).toDF("grp", "v")
    val out = Stats.madOutliers(df, "grp", "v").collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("grp") === "g" &&
      out.head.getAs[Double]("v") === 100.0)
    assert(out.head.getAs[Double]("med") === 5.5 &&
      out.head.getAs[Double]("mad") === 2.5)
  }

  test("burstiness: VMR exact from integer sums, singleton key yields null") {
    // key a: days with 2,2,2 events → var 0, VMR 0; key b: 1,5 → var 8, VMR 8/3
    val rows =
      Seq("2024-01-01", "2024-01-01", "2024-01-02", "2024-01-02",
        "2024-01-03", "2024-01-03").map(("a", _)) ++
        (Seq.fill(1)(("b", "2024-01-01")) ++ Seq.fill(5)(("b", "2024-01-02"))) ++
        Seq(("c", "2024-01-01"))
    val df = rows.toDF("k", "s").withColumn("ts", col("s").cast("timestamp"))
    val out = Stats.burstiness(df, "k", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 3L && out("a").getDouble(2) === 2.0)
    assert(out("a").getDouble(3) === 0.0 && out("a").getDouble(4) === 0.0)
    assert(out("b").getDouble(2) === 3.0 && out("b").getDouble(3) === 8.0)
    assert(out("b").getDouble(4) === 2.666667)
    assert(out("c").getLong(1) === 1L && out("c").isNullAt(3) && out("c").isNullAt(4))
  }

  test("simpsonsCheck: kidney-stone numbers flip sign between pooled and stratified") {
    // A wins both strata (small: .931 vs .867, large: .730 vs .687) yet
    // loses pooled (.780 vs .826) — the canonical confounding example
    def rows(g: String, st: String, succ: Int, total: Int) =
      Seq.fill(succ)((g, st, true)) ++ Seq.fill(total - succ)((g, st, false))
    val df = (rows("A", "small", 81, 87) ++ rows("B", "small", 234, 270) ++
      rows("A", "large", 192, 263) ++ rows("B", "large", 55, 80))
      .toDF("grp", "stratum", "ok")
    val out = Stats.simpsonsCheck(df, "grp", "stratum", "ok", "A", "B")
      .collect().map(r => r.getString(0) -> r).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val small = out("small")
    assert(small.getLong(1) === 87L && small.getLong(2) === 81L)
    assert(small.getDouble(5) === r6(81.0 / 87) && small.getDouble(6) === r6(234.0 / 270))
    // pooled favors B, weighted favors A → flip on every row
    val pooled = 273.0 / 350 - 289.0 / 350
    assert(small.getDouble(7) === r6(pooled) && pooled < 0)
    assert(small.getDouble(8) > 0 && small.getBoolean(9))
    assert(out("large").getBoolean(9))
  }

  test("psi: smoothed shares, one-sided bins finite, contributions non-negative") {
    val ref = Seq("a", "a", "b").toDF("bin")
    val cur = Seq("a", "b", "b", "b", "c").toDF("bin")
    val out = Stats.psi(ref, cur, "bin").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // k = 3 bins, totals 3 and 5 → denominators 4.5 and 6.5
    val (pa, qa) = (2.5 / 4.5, 1.5 / 6.5)
    assert(out("a") === ((2L, 1L, r6(pa), r6(qa),
      r6((pa - qa) * math.log(pa / qa)))))
    // bin absent from ref is still finite
    val (pc, qc) = (0.5 / 4.5, 1.5 / 6.5)
    assert(out("c")._1 === 0L &&
      out("c")._5 === r6((pc - qc) * math.log(pc / qc)))
    // (p−q) and ln(p/q) always share sign → every contribution ≥ 0
    assert(out.values.forall(_._5 >= 0.0))
  }

  test("theilSenDaily: median pairwise slope, Mann-Kendall S and tau, outlier robustness") {
    import java.sql.Timestamp
    def ts(day: Int, i: Int) =
      Timestamp.valueOf(f"2024-01-0$day%d 00:00:${i % 60}%02d")
    // type "up": daily counts 1,2,3,4 (days 1..4) → all 6 pairs rising:
    // S=6, tau=1, every pairwise slope 1 → sen=1
    val up = for (d <- 1 to 4; i <- 1 to d) yield (ts(d, i), "up")
    // type "spike": counts 2,2,8,2 — OLS would tilt, Theil–Sen holds 0:
    // slopes: (2,2):0 (2,8):3 (2,2):0 (2,8):6 (2,2):0 (8,2):-6 →
    // sorted -6,0,0,0,3,6 → median 0; signs: two +1, one -1 → S=1,
    // tau = 1/6 (MK sees the spike; the slope does not move)
    val spike = (for (i <- 1 to 2) yield (ts(1, i), "spike")) ++
      (for (i <- 1 to 2) yield (ts(2, i), "spike")) ++
      (for (i <- 1 to 8) yield (ts(3, i), "spike")) ++
      (for (i <- 1 to 2) yield (ts(4, i), "spike"))
    val events = (up ++ spike).toDF("ts", "event_type")
    val out = Stats.theilSenDaily(events, "event_type", "ts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("up") === ((6L, 6L, 1.0, 1.0)))
    assert(out("spike") === ((6L, 1L, 0.166667, 0.0)),
      "one spike day cannot tilt the Theil-Sen slope")
  }

  test("groupKsDrift: one-vs-rest ECDF gaps hand-checked, single-group null") {
    // a = {1,2}, b = {2,3}: for a-vs-rest the max gap is at v=1 or v=2,
    // both |1/2 − 0/2| = 0.5; symmetric for b
    val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val out = Stats.groupKsDrift(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("a") === ((2L, 2L, 0.5)))
    assert(out("b") === ((2L, 2L, 0.5)))
    // identical distributions → ks 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    assert(Stats.groupKsDrift(same, "g", "v")
      .collect().forall(_.getDouble(3) === 0.0))
    val solo = Stats.groupKsDrift(df.filter($"g" === "a"), "g", "v")
      .collect().head
    assert(solo.isNullAt(3), "no rest to compare against")
  }

  test("jsDivergence: hand-checked contributions, one-sided bin finite, total ≤ ln 2") {
    val ref = Seq("a", "a", "b").toDF("bin")
    val cur = Seq("a", "b", "b", "b", "c").toDF("bin")
    val out = Stats.jsDivergence(ref, cur, "bin").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(p: Double, q: Double): Double = {
      val m = (p + q) / 2
      (if (p > 0) p * math.log(p / m) / 2 else 0.0) +
        (if (q > 0) q * math.log(q / m) / 2 else 0.0)
    }
    // unsmoothed shares: totals 3 and 5
    assert(out("a") === ((2L, 1L, r6(2.0 / 3), r6(1.0 / 5),
      r6(term(2.0 / 3, 1.0 / 5)))))
    // bin absent from ref: finite ½q·ln 2 contribution
    assert(out("c")._1 === 0L &&
      out("c")._5 === r6((1.0 / 5) * math.log(2.0) / 2))
    // per-bin terms are ≥ 0 (log-sum inequality) and the total ≤ ln 2
    assert(out.values.forall(_._5 >= 0.0))
    assert(out.values.map(_._5).sum <= math.log(2.0) + 1e-9)
  }

  test("bhAdjust: the BH'95 worked example rejects exactly the first 4") {
    // The 15 p-values from Benjamini & Hochberg (JRSS-B'95 §4, the
    // multiple-endpoints example). At α=0.05 the step-up rule rejects
    // H(1)..H(4): k = 4 is the largest i with p(i) ≤ i·0.05/15
    // (p(4)=0.0095 ≤ 0.0133 while p(5)=0.0201 > 0.0167 — note the
    // PER-TEST rule would reject 9, Bonferroni 0.05/15 only 3).
    val ps = Seq(0.0001, 0.0004, 0.0019, 0.0095, 0.0201, 0.0278, 0.0298,
      0.0344, 0.0459, 0.3240, 0.4262, 0.5719, 0.6528, 0.7590, 1.0000)
    val tests = ps.zipWithIndex.map { case (p, i) => (f"h$i%02d", p) }
      .toDF("hyp", "p")
    val out = Stats.bhAdjust(tests, "p", Seq("hyp"), alpha = 0.05)
      .orderBy(col("bh_rank")).collect()
    assert(out.map(_.getAs[Int]("bh_rank")).toSeq === (1 to 15))
    val adj = out.map(_.getAs[Double]("p_adj"))
    // step-up monotone, capped at 1, hand-checked head:
    // p_adj(1) = min_j 15·p(j)/j = 15·0.0001/1 = 0.0015
    assert(adj.head === 0.0015)
    assert(adj.zip(adj.tail).forall { case (a, b) => a <= b })
    assert(adj.forall(_ <= 1.0))
    // suffix-min monotonization actually fires: raw 15·p(8)/8 = 0.0645
    // exceeds 15·p(9)/9 = 0.0765? no — check the classic inversion at
    // ranks 6..8: 15·p(6)/6=0.0695, 15·p(7)/7=0.0639 → p_adj(6) takes
    // the later, smaller value
    assert(adj(5) === adj(6))
    assert(out.count(_.getAs[Boolean]("significant")) === 4)
    assert(out.filter(_.getAs[Boolean]("significant"))
      .map(_.getAs[String]("hyp")).toSet === Set("h00", "h01", "h02", "h03"))
  }
  test("spearman: monotone invariance, ties mid-ranked, zero-variance null") {
    // y = x cubed is a nonlinear monotone map -> rho exactly 1; reversed -> -1
    val mono = (1 to 4).map(i => ("up", i.toDouble, math.pow(i, 3))) ++
      (1 to 4).map(i => ("dn", i.toDouble, -math.pow(i, 3)))
    val m = Stats.spearman(mono.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m === Map("up" -> 1.0, "dn" -> -1.0))
    // ties: x = [1,1,2] -> rx = [1.5,1.5,3]; hand Pearson = sqrt(3)/2
    val t = Stats.spearman(
      Seq(("t", 1.0, 1.0), ("t", 1.0, 2.0), ("t", 2.0, 3.0))
        .toDF("g", "x", "y"), "g", "x", "y").collect().head
    assert(t.getLong(1) === 3L && t.getDouble(2) === 0.866025)
    // constant x -> zero rank variance -> null, never NaN/error
    val z = Stats.spearman(
      Seq(("z", 5.0, 1.0), ("z", 5.0, 2.0)).toDF("g", "x", "y"),
      "g", "x", "y").collect().head
    assert(z.isNullAt(2))
    // null pairs are dropped before ranking
    val withNull = ((1 to 4).map(i =>
      ("up", Some(i.toDouble), math.pow(i, 3))) :+
      (("up", None: Option[Double], 9.0))).toDF("g", "x", "y")
    val n = Stats.spearman(withNull, "g", "x", "y").collect().head
    assert(n.getLong(1) === 4L && n.getDouble(2) === 1.0)
  }
  test("conformalRadius: exact order statistic, dyadic alpha, small-group null") {
    // |resid| = 1..7 in group g: n=7, r = ceil(8*0.875) = 7 -> radius 7;
    // alpha=0.5 -> r = ceil(8*0.5) = 4 -> radius 4
    val df = ((1 to 7).map(i => ("g", i.toDouble * (if (i % 2 == 0) -1 else 1)))
      ++ Seq(("tiny", 1.0), ("tiny", 2.0))).toDF("grp", "resid")
    val strict = Stats.conformalRadius(df, "grp", "resid")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    assert(strict("g") === ((7L, 7L, 7.0)))
    // r = ceil(3*0.875) = 3 > n = 2: level not certifiable -> null radius
    assert(strict("tiny") === ((2L, 3L, -1.0)))
    val half = Stats.conformalRadius(df, "grp", "resid", alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(half("g") === 4.0)
    // marginal coverage on the calibration set itself: >= 1 - alpha
    val rad = half("g")
    val cov = (1 to 7).count(i => i.toDouble <= rad) / 7.0
    assert(cov >= 0.5, s"coverage $cov")
    intercept[IllegalArgumentException](
      Stats.conformalRadius(df, "grp", "resid", alpha = 0.0))
  }
  test("diffInDiff: hand-checked 2x2, degenerate cells null out") {
    // treat: pre {1,3} -> m=2, post {4,8} -> m=6 (delta 4)
    // control: pre {2,4} -> m=3, post {3,7} -> m=5 (delta 2) => did = 2
    // each cell var_samp = 2, 8, 2, 8; se = sqrt(8/2+2/2+8/2+2/2) = sqrt(10)
    val df = Seq(
      ("t", false, 1.0), ("t", false, 3.0), ("t", true, 4.0), ("t", true, 8.0),
      ("c", false, 2.0), ("c", false, 4.0), ("c", true, 3.0), ("c", true, 7.0),
      ("ignored", true, 99.0)).toDF("arm", "post", "v")
    val r = Stats.diffInDiff(df, "arm", "t", "c", "post", "v").collect().head
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((0 to 3).map(r.getLong) === Seq(2L, 2L, 2L, 2L))
    assert(Seq(4, 5, 6, 7).map(r.getDouble) === Seq(2.0, 6.0, 3.0, 5.0))
    assert(r.getDouble(8) === 2.0)                  // did
    assert(r.getDouble(9) === r6(math.sqrt(10.0)))  // se
    assert(r.getDouble(10) === r6(2.0 / math.sqrt(10.0)))
    // a single-row cell leaves se/t null, never NaN
    val tiny = Seq(("t", false, 1.0), ("t", true, 2.0),
      ("c", false, 1.0), ("c", true, 1.0)).toDF("arm", "post", "v")
    val t2 = Stats.diffInDiff(tiny, "arm", "t", "c", "post", "v")
      .collect().head
    assert(t2.getDouble(8) === 1.0 && t2.isNullAt(9) && t2.isNullAt(10))
    intercept[IllegalArgumentException](
      Stats.diffInDiff(df, "arm", "t", "t", "post", "v"))
  }

  test("anovaF: hand-checked three-class example; degenerate inputs null") {
    // A=[1,2,3] B=[2,3,4] C=[6,7,8]: means 2,3,7, grand mean 4
    // SSB = 3·4 + 3·1 + 3·9 = 42 ; SSW = 2+2+2 = 6
    // F = (42/2)/(6/6) = 21 ; η² = 42/48 = 0.875
    val df = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 2.0, "b" -> 3.0, "b" -> 4.0,
      "c" -> 6.0, "c" -> 7.0, "c" -> 8.0).toDF("cls", "v")
    val r = Stats.anovaF(df, "cls", "v").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 9L)
    assert(r.getDouble(2) === 42.0 && r.getDouble(3) === 6.0)
    assert(r.getDouble(4) === 21.0 && r.getDouble(5) === 0.875)
    // two arms: F = t² of the equal-variance t — sanity on k=2
    val two = df.filter(col("cls") =!= "c")
    val r2 = Stats.anovaF(two, "cls", "v").collect().head
    // SSB = 3·(2−2.5)² + 3·(3−2.5)² = 1.5 ; SSW = 4 ; F = 1.5/(4/4) = 1.5
    assert(r2.getDouble(4) === 1.5)
    // single class → null F; zero within-variance → null F
    val one = Seq("a" -> 1.0, "a" -> 2.0).toDF("cls", "v")
    assert(Stats.anovaF(one, "cls", "v").collect().head.isNullAt(4))
    val flat = Seq("a" -> 1.0, "a" -> 1.0, "b" -> 2.0, "b" -> 2.0)
      .toDF("cls", "v")
    assert(Stats.anovaF(flat, "cls", "v").collect().head.isNullAt(4))
  }

  test("kruskalWallis: tie-free and tied hand examples; all-tied null") {
    // A=[1,2,3] B=[4,5,6]: R_A=6, R_B=15
    // H = 12/42·(12+75) − 21 = 174/7 − 21 = 27/7 ≈ 3.857143
    val df = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 4.0, "b" -> 5.0, "b" -> 6.0).toDF("cls", "v")
    val r = Stats.kruskalWallis(df, "cls", "v").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 6L)
    assert(math.abs(r.getDouble(2) - 27.0 / 7.0) < 1e-6, r.toString)
    // ties: A=[1,1] B=[2,2]: midranks 1.5,1.5,3.5,3.5 → R_A=3, R_B=7
    // H_raw = 12/20·(4.5+24.5) − 15 = 17.4 − 15 = 2.4
    // C = 1 − (6+6)/(64−4) = 0.8 → H = 3.0
    val tied = Seq("a" -> 1.0, "a" -> 1.0, "b" -> 2.0, "b" -> 2.0)
      .toDF("cls", "v")
    val rt = Stats.kruskalWallis(tied, "cls", "v").collect().head
    assert(rt.getDouble(2) === 3.0, rt.toString)
    // every value identical → tie correction 0 → null H
    val all = Seq("a" -> 5.0, "b" -> 5.0, "b" -> 5.0).toDF("cls", "v")
    assert(Stats.kruskalWallis(all, "cls", "v").collect().head.isNullAt(2))
  }

  test("mantelHaenszel: stratum-confounded crude OR corrected to 4.0") {
    // two strata, each with within-stratum OR = 4, but treatment
    // correlates with the high-base-rate stratum → crude OR = 9
    def rows(st: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((st, "t", true)) ++ Seq.fill(b)((st, "t", false)) ++
        Seq.fill(c)((st, "c", true)) ++ Seq.fill(d)((st, "c", false))
    val df = (rows("s1", 8, 2, 1, 1) ++ rows("s2", 1, 1, 2, 8))
      .toDF("st", "arm", "y")
    val r = Stats.mantelHaenszel(df, "st", "arm", "t", "y").collect().head
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(1) === 9.0, "crude OR")
    assert(r.getDouble(2) === 4.0, "MH OR")
    // zero MH denominator (no discordant cells) → null
    val deg = Seq(("s1", "t", true), ("s1", "c", true)).toDF("st", "arm", "y")
    val rd = Stats.mantelHaenszel(deg, "st", "arm", "t", "y").collect().head
    assert(rd.isNullAt(2))
  }

  test("mannWhitney: hand-checked U/z; perfect separation; all-tied null") {
    // pos = {1,2,3}, neg = {4,5,6}: rank-sum(pos) = 6 → U = 0,
    // rank-biserial = −1 (total separation), σ² = 9/12·7 = 5.25,
    // z = −4.5/√5.25
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false)).toDF("s", "y")
    val r = Stats.mannWhitney(df, "s", "y").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 0.0 && r.getDouble(3) === -1.0)
    val zExp = BigDecimal(-4.5 / math.sqrt(5.25))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === zExp, r.toString)
    // ties: pos {1,1}, neg {1,1} → U = n1·n2/2 (no separation), but the
    // tie correction zeroes the variance → null z, rank-biserial 0
    val tied = Seq((1.0, true), (1.0, true), (1.0, false), (1.0, false))
      .toDF("s", "y")
    val rt = Stats.mannWhitney(tied, "s", "y").collect().head
    assert(rt.getDouble(2) === 2.0 && rt.getDouble(3) === 0.0)
    assert(rt.isNullAt(4))
    // single-class input → null effect/z
    val one = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    assert(Stats.mannWhitney(one, "s", "y").collect().head.isNullAt(4))
  }

  test("brownForsythe: spread difference detected, equal spreads F=0") {
    // a = [1,2,3] (adev 1,0,1), b = [10,20,30] (adev 10,0,10):
    // SSB = 3·9 + 3·9 = 54 ; SSW = 2/3 + 200/3·… — means 2/3 vs 20/3
    val df = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 10.0, "b" -> 20.0, "b" -> 30.0).toDF("cls", "v")
    val r = Stats.brownForsythe(df, "cls", "v").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 6L)
    assert(r.getDouble(2) === 54.0, "ss_between")
    assert(r.getDouble(4) > 1.0, "unequal spreads must score high F")
    // same spread at different locations → adevs identical → F = 0
    val eq = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 11.0, "b" -> 12.0, "b" -> 13.0).toDF("cls", "v")
    val re = Stats.brownForsythe(eq, "cls", "v").collect().head
    assert(re.getDouble(2) === 0.0 && re.isNullAt(4) === false
      || re.getDouble(2) === 0.0, re.toString)
    assert(re.getDouble(4) === 0.0 || re.isNullAt(4), re.toString)
  }

  test("frequency-weighted percentile over a histogram == plain exact") {
    // the binned contract rfm/conversionLatency/quantileTreatmentEffect
    // rely on: percentile(v, p, cnt) over (value, count) interpolates
    // bit-identically to percentile(v, p) over the raw rows — ties and
    // interpolated (non-data-point) quantiles included
    import org.apache.spark.sql.functions.{count, expr, lit}
    val raw = Seq(3.0, 1.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0)
      .toDF("v")
    val ps = Seq(0.1, 0.2, 0.25, 0.5, 0.75, 0.9, 0.95)
    val exact = raw.agg(
      expr(s"percentile(v, array(${ps.map(_ + "D").mkString(",")}))"))
      .collect().head.getSeq[Double](0)
    val binned = raw.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .agg(expr(s"percentile(v, array(${ps.map(_ + "D").mkString(",")}), c)"))
      .collect().head.getSeq[Double](0)
    assert(binned === exact)
  }

  test("quantileTreatmentEffect: exact interpolated quantile diffs") {
    // arm a = [1,2,3,4], arm b = [2,4,6,8] in one group: b = 2·a →
    // every quantile of b is twice a's, qte = −q_a
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(v => ("g", "t", v)) ++
      Seq(2.0, 4.0, 6.0, 8.0).map(v => ("g", "c", v)) ++
      Seq(("lonely", "t", 5.0))) // group missing arm c → dropped
      .toDF("grp", "arm", "v")
    val out = Stats.quantileTreatmentEffect(df, "grp", "arm", "v",
        armA = "t", armB = "c")
      .collect().map(r => r.getDouble(3) ->
        ((r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out.keySet === Set(0.25, 0.5, 0.75, 0.9))
    assert(out(0.5) === ((2.5, 5.0, -2.5)))
    assert(out(0.25) === ((1.75, 3.5, -1.75)))
    assert(out(0.9) === ((3.7, 7.4, -3.7)))
    // the arm-missing group is absent entirely
    val rows = Stats.quantileTreatmentEffect(df, "grp", "arm", "v", "t", "c")
      .select("grp").distinct().collect().map(_.getString(0)).toSet
    assert(rows === Set("g"))
    intercept[IllegalArgumentException](
      Stats.quantileTreatmentEffect(df, "grp", "arm", "v", "t", "c",
        qs = Seq(0.0)))
  }

  test("gainCurve: perfect ranking captures everything in the top slice") {
    // 10 rows, scores 10..1, positives at scores 10 and 9 (the top 2):
    // halves (buckets=2): top half captures 2/2 → lift 2.0; bottom
    // half cumulative = all rows, capture 1.0, lift 1.0
    val df = (1 to 10).map(i => (i.toDouble, i >= 9)).toDF("s", "y")
    val out = Stats.gainCurve(df, "s", "y", buckets = 2)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out(1) === ((5L, 2L, 1.0, 2.0)))
    assert(out(2) === ((10L, 2L, 1.0, 1.0)))
    // tie block spanning a boundary lands in its LAST row's bucket:
    // 4 rows all score 1 → one block, bucket 2; bucket 1 has no rows
    val tied = Seq((1.0, true), (1.0, false), (1.0, false), (1.0, false))
      .toDF("s", "y")
    val tout = Stats.gainCurve(tied, "s", "y", buckets = 2)
      .collect().map(_.getInt(0)).toSet
    assert(tout === Set(2))
    intercept[IllegalArgumentException](Stats.gainCurve(df, "s", "y", 1))
  }

  test("cramersV: perfect association 1.0, independence 0, degenerate null") {
    val perfect = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")))
      .toDF("u", "v")
    val p = Stats.cramersV(perfect, "u", "v").collect().head
    assert(p.getLong(0) === 2L && p.getLong(1) === 2L && p.getLong(2) === 10L)
    assert(p.getDouble(3) === 10.0 && p.getDouble(4) === 1.0) // χ²=n, V=1
    val indep = (for (u <- Seq("a", "b"); v <- Seq("x", "y")) yield (u, v))
      .toDF("u", "v")
    val i = Stats.cramersV(indep, "u", "v").collect().head
    assert(i.getDouble(3) === 0.0 && i.getDouble(4) === 0.0)
    // one-dimensional table: nothing to associate → null V
    val deg = Seq(("a", "x"), ("a", "y")).toDF("u", "v")
    assert(Stats.cramersV(deg, "u", "v").collect().head.isNullAt(4))
  }

  test("cramersV: null categories filtered — V computed on non-null subset") {
    val clean = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")))
      .toDF("u", "v")
    // the same table plus null-category rows on both axes: unfiltered,
    // the null level's expected mass would enter chi2 as pure deviation
    // (the grid equi-join never matches null keys) and V could exceed 1
    val dirty = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")) ++
      Seq((null.asInstanceOf[String], "x"), ("a", null.asInstanceOf[String]),
        (null.asInstanceOf[String], null.asInstanceOf[String])))
      .toDF("u", "v")
    val c = Stats.cramersV(clean, "u", "v").collect().head
    val d = Stats.cramersV(dirty, "u", "v").collect().head
    assert(c.toSeq === d.toSeq)
    assert(d.getLong(2) === 10L && d.getDouble(4) === 1.0)
  }

  test("jsdMatrix: identical mixes 0, disjoint mixes ln2, all pairs") {
    // s1 and s2 share the same 50/50 mix → JSD 0;
    // s3 is disjoint → JSD ln 2 against both
    val df = (Seq.fill(2)(("s1", "en")) ++ Seq.fill(2)(("s1", "pt")) ++
      Seq.fill(3)(("s2", "en")) ++ Seq.fill(3)(("s2", "pt")) ++
      Seq.fill(4)(("s3", "de"))).toDF("src", "lang")
    val out = Stats.jsdMatrix(df, "src", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(out.keySet === Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    assert(out(("s1", "s2")) === 0.0)
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("s1", "s3")) === ln2 && out(("s2", "s3")) === ln2)
  }

  test("giniIndex: equality 0, concentration near 1, hand-checked middle") {
    val df = (Seq.fill(4)(1L).zipWithIndex.map { case (v, i) =>
      ("flat", s"u$i", v) } ++
      Seq(("hot", "u0", 0L), ("hot", "u1", 0L), ("hot", "u2", 0L),
        ("hot", "u3", 100L)) ++
      Seq(("mid", "u0", 1L), ("mid", "u1", 3L)))
      .toDF("grp", "unit", "v")
    val out = Stats.giniIndex(df, "grp", "unit", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // equal values → G = 0 exactly
    assert(out("flat").getDouble(3) === 0.0)
    // all mass on one of four units → G = (n−1)/n = 0.75
    assert(out("hot").getDouble(3) === 0.75)
    // [1,3]: Σr·v = 1 + 6 = 7 → G = 14/8 − 3/2 = 0.25
    assert(out("mid").getDouble(3) === 0.25)
    // matches the text-specific giniConcentration on the same weights
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "g", "a b b c c c c")).toDF("id", "g", "text")
    val viaText = graft.operators.TextAnalytics
      .giniConcentration(docs, "g", "text").collect().head.getDouble(3)
    val weights = Seq(("g", "a", 1L), ("g", "b", 2L), ("g", "c", 4L))
      .toDF("grp", "unit", "v")
    val viaGeneric = Stats.giniIndex(weights, "grp", "unit", "v")
      .collect().head.getDouble(3)
    assert(viaText === viaGeneric)
  }

  test("giniIndex: negative-value units are out of contract and filtered") {
    // with the negative unit admitted, the sorted-rank form would leave
    // [0,1]; filtered, the group is the hand-checked [1,3] case (G=0.25)
    // with n_units/total counting only the in-contract units
    val df = Seq(("g", "neg", -5L), ("g", "u0", 1L), ("g", "u1", 3L))
      .toDF("grp", "unit", "v")
    val r = Stats.giniIndex(df, "grp", "unit", "v").collect().head
    assert(r.getLong(1) === 2L && r.getLong(2) === 4L)
    assert(r.getDouble(3) === 0.25)
  }

  test("wasserstein1: unit translation costs 1, identical costs 0") {
    val df = Seq(("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 2.0))
      .toDF("side", "v")
    val r = Stats.wasserstein1(df, "side", "v", "a", "b").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    // {0,1} shifted to {1,2}: every unit of mass moves distance 1
    assert(r.getDouble(2) === 1.0)
    val same = Seq(("a", 3.0), ("a", 7.0), ("b", 3.0), ("b", 7.0))
      .toDF("side", "v")
    assert(Stats.wasserstein1(same, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.0)
  }

  test("cliffsDelta: full dominance +1, symmetric 0, hand-checked middle") {
    val dom = Seq(("a", 1.0), ("a", 2.0), ("b", 0.0)).toDF("side", "v")
    assert(Stats.cliffsDelta(dom, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 1.0)
    // a={3,2}, b={1,3}: pairs (3,1)>, (3,3)=, (2,1)>, (2,3)< → (2−1)/4
    val mid = Seq(("a", 3.0), ("a", 2.0), ("b", 1.0), ("b", 3.0))
      .toDF("side", "v")
    val r = Stats.cliffsDelta(mid, "side", "v", "a", "b").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.25)
  }

  test("cramerVonMises: identical 0, hand-checked disjoint singletons") {
    val same = Seq(("a", 0.0), ("a", 1.0), ("b", 0.0), ("b", 1.0))
      .toDF("side", "v")
    assert(Stats.cramerVonMises(same, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.0)
    // a={0}, b={1}: pooled point 0 has gap 1 (weight 1), point 1 gap 0
    // → T = (1·1/2²)·1 = 0.25
    val disj = Seq(("a", 0.0), ("b", 1.0)).toDF("side", "v")
    assert(Stats.cramerVonMises(disj, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.25)
  }

  test("mcnemar: discordant-only evidence, null on full concordance") {
    val df = Seq((true, true), (true, false), (true, false), (false, true))
      .toDF("a", "b")
    val r = Stats.mcnemar(df, "a", "b").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 2L && r.getLong(2) === 1L)
    assert(r.getDouble(3) === 1.0 / 3.0)
    val conc = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Stats.mcnemar(conc, "a", "b").collect().head.isNullAt(3))
  }

  test("kendallTauB: perfect concordance 1, tie-grid 0, n/C/D exact") {
    val mono = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val r1 = Stats.kendallTauB(mono, "x", "y").collect().head
    assert(r1.getLong(1) === 3L && r1.getLong(2) === 0L)
    assert(r1.getDouble(3) === 1.0)
    // x=[1,1,2,2], y=[1,2,1,2]: C=1, D=1, n1=n2=2 → τb = 0
    val grid = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("x", "y")
    val r2 = Stats.kendallTauB(grid, "x", "y").collect().head
    assert(r2.getLong(0) === 4L && r2.getLong(1) === 1L && r2.getLong(2) === 1L)
    assert(r2.getDouble(3) === 0.0)
  }

  test("forecastDecomposition: Murphy identity exact on bin-constant scores") {
    // bin 0: conf .05, acc .5 (w=2); bin 9: conf .95, acc 1 (w=2);
    // base rate .75 — Brier .2275, ECE .25, rel .1025, res .0625,
    // unc .1875; scores constant within bins → brier = rel−res+unc
    val df = Seq((0.05, false), (0.05, true), (0.95, true), (0.95, true))
      .toDF("s", "y")
    val r = Stats.forecastDecomposition(df, "s", "y", bins = 10)
      .collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === 0.2275)
    assert(r.getDouble(2) === 0.25)
    assert(r.getDouble(3) === 0.1025)
    assert(r.getDouble(4) === 0.0625)
    assert(r.getDouble(5) === 0.1875)
    assert(math.abs(r.getDouble(3) - r.getDouble(4) + r.getDouble(5)
      - r.getDouble(1)) < 1e-12)
  }

  test("yuenTrimmedTest: hand-checked trim/winsorize, whale-proof") {
    // a = [0,1,2,3,100]: g=1, h=3, trimmed mean 2, winsorized
    // [1,1,2,3,3] → s²w = 1, d = 4/6; b = [4,5,6,7,1000]: mean 6,
    // s²w = 1, d = 4/6 → t = −4/√(4/3) = −2√3, c = ½ → df = 4.
    // The 100/1000 whales never touch the statistic beyond the clamp.
    val df = (Seq(0.0, 1.0, 2.0, 3.0, 100.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0, 7.0, 1000.0).map(("b", _))).toDF("arm", "v")
    val r = Stats.yuenTrimmedTest(df, "arm", "v", "a", "b").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 2.0 && r.getDouble(3) === 6.0)
    val expT = BigDecimal(-2.0 * math.sqrt(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === expT)
    assert(r.getDouble(5) === 4.0)
  }

  test("isotonicCalibration: PAV pools the inverted prefix, keeps the rest") {
    // bin 0: rate 1/2 (w=2), bin 5: rate 0 (w=1), bin 9: rate 1 (w=1).
    // 1/2 > 0 violates monotonicity → PAV pools bins 0+5 to (1+0)/(2+1);
    // bin 9 stays at 1.
    val df = Seq((0.05, true), (0.05, false), (0.55, false), (0.95, true))
      .toDF("s", "y")
    val out = Stats.isotonicCalibration(df, "s", "y", bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(0L, 5L, 9L))
    assert(out(0L).getDouble(2) === 0.5 && out(5L).getDouble(2) === 0.0)
    assert(out(0L).getDouble(3) === 1.0 / 3.0)
    assert(out(5L).getDouble(3) === 1.0 / 3.0)
    assert(out(9L).getDouble(3) === 1.0)
    // already-monotone rates are returned untouched, and the fit is
    // always nondecreasing
    val mono = Seq((0.05, false), (0.55, true), (0.55, false), (0.95, true))
      .toDF("s", "y")
    val fit = Stats.isotonicCalibration(mono, "s", "y", bins = 10)
      .collect().sortBy(_.getLong(0))
    assert(fit.map(_.getDouble(3)).toSeq === Seq(0.0, 0.5, 1.0))
    assert(fit.sliding(2).forall(p => p.head.getDouble(3) <= p.last.getDouble(3)))
  }

  test("energyDistance: unit translation, identical, and metric scaling") {
    // {0,0} vs {1,1}: F−G = 1 on [0,1) → E = 2·∫1² = 2 (= 2E|X−Y| −
    // E|X−X'| − E|Y−Y'| = 2·1 − 0 − 0)
    val shift = Seq(("a", 0.0), ("a", 0.0), ("b", 1.0), ("b", 1.0))
      .toDF("side", "v")
    val r = Stats.energyDistance(shift, "side", "v", "a", "b").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 2.0)
    // identical distributions → exactly 0 (metric property)
    val same = Seq(("a", 3.0), ("a", 7.0), ("b", 3.0), ("b", 7.0))
      .toDF("side", "v")
    assert(Stats.energyDistance(same, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.0)
    // half-overlap: a={0,1}, b={1,2} → F−G = 1/2 on [0,1)∪[1,2) →
    // E = 2·(0.25+0.25) = 1
    val half = Seq(("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 2.0))
      .toDF("side", "v")
    assert(Stats.energyDistance(half, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 1.0)
  }

  test("theilDecomposition: equal within, hand-checked between, exclusions") {
    // g1 = {1,1}, g2 = {2,2}: T_g = 0 both; μ = 1.5, s1 = 1/3, s2 = 2/3;
    // T_between = (1/3)ln(2/3) + (2/3)ln(4/3)
    val df = Seq(("g1", 1L), ("g1", 1L), ("g2", 2L), ("g2", 2L))
      .toDF("g", "v")
    val rows = Stats.theilDecomposition(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    val g1 = rows("g1"); val g2 = rows("g2")
    assert(g1.getLong(1) === 2L && g1.getDouble(2) === 1.0)
    assert(g2.getDouble(2) === 2.0)
    assert(g1.getDouble(3) === 1.0 / 3.0 && g2.getDouble(3) === 2.0 / 3.0)
    assert(g1.getDouble(4) === 0.0 && g2.getDouble(4) === 0.0)
    val tb = BigDecimal(math.log(2.0 / 3.0) / 3.0
      + 2.0 * math.log(4.0 / 3.0) / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g1.getDouble(5) === tb, "t_between")
    assert(g1.getDouble(6) === 0.0, "t_within")
    assert(g1.getDouble(7) === tb, "t_total")
    // non-positive values are excluded (ln contract), like giniIndex
    val mixed = Seq(("g", 0L), ("g", -5L), ("g", 1L), ("g", 1L))
      .toDF("g", "v")
    val m = Stats.theilDecomposition(mixed, "g", "v").collect().head
    assert(m.getLong(1) === 2L && m.getDouble(7) === 0.0)
  }

  test("sprtDaily: hand-checked LLR trajectory and boundary decisions") {
    import java.sql.Timestamp
    // p0=0.2 vs p1=0.8 (lS = ln4, lF = ln¼), α=β=0.05 → a = ln19,
    // b = −ln19. day1: 2/10 → llr = (2−8)·ln4 ≤ b → accept_h0;
    // day2 adds 5/5 → cum 7/15 → llr = (7−8)·ln4, inside → continue
    def t(d: Int, i: Int) = Timestamp.valueOf(f"2024-01-0$d 10:$i%02d:00")
    val day1 = (1 to 10).map(i => (t(1, i), if (i <= 2) "s" else "f"))
    val day2 = (1 to 5).map(i => (t(2, i), "s"))
    val ev = (day1 ++ day2).toDF("ts", "et")
    val out = Stats.sprtDaily(ev, "ts", "et", "s", p0 = 0.2, p1 = 0.8,
        alpha = 0.05, beta = 0.05)
      .collect().sortBy(_.getTimestamp(0).getTime)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l4 = math.log(0.8 / 0.2); val lq = math.log(0.2 / 0.8)
    assert(out(0).getLong(1) === 10L && out(0).getLong(2) === 2L)
    assert(out(0).getDouble(3) === r6(2.0 * l4 + 8.0 * lq))
    assert(out(0).getString(4) === "accept_h0")
    assert(out(1).getLong(1) === 15L && out(1).getLong(2) === 7L)
    assert(out(1).getDouble(3) === r6(7.0 * l4 + 8.0 * lq))
    assert(out(1).getString(4) === "continue")
  }

  test("ebBetaBinomial: hand-checked MoM fit and degenerate fallback") {
    // units: A 1/4 (r=.25), B 3/4 (r=.75): μ=.5, v=.125 → α+β = 1 →
    // α = β = 0.5; shrunk A = 1.5/5 = 0.3, B = 3.5/5 = 0.7
    val df = Seq(("A", true), ("A", false), ("A", false), ("A", false),
      ("B", true), ("B", true), ("B", true), ("B", false))
      .toDF("u", "s")
    val out = Stats.ebBetaBinomial(df, "u", col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getLong(1) === 4L && out("A").getLong(2) === 1L)
    assert(out("A").getDouble(3) === 0.25)
    assert(out("A").getDouble(4) === 0.5 && out("A").getDouble(5) === 0.5)
    assert(out("A").getDouble(6) === 0.3)
    assert(out("B").getDouble(6) === 0.7)
    // zero rate variance → no fit: null priors, shrunk = raw
    val flat = Seq(("A", true), ("A", false), ("B", true), ("B", false))
      .toDF("u", "s")
    val f = Stats.ebBetaBinomial(flat, "u", col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(f("A").isNullAt(4) && f("A").isNullAt(5))
    assert(f("A").getDouble(6) === 0.5)
  }

  test("clusterAgreement: identical 1/1, crossed −0.5/0, degenerate null") {
    // identical partitions of 4 rows
    val same = Seq((1, "x", "p"), (2, "x", "p"), (3, "y", "q"), (4, "y", "q"))
      .toDF("id", "a", "b")
    val s = Stats.clusterAgreement(same, "a", "b").collect().head
    assert(s.getLong(0) === 4L && s.getLong(1) === 2L && s.getLong(2) === 2L)
    assert(s.getDouble(3) === 1.0 && s.getDouble(4) === 1.0)
    // fully crossed 2×2: every contingency cell 1 → ARI = −0.5, NMI = 0
    val crossed = Seq((1, "x", "p"), (2, "x", "q"), (3, "y", "p"), (4, "y", "q"))
      .toDF("id", "a", "b")
    val c = Stats.clusterAgreement(crossed, "a", "b").collect().head
    assert(c.getDouble(3) === -0.5 && c.getDouble(4) === 0.0)
    // both partitions constant → null model collapses, H = 0 → nulls
    val const = Seq((1, "x", "p"), (2, "x", "p")).toDF("id", "a", "b")
    val k = Stats.clusterAgreement(const, "a", "b").collect().head
    assert(k.isNullAt(3) && k.isNullAt(4))
  }

  test("andersonDarling: classical no-ties identity, identical zero") {
    // a={1,3}, b={2,4}: A² = (1/nm)Σ(M_iN−ni)²/(i(N−i))
    //   = ¼(4/3 + 0 + 4/3) = 2/3
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 4.0))
      .toDF("side", "v")
    val r = Stats.andersonDarling(df, "side", "v", "a", "b").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // identical distributions (with ties) → exactly 0
    val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("side", "v")
    assert(Stats.andersonDarling(same, "side", "v", "a", "b")
      .collect().head.getDouble(2) === 0.0)
  }

  test("cochranArmitage: perfect linear trend, degenerate null") {
    // scores 0,1,2 with successes 0/2, 1/2, 2/2: T=5, E=3, Var=1 → z=2
    val df = Seq((0, false), (0, false), (1, true), (1, false),
      (2, true), (2, true)).toDF("s", "y")
    val r = Stats.cochranArmitage(df, "s", col("y")).collect().head
    assert(r.getLong(0) === 6L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 3.0)
    assert(r.getDouble(4) === 2.0)
    // all-success rates: p̄(1−p̄) = 0 → null z
    val allS = Seq((0, true), (1, true)).toDF("s", "y")
    assert(Stats.cochranArmitage(allS, "s", col("y"))
      .collect().head.isNullAt(4))
  }

  test("gpdTailFit: hand-checked MoM fit, degenerate null") {
    // excesses {1,2,3} over u=0: m=2, v=1 → r=4, ξ=−1.5, β=5;
    // ζ=1 → q.999 = (β/ξ)(0.001^1.5 − 1)
    val df = Seq(1.0, 2.0, 3.0, -1.0).map(Tuple1(_)).toDF("v")
    val r = Stats.gpdTailFit(df, "v", threshold = 0.0, p = 0.999)
      .collect().head
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 2.0)
    assert(r.getDouble(3) === -1.5 && r.getDouble(4) === 5.0)
    val zeta = 3.0 / 4.0
    assert(r.getDouble(5) ===
      r6(5.0 / -1.5 * (math.pow(0.001 / zeta, 1.5) - 1.0)))
    // a single exceedance has no variance → null fit, null return level
    val one = Seq(5.0, -1.0).map(Tuple1(_)).toDF("v")
    val o = Stats.gpdTailFit(one, "v", threshold = 0.0).collect().head
    assert(o.getLong(1) === 1L && o.isNullAt(3) && o.isNullAt(4)
      && o.isNullAt(5))
  }

  test("wilsonInterval: edge-honest 2-for-2, hand-checked half") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 2-for-2 at z=1.96: the classic [0.342, 1.0], NOT the Wald [1, 1]
    val df = Seq(("a", true), ("a", true), ("b", true), ("b", false))
      .toDF("g", "y")
    val out = Stats.wilsonInterval(df, "g", col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val z2 = 1.96 * 1.96
    val den = 1.0 + z2 / 2.0
    assert(out("a").getDouble(3) === 1.0)
    assert(out("a").getDouble(4) ===
      r6((1.0 + z2 / 4.0 - 1.96 * math.sqrt(z2 / 16.0)) / den))
    assert(out("a").getDouble(5) === 1.0)
    // p̂ = ½ is symmetric about the shifted center
    val b = out("b")
    assert(b.getDouble(3) === 0.5)
    assert(b.getDouble(4) ===
      r6((0.5 + z2 / 4.0 - 1.96 * math.sqrt(0.125 + z2 / 16.0)) / den))
    assert(b.getDouble(5) ===
      r6((0.5 + z2 / 4.0 + 1.96 * math.sqrt(0.125 + z2 / 16.0)) / den))
  }

  test("poissonRateTest: hand-checked conditional z, equal exposures") {
    import java.sql.Timestamp
    // 30 before vs 10 after, equal exposure: π=½, z = 10/√10 = √10
    val before = (1 to 30).map(i =>
      Tuple1(Timestamp.valueOf(f"2024-01-05 10:$i%02d:00")))
    val after = (1 to 10).map(i =>
      Tuple1(Timestamp.valueOf(f"2024-01-20 10:$i%02d:00")))
    val ev = (before ++ after).toDF("t")
    val r = Stats.poissonRateTest(ev, "t", "2024-01-16 00:00:00",
      t1 = 1.0, t2 = 1.0).collect().head
    assert(r.getLong(0) === 30L && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 3.0)
    assert(r.getDouble(3) === 20.0)
    assert(r.getDouble(4) === BigDecimal(math.sqrt(10.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("jarqueBera: symmetric two-point mass, constant null") {
    // {−1,−1,1,1}: S=0, K=1 → JB = 4·(1−3)²/24 = 2/3
    val df = Seq(("g", -1.0), ("g", -1.0), ("g", 1.0), ("g", 1.0),
      ("c", 5.0), ("c", 5.0)).toDF("grp", "v")
    val out = Stats.jarqueBera(df, "grp", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getLong(1) === 4L)
    assert(g.getDouble(2) === 0.0 && g.getDouble(3) === 1.0)
    assert(g.getDouble(4) === BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // constant group: zero variance → null S/K/JB, not NaN
    assert(out("c").isNullAt(2) && out("c").isNullAt(3)
      && out("c").isNullAt(4))
  }

  test("jonckheereTerpstra: classical no-ties case and midrank ties") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // perfectly separated groups {1,2}<{3,4}<{5,6}: J = 12, E = 6,
    // no-ties Var = [N²(2N+3) − Σn²(2n+3)]/72 = 456/72
    val sep = Seq((1, 1.0), (1, 2.0), (2, 3.0), (2, 4.0), (3, 5.0),
      (3, 6.0)).toDF("g", "v")
    val r = Stats.jonckheereTerpstra(sep, "g", "v").collect().head
    assert(r.getLong(0) === 6L)
    assert(r.getDouble(1) === 12.0 && r.getDouble(2) === 6.0)
    assert(r.getDouble(3) === r6(6.0 / math.sqrt(456.0 / 72.0)))
    // ties: g1={1,2}, g2={2,3} → J = 3 + ½ = 3.5, E = 2; tie-corrected
    // Var = 102/72 + 0 + 4·2/(8·12) = 1.5 (Hollander–Wolfe three-term)
    val tied = Seq((1, 1.0), (1, 2.0), (2, 2.0), (2, 3.0)).toDF("g", "v")
    val t = Stats.jonckheereTerpstra(tied, "g", "v").collect().head
    assert(t.getDouble(1) === 3.5 && t.getDouble(2) === 2.0)
    assert(t.getDouble(3) === r6(1.5 / math.sqrt(1.5)))
  }

  test("msprtDaily: null day stays p=1, effect day drops the running min") {
    import java.sql.Timestamp
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def t(d: Int, i: Int) = Timestamp.valueOf(f"2024-01-0$d 10:$i%02d:00")
    // day1: 2/10 = p0 exactly → dev 0, Λ = √(σ²/(σ²+10τ²)) < 1 → p = 1
    // day2: +10/10 → cum 12/20, dev 0.4 → Λ ≫ 1 → p = 1/Λ < 1
    val day1 = (1 to 10).map(i => (t(1, i), if (i <= 2) "s" else "f"))
    val day2 = (1 to 10).map(i => (t(2, i), "s"))
    val ev = (day1 ++ day2).toDF("ts", "et")
    val out = Stats.msprtDaily(ev, "ts", "et", "s", p0 = 0.2, tau = 0.5)
      .collect().sortBy(_.getTimestamp(0).getTime)
    val s2 = 0.2 * (1.0 - 0.2); val t2 = 0.5 * 0.5
    val lam1 = math.sqrt(s2 / (s2 + 10.0 * t2))
    assert(out(0).getDouble(3) === r6(lam1))
    assert(out(0).getDouble(4) === 1.0)
    val dev = 12.0 / 20.0 - 0.2
    val lam2 = math.sqrt(s2 / (s2 + 20.0 * t2)) *
      math.exp(20.0 * 20.0 * t2 * dev * dev / (2.0 * s2 * (s2 + 20.0 * t2)))
    assert(lam2 > 1.0)
    assert(out(1).getDouble(3) === r6(lam2))
    assert(out(1).getDouble(4) === r6(1.0 / lam2))
  }

  test("friedmanTest: textbook no-ties, midrank ties, incomplete drop") {
    // 2 complete blocks, consistent order t1<t2<t3: R = (2,4,6) →
    // T1 = 12·56/(2·3·4) − 3·2·4 = 4 (the Conover form's reduction);
    // block3 misses t3 → dropped, b stays 2
    val cells = Seq(
      ("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b1", "t3", 3.0),
      ("b2", "t1", 4.0), ("b2", "t2", 5.0), ("b2", "t3", 6.0),
      ("b3", "t1", 7.0), ("b3", "t2", 8.0)
    ).toDF("blk", "trt", "v")
    val out = Stats.friedmanTest(cells, "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("t1").getLong(1) === 2L)
    assert(out("t1").getDouble(2) === 2.0 && out("t3").getDouble(2) === 6.0)
    assert(out("t2").getDouble(3) === 2.0)
    assert(out("t1").getLong(4) === 2L && out("t1").getLong(5) === 3L)
    assert(out("t1").getDouble(6) === 4.0)
    // block2 fully tied → midranks 2,2,2: R = (3,4,5), T1 = 2·2/2 = 2
    val tied = Seq(
      ("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b1", "t3", 3.0),
      ("b2", "t1", 9.0), ("b2", "t2", 9.0), ("b2", "t3", 9.0)
    ).toDF("blk", "trt", "v")
    val t = Stats.friedmanTest(tied, "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(t("t1").getDouble(2) === 3.0 && t("t3").getDouble(2) === 5.0)
    assert(t("t1").getDouble(6) === 2.0)
  }

  test("effectSize: hand-checked d and g, constant-arms null") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a={0,2}, b={4,6}: s_p = √2, d = −4/√2, g = d·(1 − 3/7)
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 4.0), ("b", 6.0))
      .toDF("side", "v")
    val r = Stats.effectSize(df, "side", "v", "a", "b").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === -4.0)
    assert(r.getDouble(3) === r6(math.sqrt(2.0)))
    assert(r.getDouble(4) === r6(-4.0 / math.sqrt(2.0)))
    assert(r.getDouble(5) === r6(-4.0 / math.sqrt(2.0) * (1.0 - 3.0 / 7.0)))
    // both arms constant → zero pooled SD → null d/g
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("side", "v")
    val c = Stats.effectSize(const, "side", "v", "a", "b").collect().head
    assert(c.isNullAt(4) && c.isNullAt(5))
  }

  test("pageTrendTest: perfect up-trend z=2, reversed z=-2") {
    // b=2, k=3, response rising with treatment: L = 28, E = 24, Var = 4
    val up = Seq(
      ("b1", 1, 1.0), ("b1", 2, 2.0), ("b1", 3, 3.0),
      ("b2", 1, 4.0), ("b2", 2, 5.0), ("b2", 3, 6.0)
    ).toDF("blk", "trt", "v")
    val r = Stats.pageTrendTest(up, "blk", "trt", "v").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 28.0 && r.getDouble(3) === 24.0)
    assert(r.getDouble(4) === 2.0)
    // reversed responses: L = 20 → z = −2
    val down = Seq(
      ("b1", 1, 3.0), ("b1", 2, 2.0), ("b1", 3, 1.0),
      ("b2", 1, 6.0), ("b2", 2, 5.0), ("b2", 3, 4.0)
    ).toDF("blk", "trt", "v")
    val d = Stats.pageTrendTest(down, "blk", "trt", "v").collect().head
    assert(d.getDouble(2) === 20.0 && d.getDouble(4) === -2.0)
  }

  test("brunnerMunzel: matches a direct row-level placement computation") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the Brunner–Munzel '00 / scipy reference example (unequal sizes,
    // heavy ties)
    val xa = Seq(1.0, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val xb = Seq(3.0, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    // direct mirror: per-observation placements against the OTHER sample
    def placements(self: Seq[Double], other: Seq[Double]) = self.map { v =>
      other.count(_ < v) + 0.5 * other.count(_ == v)
    }
    def varS(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)
    }
    val (na, nb) = (xa.size.toDouble, xb.size.toDouble)
    val pb = placements(xb, xa)
    val ph = pb.sum / pb.size / na
    val s2 = na * varS(placements(xa, xb)) + nb * varS(pb)
    val expW = na * nb * (ph - 0.5) / math.sqrt(s2)
    val df = (xa.map(("a", _)) ++ xb.map(("b", _))).toDF("s", "v")
    val r = Stats.brunnerMunzel(df, "s", "v", "a", "b").collect().head
    assert(r.getLong(0) === 14L && r.getLong(1) === 11L)
    assert(r.getDouble(2) === ph)
    assert(r.getDouble(3) === r6(expW))
    // the published statistic for this data (scipy/lawstat): ≈ 3.137467
    assert(math.abs(r.getDouble(3) - 3.137467) < 1e-5)
    // both samples constant and equal → zero placement variance → null
    val flat = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0))
      .toDF("s", "v")
    val f = Stats.brunnerMunzel(flat, "s", "v", "a", "b").collect().head
    assert(f.getDouble(2) === 0.5 && f.isNullAt(3) && f.isNullAt(4))
  }

  test("dunnPostHoc: hand-checked z, A&S tail mirror, BH over pairs") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def erfcAS(x: Double): Double = {
      val t = 1.0 / (1.0 + 0.3275911 * x)
      (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
        - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
    }
    // separated groups {1,2} < {3,4} < {5,6}: midranks 1..6, R̄ =
    // 1.5/3.5/5.5, σ² = 6·7/12 = 3.5 → z_ab = z_bc = −2/√3.5,
    // z_ac = −4/√3.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0), ("c", 6.0)).toDF("g", "v")
    val out = Stats.dunnPostHoc(df, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b")); val ac = out(("a", "c"))
    assert(ab.getDouble(4) === 1.5 && ab.getDouble(5) === 3.5)
    assert(ab.getDouble(6) === r6(-2.0 / math.sqrt(3.5)))
    assert(ac.getDouble(6) === r6(-4.0 / math.sqrt(3.5)))
    val pAb = r6(math.min(1.0,
      erfcAS(2.0 / math.sqrt(3.5) / math.sqrt(2.0))))
    val pAc = r6(math.min(1.0,
      erfcAS(4.0 / math.sqrt(3.5) / math.sqrt(2.0))))
    assert(ab.getDouble(7) === pAb && ac.getDouble(7) === pAc)
    // BH ranks: ac carries the smallest p (rank 1), ab/bc tie behind it
    assert(ac.getInt(8) === 1)
    assert(ab.getInt(8) === 2 && out(("b", "c")).getInt(8) === 3)
    // p_adj is monotone: a pair can never be MORE significant than one
    // with a smaller raw p
    assert(ac.getDouble(9) <= ab.getDouble(9) + 1e-12)
  }

  test("wilcoxonSignedRank: hand-checked W+, midrank ties, zeros dropped") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d = +1, +2, −3, +4: ranks 1..4, W⁺ = 7, E = 5, Var = 7.5
    val p1 = Seq((0.0, 1.0), (0.0, 2.0), (3.0, 0.0), (0.0, 4.0))
      .toDF("x", "y")
    val r = Stats.wilcoxonSignedRank(p1, "x", "y").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 7.0 && r.getDouble(3) === 5.0)
    assert(r.getDouble(4) === r6(2.0 / math.sqrt(7.5)))
    // ties + a zero pair: d = +1, −1, +2 (and one 0 dropped):
    // |d| midranks 1.5, 1.5, 3 → W⁺ = 4.5; Var = 3.5 − 6/48
    val p2 = Seq((0.0, 1.0), (1.0, 0.0), (0.0, 2.0), (5.0, 5.0))
      .toDF("x", "y")
    val t = Stats.wilcoxonSignedRank(p2, "x", "y").collect().head
    assert(t.getLong(0) === 3L)
    assert(t.getDouble(2) === 4.5 && t.getDouble(3) === 3.0)
    assert(t.getDouble(4) === r6(1.5 / math.sqrt(3.375)))
  }

  test("moodMedianTest: hand-checked 2x2, median-tie convention") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a = {1,2,3,4}, b = {5,6,7,8}: pooled median 4.5; above: a 0/4,
    // b 4/4, E = 2 everywhere → χ² = 4·(2²/2) = 8 with df 1
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 5.0), ("b", 6.0), ("b", 7.0), ("b", 8.0)).toDF("g", "v")
    val out = Stats.moodMedianTest(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 4L && out("a").getLong(2) === 0L)
    assert(out("b").getLong(2) === 4L)
    assert(out("a").getDouble(3) === 2.0)
    assert(out("a").getLong(4) === 1L)
    assert(out("a").getDouble(5) === 8.0)
    // values AT the median count in the ≤ half: {1,2,2} vs {2,3,4} —
    // median 2; above: a 0, b 2; and identical groups → χ² ≈ 0
    val tied = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0)).toDF("g", "v")
    val t = Stats.moodMedianTest(tied, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(t("a").getLong(2) === 0L && t("b").getLong(2) === 2L)
    assert(t("a").getDouble(3) === 1.0)
    assert(t("a").getDouble(5) === r6(2.0 * (1.0 + 0.5)))
    // every value above is impossible; every value ≤ median in BOTH
    // groups → degenerate "above" half → null χ²
    val const = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("g", "v")
    assert(Stats.moodMedianTest(const, "g", "v")
      .collect().head.isNullAt(5))
  }

  test("cochranQ: textbook 4x3 table, duplicate rows collapse") {
    // blocks touch {t1}, {t1,t2}, {t1,t2,t3}, {t2}: C=(3,3,1), N=7,
    // ΣR²=15 → Q = 2·(3·19−49)/(3·7−15) = 8/3
    val rows = Seq((1, "t1"), (2, "t1"), (2, "t2"), (3, "t1"), (3, "t2"),
      (3, "t3"), (4, "t2"),
      (1, "t1"), (3, "t2")) // duplicates must not double-count
      .toDF("b", "t")
    val r = Stats.cochranQ(rows, "b", "t").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L && r.getLong(2) === 7L)
    assert(r.getDouble(3) === BigDecimal(8.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // every block touching every treatment → zero denominator → null
    val full = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b")).toDF("b", "t")
    assert(Stats.cochranQ(full, "b", "t").collect().head.isNullAt(3))
  }

  test("seasonalMannKendall: cross-week drift counts, pure cycle doesn't") {
    import java.sql.Timestamp
    def day(d: Int, n: Int) = Seq.fill(n)(
      ("k", Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")))
    // week1 all 1/day, week2 all 2/day: each of 7 weekday strata has one
    // rising pair → S = 7; Var = 7·[2·1·9]/18 = 7; z = 6/√7
    val drift = (1 to 7).flatMap(day(_, 1)) ++ (8 to 14).flatMap(day(_, 2))
    val r = Stats.seasonalMannKendall(drift.toDF("k", "ts"), "k", "ts")
      .collect().head
    assert(r.getLong(1) === 14L && r.getLong(2) === 7L)
    assert(r.getDouble(3) === 7.0)
    assert(r.getDouble(4) === BigDecimal(6.0 / math.sqrt(7.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a pure weekly cycle repeated identically: every same-weekday pair
    // ties → S = 0 AND the tie correction removes all variance → null z
    // (the honest "no usable signal", where plain MK would see 49 rising
    // within-week pairs and scream trend)
    val cycle = (1 to 14).flatMap(d => day(d, 1 + ((d - 1) % 7)))
    val c = Stats.seasonalMannKendall(cycle.toDF("k", "ts"), "k", "ts")
      .collect().head
    assert(c.getLong(2) === 0L && c.getDouble(3) === 0.0 && c.isNullAt(4))
  }

  test("weightedKappa: binary case equals unweighted Cohen kappa; quadratic credits near-misses") {
    import spark.implicits._
    // binary 2×2 where linear ≡ quadratic ≡ unweighted κ: (0,0)×2,
    // (1,1)×2, (0,1)×1 → κ = (0.8 − 0.48)/0.52 = 8/13
    val bin = Seq((0, 0), (0, 0), (1, 1), (1, 1), (0, 1)).toDF("a", "b")
    val r = Stats.weightedKappa(bin, "a", "b").collect().head
    assert(r.getLong(0) === 5L)
    assert(math.abs(r.getDouble(1) - 8.0 / 13.0) < 1e-6)
    assert(math.abs(r.getDouble(2) - 8.0 / 13.0) < 1e-6)
    // ordinal near-miss vs far-miss: quadratic punishes the far miss
    // harder, so a near-miss-only table scores HIGHER quadratic than
    // linear relative to a far-miss table
    val near = Seq((0, 1), (1, 0), (0, 0), (4, 4), (2, 2)).toDF("a", "b")
    val far = Seq((0, 4), (4, 0), (0, 0), (4, 4), (2, 2)).toDF("a", "b")
    val rn = Stats.weightedKappa(near, "a", "b").collect().head
    val rf = Stats.weightedKappa(far, "a", "b").collect().head
    assert(rn.getDouble(2) > rf.getDouble(2),
      "quadratic kappa must rank near-miss agreement above far-miss")
    // perfect constant agreement: zero chance disagreement → null
    val const = Seq((1, 1), (1, 1)).toDF("a", "b")
    val rc = Stats.weightedKappa(const, "a", "b").collect().head
    assert(rc.isNullAt(1) && rc.isNullAt(2))
  }

  test("gTest: zero on independence, even-df self-consistency, odd-df null") {
    import spark.implicits._
    def grid(counts: Seq[((String, String), Int)]) =
      counts.flatMap { case (c, n) => Seq.fill(n)(c) }.toDF("a", "b")
    val uni = grid(for (a <- Seq("x", "y", "z"); b <- Seq("u", "v", "w"))
      yield (a, b) -> 10)
    val ru = Stats.gTest(uni, "a", "b").collect().head
    assert(math.abs(ru.getDouble(4)) < 1e-9 && ru.getDouble(5) === 1.0)
    // 2×3 → df = 2: closed form collapses to p = e^(−G/2)
    val df2 = grid(Seq(("x", "u") -> 10, ("x", "v") -> 10, ("x", "w") -> 10,
      ("y", "u") -> 10, ("y", "v") -> 10, ("y", "w") -> 40))
    val r2 = Stats.gTest(df2, "a", "b").collect().head
    assert(r2.getLong(3) === 2L && r2.getDouble(4) > 0)
    assert(math.abs(r2.getDouble(5) - math.exp(-r2.getDouble(4) / 2.0)) < 1e-5)
    // 2×2 → df = 1 (odd): stat exact, p null
    val odd = grid(Seq(("x", "u") -> 10, ("x", "v") -> 20,
      ("y", "u") -> 20, ("y", "v") -> 10))
    val ro = Stats.gTest(odd, "a", "b").collect().head
    assert(ro.getLong(3) === 1L && !ro.isNullAt(4) && ro.isNullAt(5))
  }

  test("byAdjust: dominates bhAdjust by the harmonic factor, equal at m=1") {
    import spark.implicits._
    val battery = Seq(("t1", 0.01), ("t2", 0.02), ("t3", 0.2), ("t4", 0.9))
      .toDF("test_id", "p_value")
    val bh = Stats.bhAdjust(battery, "p_value", Seq("test_id"))
      .select("test_id", "p_adj").as[(String, Double)].collect().toMap
    val by = Stats.byAdjust(battery, "p_value", Seq("test_id"))
      .select("test_id", "p_adj").as[(String, Double)].collect().toMap
    // c(4) = 1 + 1/2 + 1/3 + 1/4 = 25/12
    val cm = 25.0 / 12.0
    bh.foreach { case (t, pBh) =>
      assert(by(t) >= pBh - 1e-9, s"$t: BY must not be smaller than BH")
      assert(by(t) <= math.min(1.0, pBh * cm) + 1e-6,
        s"$t: BY is at most the harmonic blowup of BH")
    }
    assert(math.abs(by("t1") - math.min(1.0, 4.0 * cm * 0.01 / 1.0)) < 1e-6)
    // single test: c(1) = 1 → BY ≡ BH ≡ p
    val one = Seq(("only", 0.3)).toDF("test_id", "p_value")
    assert(Stats.byAdjust(one, "p_value", Seq("test_id"))
      .select("p_adj").as[Double].collect().head === 0.3)
  }

  test("cmhTest: single-stratum hand check, n<2 strata dropped, zero-variance null") {
    import spark.implicits._
    // one stratum: (1,1)=3, (1,0)=1, (0,1)=1, (0,0)=3 → a=3, E=2,
    // V = 256/448 = 4/7, χ² = (1−0.5)²/(4/7) = 0.4375, p ≈ 0.508
    val one = (Seq.fill(3)(("s1", 1, 1)) ++ Seq(("s1", 1, 0), ("s1", 0, 1)) ++
      Seq.fill(3)(("s1", 0, 0))).toDF("s", "e", "o")
    val r = Stats.cmhTest(one, "s", "e", "o").collect().head
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - 2.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.4375) < 1e-9)
    assert(math.abs(r.getDouble(5) - 0.5083) < 1e-3)
    // an n=1 stratum is dropped, not folded with an undefined V
    val withTiny = one.unionByName(Seq(("s2", 1, 1)).toDF("s", "e", "o"))
    val rt = Stats.cmhTest(withTiny, "s", "e", "o").collect().head
    assert(rt.getLong(0) === 1L, "n<2 stratum must drop")
    assert(math.abs(rt.getDouble(4) - 0.4375) < 1e-9)
    // constant exposure in every stratum → V = 0 → null chi2/p
    val flat = Seq(("s1", 1, 1), ("s1", 1, 0)).toDF("s", "e", "o")
    val rf = Stats.cmhTest(flat, "s", "e", "o").collect().head
    assert(rf.isNullAt(4) && rf.isNullAt(5))
  }

  test("chiSquareTest: full-grid stat, even-df closed-form p, odd-df null boundary") {
    import spark.implicits._
    def grid(counts: Seq[((String, String), Int)]) =
      counts.flatMap { case (c, n) => Seq.fill(n)(c) }.toDF("a", "b")
    // 2×2: o = 10/20/20/10, all e = 15 → χ² = 4·(25/15) = 20/3; df = 1
    // (odd) → stat exact, p NULL (the honest boundary)
    val odd = grid(Seq(("x", "u") -> 10, ("x", "v") -> 20,
      ("y", "u") -> 20, ("y", "v") -> 10))
    val ro = Stats.chiSquareTest(odd, "a", "b").collect().head
    assert(ro.getLong(0) === 60L && ro.getLong(3) === 1L)
    assert(math.abs(ro.getDouble(4) - 20.0 / 3.0) < 1e-6)
    assert(ro.isNullAt(5))
    // 2×3 → df = 2, m = 1: closed form collapses to p = e^(−χ²/2)
    val df2 = grid(Seq(("x", "u") -> 10, ("x", "v") -> 10, ("x", "w") -> 10,
      ("y", "u") -> 10, ("y", "v") -> 10, ("y", "w") -> 40))
    val r2 = Stats.chiSquareTest(df2, "a", "b").collect().head
    assert(r2.getLong(3) === 2L)
    assert(math.abs(r2.getDouble(5) - math.exp(-r2.getDouble(4) / 2.0)) < 1e-5)
    // 3×3 uniform → χ² = 0, df = 4 → p = 1; and a ZERO observed cell
    // must still contribute its expected mass (full-grid contract)
    val uni = grid(for (a <- Seq("x", "y", "z"); b <- Seq("u", "v", "w"))
      yield (a, b) -> 10)
    val ru = Stats.chiSquareTest(uni, "a", "b").collect().head
    assert(ru.getDouble(4) === 0.0 && ru.getDouble(5) === 1.0)
    val hole = grid(Seq(("x", "u") -> 10, ("x", "v") -> 10,
      ("y", "u") -> 10, ("y", "v") -> 10, ("z", "u") -> 10)) // (z,v) = 0
    val rh = Stats.chiSquareTest(hole, "a", "b").collect().head
    // e(z,v) = 10·20/50 = 4 → zero-cell mass 4 plus observed terms > 0
    assert(rh.getDouble(4) > 4.0 - 1e-9)
  }

  test("groupKuiperDrift: V sums both deviation signs where KS keeps one") {
    import spark.implicits._
    // group a = {0,2}, rest = {1}: F_a − F_rest = +.5 at 0, −.5 at 1 →
    // V = 1.0 while KS would report only 0.5 (the cyclic-shift blind
    // spot this statistic exists for)
    val df = Seq(("a", 0L), ("a", 2L), ("b", 1L)).toDF("g", "v")
    val out = Stats.groupKuiperDrift(df, "g", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("a") === 1.0)
    assert(out("b") === 1.0) // b vs rest is the mirror image
    // identical mixes → V = 0
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    val so = Stats.groupKuiperDrift(same, "g", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(so("a") === 0.0 && so("b") === 0.0)
  }

  test("cucconiTest: Scala-mirrored U/V/C with and without ties") {
    import spark.implicits._
    def expected(xs: Seq[Double], ys: Seq[Double]): (Double, Double, Double) = {
      val all = (xs.map((_, true)) ++ ys.map((_, false))).sortBy(_._1)
      val n = all.size
      // midranks
      val ranks = all.zipWithIndex.groupBy(_._1._1).toSeq.flatMap {
        case (_, g) =>
          val mid = g.map(_._2 + 1).sum.toDouble / g.size
          g.map { case ((_, lbl), _) => (lbl, mid) }
      }
      val m = xs.size.toDouble; val nn = ys.size.toDouble; val dN = n.toDouble
      val s2 = ranks.collect { case (true, r) => r * r }.sum
      val c2 = ranks.collect { case (true, r) => (dN + 1 - r) * (dN + 1 - r) }.sum
      val den = math.sqrt(m * nn * (dN + 1) * (2 * dN + 1) * (8 * dN + 11) / 5.0)
      val u = (6 * s2 - m * (dN + 1) * (2 * dN + 1)) / den
      val v = (6 * c2 - m * (dN + 1) * (2 * dN + 1)) / den
      val rho = 2 * (dN * dN - 4) / ((2 * dN + 1) * (8 * dN + 11)) - 1
      (u, v, (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho)))
    }
    def run(xs: Seq[Double], ys: Seq[Double]) = {
      val df = (xs.map((_, true)) ++ ys.map((_, false))).toDF("v", "lbl")
      val r = Stats.cucconiTest(df, "v", "lbl").collect().head
      (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    // spread case, no ties: X wraps Y
    val (u1, v1, c1) = expected(Seq(1, 4), Seq(2, 3))
    val (gu1, gv1, gc1) = run(Seq(1, 4), Seq(2, 3))
    assert(math.abs(gu1 - u1) < 1e-6 && math.abs(gv1 - v1) < 1e-6 &&
      math.abs(gc1 - c1) < 1e-6)
    // tie across the samples
    val (u2, v2, c2) = expected(Seq(1, 2), Seq(2, 3))
    val (gu2, gv2, gc2) = run(Seq(1, 2), Seq(2, 3))
    assert(math.abs(gu2 - u2) < 1e-6 && math.abs(gv2 - v2) < 1e-6 &&
      math.abs(gc2 - c2) < 1e-6)
  }

  test("holmAdjust: prefix cummax of (m-rank+1)p, clipped; step-down order") {
    import spark.implicits._
    val t = Seq(("a", 0.01), ("b", 0.02), ("c", 0.02), ("d", 0.5))
      .toDF("id", "p")
    val out = Stats.holmAdjust(t, "p", Seq("id")).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    // 0.01·4 = .04; 0.02·3 = .06 (cummax holds); 0.5·1 = .5
    assert(out("a") === ((1, 0.04, true)))
    assert(out("b") === ((2, 0.06, false)))
    assert(out("c") === ((3, 0.06, false)))
    assert(out("d") === ((4, 0.5, false)))
  }

  test("adfDaily: hand-computed AR(1) moments on a 4-day series") {
    import spark.implicits._
    // daily counts 1,2,3,2 → (x,dy) = (1,1),(2,1),(3,−1): γ̂ = −1,
    // adf = −√3 (se² = (2/3)/1/2)
    val base = 1700000000000000L
    val day = 86400L * 1000000L
    val rows = (Seq.fill(1)(0) ++ Seq.fill(2)(1) ++ Seq.fill(3)(2) ++
      Seq.fill(2)(3)).zipWithIndex.map { case (d, i) =>
      (s"a", base + d * day + i, i.toLong)
    }
    val df = rows.toDF("event_type", "us", "event_id")
      .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(us)")).drop("us")
    val r = Stats.adfDaily(df, "event_type", "ts").collect().head
    assert(r.getString(0) === "a" && r.getLong(1) === 3L)
    assert(r.getDouble(2) === -1.0)
    assert(math.abs(r.getDouble(3) - (-math.sqrt(3.0))) < 1e-6)
    // constant series: Sxx_c = 0 → nulls
    val const = (0 to 3).map(d => ("b", base + d * day, d.toLong))
      .toDF("event_type", "us", "event_id")
      .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(us)")).drop("us")
    val rc = Stats.adfDaily(const, "event_type", "ts").collect().head
    assert(rc.isNullAt(2) && rc.isNullAt(3))
  }

  test("regressionDiscontinuity: hand-fit lines each side, jump = 7") {
    import spark.implicits._
    // left (20,10),(24,12): slope .5, intercept at 25.5 = 12.75;
    // right (26,20),(30,22): slope .5, intercept 19.75 → jump 7
    val df = Seq((20.0, 10.0), (24.0, 12.0), (26.0, 20.0), (30.0, 22.0),
      (100.0, 999.0)) // outside the bandwidth, must be ignored
      .toDF("x", "y")
    val r = Stats.regressionDiscontinuity(df, "x", "y", 25.5, 20.0)
      .collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.5 && r.getDouble(3) === 0.5)
    assert(r.getDouble(4) === 12.75 && r.getDouble(5) === 19.75)
    assert(r.getDouble(6) === 7.0)
    // a one-point side fits no line → null columns, row still emitted
    val one = Seq((20.0, 10.0), (26.0, 20.0), (30.0, 22.0)).toDF("x", "y")
    val ro = Stats.regressionDiscontinuity(one, "x", "y", 25.5, 20.0)
      .collect().head
    assert(ro.getLong(0) === 1L && ro.isNullAt(2) && ro.isNullAt(6))
  }

  test("hellinger: hand-checked disjoint mass; identical mix scores 0") {
    import spark.implicits._
    val ref = Seq.fill(4)("a").toDF("lang")
    val cur = Seq("a", "b").toDF("lang")
    val r = Stats.hellinger(ref, cur, "lang").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L && r.getLong(2) === 2L)
    // BC = √(4·1)/√(4·2) = 1/√2; H = √(1 − 1/√2)
    assert(math.abs(r.getDouble(3) - 1.0 / math.sqrt(2.0)) < 1e-6)
    assert(math.abs(r.getDouble(4) -
      math.sqrt(1.0 - 1.0 / math.sqrt(2.0))) < 1e-6)
    val same = Stats.hellinger(ref, ref, "lang").collect().head
    assert(same.getDouble(3) === 1.0 && same.getDouble(4) === 0.0)
  }

  test("gammaSomers: hand-checked 2x2 masses; all-tied input nulls gamma") {
    import spark.implicits._
    // cells (0,0):3 (0,1):1 (1,0):1 (1,1):3 → C = 9, D = 1 →
    // γ = 8/10; x-tie mass Σt² = 32 → n₀−n_x = (64−32)/2 = 16 →
    // D_y|x = 8/16
    val rows = Seq.fill(3)((0, 0)) ++ Seq((0, 1)) ++ Seq((1, 0)) ++
      Seq.fill(3)((1, 1))
    val r = Stats.gammaSomers(rows.toDF("x", "y"), "x", "y").collect().head
    assert(r.getLong(0) === 8L)
    assert(r.getLong(1) === 9L && r.getLong(2) === 1L)
    assert(r.getDouble(3) === 0.8 && r.getDouble(4) === 0.5)
    // constant y: no concordant or discordant pairs → γ null, D = 0
    val const = Seq((0, 1), (1, 1), (2, 1)).toDF("x", "y")
    val rc = Stats.gammaSomers(const, "x", "y").collect().head
    assert(rc.isNullAt(3) && rc.getDouble(4) === 0.0)
  }

  test("ansariBradley: hand-checked scores with and without ties") {
    import spark.implicits._
    // X = {1,4}, Y = {2,3}: scores 1,2,2,1 → T = 2, E = 3,
    // Var = 2·2·(4·10 − 36)/(16·3) = 1/3 → z = −√3
    val a = Seq((1.0, true), (4.0, true), (2.0, false), (3.0, false))
      .toDF("v", "lbl")
    val ra = Stats.ansariBradley(a, "v", "lbl").collect().head
    assert(ra.getLong(0) === 2L && ra.getLong(1) === 2L)
    assert(ra.getDouble(2) === 2.0)
    assert(math.abs(ra.getDouble(3) - (-math.sqrt(3.0))) < 1e-6)
    // tie across the samples: X = {1,2}, Y = {2,3} — the tied block
    // [ranks 2,3] averages to score 2 → T = 3 = E → z = 0
    val t = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "lbl")
    val rt = Stats.ansariBradley(t, "v", "lbl").collect().head
    assert(rt.getDouble(2) === 3.0 && rt.getDouble(3) === 0.0)
  }

  test("weightedMedian: boundary split reports both conventions") {
    import spark.implicits._
    // W = 8, cum(3) reaches half only at the last value → both = 3
    val r = Stats.weightedMedian(
      Seq((1.0, 1L), (2.0, 2L), (3.0, 5L)).toDF("v", "w"), "v", "w")
      .collect().head
    assert(r.getLong(0) === 8L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 3.0 && r.getDouble(3) === 3.0)
    // exact half-mass boundary: cum(1)·2 = W → lower 1, upper 2
    val b = Stats.weightedMedian(
      Seq((1.0, 2L), (2.0, 2L)).toDF("v", "w"), "v", "w").collect().head
    assert(b.getDouble(2) === 1.0 && b.getDouble(3) === 2.0)
    // zero/negative weights drop; fractional weights truncate to long
    val z = Stats.weightedMedian(
      Seq((1.0, 0L), (5.0, 3L)).toDF("v", "w"), "v", "w").collect().head
    assert(z.getLong(0) === 3L && z.getDouble(2) === 5.0)
  }

  test("partialCorr: perfect xy survives any z; y = z degenerates to null") {
    import spark.implicits._
    val df = Seq((1.0, 1.0, 1.0), (2.0, 2.0, 3.0), (3.0, 3.0, 2.0),
      (4.0, 4.0, 4.0)).toDF("x", "y", "z")
    val r = Stats.partialCorr(df, "x", "y", "z").collect().head
    assert(r.getDouble(1) === 1.0 && r.getDouble(4) === 1.0)
    val deg = Seq((1.0, 1.0, 1.0), (2.0, 3.0, 3.0), (3.0, 2.0, 2.0))
      .toDF("x", "y", "z")
    val rd = Stats.partialCorr(deg, "x", "y", "z").collect().head
    assert(rd.isNullAt(4), "r_yz = 1 → zero denominator → null")
  }

  test("friedman/page/quade: empty cells and a single cell do not throw") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Double)].toDF("b", "t", "v")
    assert(Stats.friedmanTest(empty, "b", "t", "v").collect().isEmpty)
    assert(Stats.quadeTest(empty, "b", "t", "v").collect().isEmpty)
    val pe = Stats.pageTrendTest(empty, "b", "t", "v").collect()
    assert(pe.length === 1 && pe.head.getLong(0) === 0L)
    assert((1 to 4).forall(pe.head.isNullAt), "no blocks: k, L, E, z null")
    // one block, one treatment: ranks exist, every statistic is null
    val one = Seq((1L, "x", 2.0)).toDF("b", "t", "v")
    val f = Stats.friedmanTest(one, "b", "t", "v").collect()
    assert(f.length === 1 && f.head.getDouble(2) === 1.0 && f.head.isNullAt(6))
    val q = Stats.quadeTest(one, "b", "t", "v").collect()
    assert(q.length === 1 && q.head.getDouble(2) === 0.0 && q.head.isNullAt(5))
    val p = Stats.pageTrendTest(one, "b", "t", "v").collect().head
    assert(p.getLong(0) === 1L && p.getLong(1) === 1L && p.isNullAt(4))
  }

  test("groupKsDrift/groupKuiperDrift: empty input no rows, one group null") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    assert(Stats.groupKsDrift(empty, "g", "v").collect().isEmpty)
    assert(Stats.groupKuiperDrift(empty, "g", "v").collect().isEmpty)
    val one = Seq(("a", 3L)).toDF("g", "v")
    val ks = Stats.groupKsDrift(one, "g", "v").collect().head
    val kv = Stats.groupKuiperDrift(one, "g", "v").collect().head
    for (r <- Seq(ks, kv)) {
      assert(r.getLong(1) === 1L && r.getLong(2) === 0L)
      assert(r.isNullAt(3), "a group with no rest has no drift statistic")
    }
  }

  test("welchAnova/tukeyHsd/cochranC: empty and one-row inputs do not throw") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    val one = Seq(("a", 1.5)).toDF("g", "v")
    for (df <- Seq(empty, one)) {
      // cochranC and welchAnova need groups of n > 1: none qualify
      val c = Stats.cochranC(df, "g", "v").collect().head
      assert(c.getLong(0) === 0L && (1 to 4).forall(c.isNullAt))
      val w = Stats.welchAnova(df, "g", "v").collect()
      assert(w.length === 1 && (0 to 4).forall(w.head.isNullAt))
      assert(Stats.tukeyHsd(df, "g", "v").collect().isEmpty, "no pairs")
    }
  }

  test("chiSquareTest/gTest: vacuous contingency yields null stat, dof and p") {
    import spark.implicits._
    // empty and all-null inputs used to emit chi2 = 0 with
    // dof = (0−1)·(0−1) = 1 — a fake "perfect independence" verdict
    val empty = Seq.empty[(String, String)].toDF("a", "b")
    val allNull = Seq((null: String, "x"), ("y", null: String)).toDF("a", "b")
    for (d <- Seq(empty, allNull)) {
      val rc = Stats.chiSquareTest(d, "a", "b").collect().head
      assert(rc.getLong(0) === 0L, "n")
      assert(rc.isNullAt(3) && rc.isNullAt(4) && rc.isNullAt(5),
        "dof, chi2 and p must all be null on a vacuous contingency")
      val rg = Stats.gTest(d, "a", "b").collect().head
      assert(rg.getLong(0) === 0L, "n")
      assert(rg.isNullAt(3) && rg.isNullAt(4) && rg.isNullAt(5),
        "dof, g and p must all be null on a vacuous contingency")
    }
  }
  test("grubbsDaily: hand-computed outlier day, null on constant/short series") {
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    // group a: day counts 1,1,1,10,1 -> mean 2.8, G = 7.2/s with
    // ssn = 5*104 - 196 = 324, s = sqrt(324/5/4) -> G = 1.788854
    val rows =
      (Seq(0, 1, 2, 4).map(d => ("a", d.toLong * day)) ++
        (1 to 10).map(_ => ("a", 3L * day)) ++
        Seq(0, 1, 2).map(d => ("c", d.toLong * day))) // constant counts
    val df = rows.toDF("g", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = Stats.grubbsDaily(df, "g", "ts").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 5L)
    assert(out("a").getTimestamp(2).getTime === 3L * 86400000L)
    assert(out("a").getDouble(3) === 1.788854)
    // constant series: ssn = 0 -> null statistic, never NaN
    assert(out("c").isNullAt(3))
  }

  test("signTestHalves: plus/minus/tie users and the single-event minus convention") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, 0L), (1L, 0L), (1L, 100L), (1L, 100L), (1L, 100L), // + (2 vs 3)
      (2L, 0L), (2L, 0L), (2L, 0L), (2L, 100L),               // - (3 vs 1)
      (3L, 0L), (3L, 100L),                                    // tie (1 vs 1)
      (4L, 50L))                                               // single -> -
    val df = rows.toDF("user_id", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val r = Stats.signTestHalves(df, "user_id", "ts").collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 1L, "one plus user")
    assert(r.getLong(2) === 2L, "minus user + single-event user")
    assert(r.getLong(3) === 1L, "one tie")
    val zExp = BigDecimal(-1.0 / math.sqrt(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === zExp)
  }

  test("moodsMedianTest: hand-computed 2x2 contingency chi-square") {
    // A = {1,2,3}, B = {3,4,5}: global lower median 3; above = (0, 2),
    // at-or-below = (3, 1) -> chi2 = 1.5 + 1.5 = 3.0, dof 1
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 3.0), ("B", 4.0), ("B", 5.0)).toDF("g", "v")
    val r = Stats.moodsMedianTest(df, "g", "v").collect().head
    assert(r.getLong(0) === 6L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 3.0) // global median
    assert(r.getLong(3) === 1L)
    assert(r.getDouble(4) === 3.0) // chi2
  }

  test("matthewsCorr: hand-computed confusion, degenerate margin -> null") {
    // tp=2 fp=1 fn=1 tn=3: mcc = (6-1)/sqrt(3*3*4*4) = 5/12
    val df = Seq(("en", "en"), ("en", "en"), ("de", "en"),
      ("en", "de"), ("de", "de"), ("de", "de"), ("de", "de"))
      .toDF("lab", "prd")
    val r = Stats.matthewsCorr(df, "lab", "prd", "en").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 1L, 3L)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === r6(5.0 / 7)) // accuracy
    assert(r.getDouble(5) === r6(2.0 / 3)) // precision
    assert(r.getDouble(6) === r6(2.0 / 3)) // recall
    assert(r.getDouble(7) === r6(2.0 / 3)) // f1
    assert(r.getDouble(8) === r6(5.0 / 12))
    // all-positive predictions: tn+fn margin = 0 -> null mcc
    val deg = Seq(("en", "en"), ("de", "en")).toDF("lab", "prd")
    assert(Stats.matthewsCorr(deg, "lab", "prd", "en").collect().head
      .isNullAt(8))
  }

  test("hodgesLehmannShift: grid-weighted median of pairwise differences") {
    // A={1,2}, B={0,1}: diffs 0(w1), 1(w2), 2(w1) -> median 1
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 0.0), ("B", 1.0))
      .toDF("cls", "v")
    val r = Stats.hodgesLehmannShift(df, "cls", "v", "A", "B")
      .collect().head
    assert(r.getLong(0) === 4L, "n_pairs = n_a * n_b")
    assert(r.getLong(1) === 3L, "distinct differences")
    assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 1.0)
    assert(r.getDouble(4) === 1.0)
    // even split: A={0,2}, B={0}: diffs 0,2 w1 each -> lower 0, upper 2
    val ev = Seq(("A", 0.0), ("A", 2.0), ("B", 0.0)).toDF("cls", "v")
    val e = Stats.hodgesLehmannShift(ev, "cls", "v", "A", "B")
      .collect().head
    assert(e.getDouble(2) === 0.0 && e.getDouble(3) === 2.0)
    assert(e.getDouble(4) === 1.0)
  }

  test("chatterjeeXi: exact small-n values and the constant-y null") {
    // monotone y=x, n=4 no ties: xi = 1 - 3*3/(16-1) = 0.4
    val mono = Seq(("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", 3.0, 3.0),
      ("g", 4.0, 4.0)).toDF("grp", "x", "y")
    val m = Stats.chatterjeeXi(mono, "grp", "x", "y").collect().head
    assert(m.getLong(1) === 4L && m.getLong(2) === 3L)
    assert(m.getDouble(3) === 0.4)
    // reversed y: |dr| telescopes identically under the y-CDF -> same xi
    val anti = Seq(("g", 1.0, 4.0), ("g", 2.0, 3.0), ("g", 3.0, 2.0),
      ("g", 4.0, 1.0)).toDF("grp", "x", "y")
    assert(Stats.chatterjeeXi(anti, "grp", "x", "y").collect()
      .head.getDouble(3) === 0.4)
    // constant y: denominator mass 0 -> null xi, never NaN
    val const = Seq(("g", 1.0, 7.0), ("g", 2.0, 7.0)).toDF("grp", "x", "y")
    assert(Stats.chatterjeeXi(const, "grp", "x", "y").collect()
      .head.isNullAt(3))
  }

  test("decisionStump: exact best split, perfect-separation gain") {
    // v=1 rows all positive, v>=2 all negative: split at 1 -> gain 0.5
    val df = Seq((1.0, true), (1.0, true), (2.0, false), (3.0, false))
      .toDF("v", "y")
    val r = Stats.decisionStump(df, "v", "y").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.5) // root gini
    assert(r.getDouble(3) === 1.0) // threshold
    assert(r.getDouble(4) === 0.5) // gain
    assert((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)) ===
      ((2L, 2L, 2L, 0L)))
  }

  test("cochranC: max-variance share with exact cent moments") {
    // A={1,3} var 2; B={1,5} var 8; C={2,2} var 0 -> C = 8/10
    val df = Seq(("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 5.0),
      ("C", 2.0), ("C", 2.0)).toDF("g", "v")
    val r = Stats.cochranC(df, "g", "v").collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getString(1) === "B")
    assert(r.getDouble(2) === 8.0 && r.getDouble(3) === 10.0)
    assert(r.getDouble(4) === 0.8)
  }

  test("tukeyHsd: studentized pair contrast against the pooled MSE") {
    // A={1,3} B={5,7}: SSE 4, MSE 2, se = 1, q = -4
    val df = Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 7.0))
      .toDF("g", "v")
    val r = Stats.tukeyHsd(df, "g", "v").collect()
    assert(r.length === 1)
    val p = r.head
    assert(p.getString(0) === "A" && p.getString(1) === "B")
    assert(p.getDouble(4) === 2.0 && p.getDouble(5) === 6.0)
    assert(p.getDouble(6) === -4.0)
    assert(p.getLong(7) === 2L && p.getLong(8) === 2L, "k, df_err")
    assert(p.getDouble(9) === 1.0 && p.getDouble(10) === -4.0)
  }

  test("smdBalance: hand-computed standardized difference") {
    // treat x={1,3} (m 2, v 2); ctrl x={5,9} (m 7, v 8):
    // smd = -5/sqrt(5)
    val df = Seq((true, 1.0), (true, 3.0), (false, 5.0), (false, 9.0))
      .toDF("t", "x")
    val r = Stats.smdBalance(df, "t", Seq("x")).collect().head
    assert(r.getString(0) === "x")
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 2.0 && r.getDouble(4) === 7.0)
    val exp = BigDecimal(-5.0 / math.sqrt(5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) === exp)
  }

  test("stratifiedAte: weighted two-arm strata, single-arm stratum dropped") {
    // s1: t={2,4} c={1} diff 2 (n 3); s2: t={5} c={3} diff 2 (n 2);
    // s3: treated only -> dropped; ate = (3/5)*2 + (2/5)*2 = 2
    val df = Seq((1, true, 2.0), (1, true, 4.0), (1, false, 1.0),
      (2, true, 5.0), (2, false, 3.0), (3, true, 9.0))
      .toDF("s", "t", "y")
    val rows = Stats.stratifiedAte(df, "t", "y", "s").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet === Set(1, 2))
    assert(rows(1).getLong(1) === 3L && rows(1).getDouble(6) === 2.0)
    assert(rows(2).getDouble(4) === 5.0 && rows(2).getDouble(5) === 3.0)
    assert(rows(1).getLong(7) === 2L, "k_strata")
    assert(rows(1).getLong(8) === 5L, "n_used")
    assert(rows(1).getDouble(9) === 2.0, "overall ate")
  }

  test("welchAnova: hand-computed heteroscedastic F and Satterthwaite df") {
    // A={1,3} (m2 v2, w1), B={5,9} (m7 v8, w.25): W=1.25, mw=3,
    // A=5, L=0.68 -> F=5 (k=2 kills the denominator), df2=1/0.68
    val df = Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 9.0))
      .toDF("g", "v")
    val r = Stats.welchAnova(df, "g", "v").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(r.getLong(2) === 1L, "df1")
    val df2 = BigDecimal(3.0 / (3.0 * 0.68))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) === df2)
    assert(r.getDouble(4) === 5.0)
  }

  test("fisherExact: closed-form hypergeometric 4/4 margins") {
    // a=3 b=1 c=1 d=3: support C(8,4)=70 -> p = (1,16,36,16,1)/70
    // two-sided = 34/70, greater = 17/70, less = 69/70, OR = 9
    val rows = Seq.fill(3)((true, true)) ++ Seq((true, false)) ++
      Seq((false, true)) ++ Seq.fill(3)((false, false))
    val df = rows.toDF("x", "y")
    val r = Stats.fisherExact(df, "x", "y").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 1L, 1L, 3L)))
    assert(r.getDouble(4) === 9.0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) === r6(34.0 / 70))
    assert(r.getDouble(6) === r6(17.0 / 70))
    assert(r.getDouble(7) === r6(69.0 / 70))
  }

  test("cohensH: exact arcsine effect size at p=1/4 vs 3/4") {
    // h = 2asin(.5) - 2asin(sqrt(.75)) = pi/3 - 2pi/3 = -pi/3
    val rows = Seq((true, true), (true, false), (true, false),
      (true, false), (false, true), (false, true), (false, true),
      (false, false))
    val df = rows.toDF("cond", "flag")
    val r = Stats.cohensH(df, "cond", "flag").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.25 && r.getDouble(3) === 0.75)
    // mirror the engine's op sequence (asin ulps shift -pi/3 past 6dp)
    val h = BigDecimal(2.0 * math.asin(math.sqrt(0.25))
      - 2.0 * math.asin(math.sqrt(0.75)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) === h)
    assert(math.abs(r.getDouble(4) - (-math.Pi / 3)) < 1e-6)
  }

  test("tostEquivalence: hand-computed Welch TOST bounds") {
    // A={1,3} B={3,5}, delta 3: d=-2, se=sqrt(2), df=2,
    // t_lower = 1/sqrt(2), t_upper = -5/sqrt(2)
    val df = Seq(("A", 1.0), ("A", 3.0), ("B", 3.0), ("B", 5.0))
      .toDF("g", "v")
    val r = Stats.tostEquivalence(df, "g", "v", "A", "B", delta = 3.0)
      .collect().head
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === -2.0 && r.getDouble(3) === 3.0)
    assert(r.getDouble(4) === r6(math.sqrt(2.0)))
    assert(r.getDouble(5) === 2.0, "Welch df, equal arms")
    assert(r.getDouble(6) === r6(1.0 / math.sqrt(2.0)))
    assert(r.getDouble(7) === r6(-5.0 / math.sqrt(2.0)))
  }

  test("stumpCv: leave-one-fold-out thresholds and held-out accuracy") {
    // fold 0: clean (1->pos, 2->neg); fold 1: same + one noisy (2, pos)
    val df = Seq(
      (1.0, true, 0L), (2.0, false, 0L),
      (1.0, true, 1L), (2.0, false, 1L), (2.0, true, 1L))
      .toDF("v", "y", "f")
    val out = Stats.stumpCv(df, "v", "y", "f").collect()
      .map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // fold 0 trains on the noisy fold: gain 4/9 - (2/3)*0.5 = 1/9,
    // but classifies the clean fold perfectly
    assert(out(0L).getDouble(1) === 1.0)
    assert(out(0L).getDouble(2) === r6(1.0 / 9))
    assert(out(0L).getLong(3) === 2L && out(0L).getLong(4) === 2L)
    assert(out(0L).getDouble(5) === 1.0)
    // fold 1 trains clean (gain 0.5) and misses its own noise row
    assert(out(1L).getDouble(1) === 1.0)
    assert(out(1L).getDouble(2) === 0.5)
    assert(out(1L).getLong(3) === 3L && out(1L).getLong(4) === 2L)
    assert(out(1L).getDouble(5) === r6(2.0 / 3))
  }

  test("bcubed: hand-computed item-weighted precision/recall") {
    // G={x,x,y,y}, P={1,1,1,2}: P=2/3, R=3/4, F=12/17
    val df = Seq(("x", "1"), ("x", "1"), ("y", "1"), ("y", "2"))
      .toDF("g", "p")
    val r = Stats.bcubed(df, "g", "p").collect().head
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === r6(2.0 / 3))
    assert(r.getDouble(4) === 0.75)
    assert(r.getDouble(5) === r6(12.0 / 17))
    // perfect clustering scores 1 on all three
    val perf = Seq(("x", "1"), ("x", "1"), ("y", "2")).toDF("g", "p")
    val q = Stats.bcubed(perf, "g", "p").collect().head
    assert(q.getDouble(3) === 1.0 && q.getDouble(4) === 1.0 &&
      q.getDouble(5) === 1.0)
  }

  test("vMeasure: perfect = 1, one-cluster collapse = homogeneity 0") {
    val perf = Seq(("x", "1"), ("x", "1"), ("y", "2")).toDF("g", "p")
    val p = Stats.vMeasure(perf, "g", "p").collect().head
    assert(p.getDouble(3) === 1.0 && p.getDouble(4) === 1.0 &&
      p.getDouble(5) === 1.0)
    // two gold classes into one cluster: hom 0, comp 1 (H(P)=0), V 0
    val coll = Seq(("x", "1"), ("y", "1")).toDF("g", "p")
    val c = Stats.vMeasure(coll, "g", "p").collect().head
    assert(c.getDouble(3) === 0.0)
    assert(c.getDouble(4) === 1.0)
    assert(c.getDouble(5) === 0.0)
  }

  test("quadeTest: hand-computed range-weighted statistic") {
    // b=3 blocks, k=3; ranges 2,4,2 -> Q = 1.5, 3, 1.5
    // S_j = (-4.5, -1.5, 6); A=27, B=19.5, T = 2*19.5/7.5 = 5.2
    val cells = Seq(
      ("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b1", "t3", 3.0),
      ("b2", "t1", 1.0), ("b2", "t2", 3.0), ("b2", "t3", 5.0),
      ("b3", "t1", 2.0), ("b3", "t2", 1.0), ("b3", "t3", 3.0))
      .toDF("blk", "trt", "v")
    val out = Stats.quadeTest(cells, "blk", "trt", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("t1").getDouble(2) === -4.5)
    assert(out("t2").getDouble(2) === -1.5)
    assert(out("t3").getDouble(2) === 6.0)
    assert(out("t1").getLong(3) === 3L && out("t1").getLong(4) === 3L)
    assert(out("t1").getDouble(5) === 5.2)
    // incomplete block (b4 missing t3) is dropped, stats unchanged
    val extra = cells.unionByName(
      Seq(("b4", "t1", 9.0), ("b4", "t2", 8.0)).toDF("blk", "trt", "v"))
    val out2 = Stats.quadeTest(extra, "blk", "trt", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out2("t1").getLong(3) === 3L)
    assert(out2("t1").getDouble(5) === 5.2)
  }

}
