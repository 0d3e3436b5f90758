package graft

import graft.operators.{Agreement, Stats}
import org.apache.spark.sql.Row

class AgreementSpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------------- Fleiss

  test("fleissKappa: Fleiss '71 textbook example (N=10, m=14, k=5)") {
    // the canonical worked example: n_ij per (item, category); expanding
    // counts to rating rows gives S2=828, SC2=4170, P̄=.3780, P̄e=.2128,
    // κ = .20993070442195524 (exact ratio 2752/13109... verified by
    // clearing denominators by hand)
    val counts = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    val rows = for {
      (row, i) <- counts.zipWithIndex
      (c, j) <- row.zipWithIndex
      _ <- 0 until c
    } yield (i.toLong, s"cat$j")
    val r = Agreement.fleissKappa(rows.toDF("item", "label"), "item",
      "label", raters = 14).collect().head
    assert(r.getLong(0) === 10L)    // n_items
    assert(r.getLong(1) === 14L)    // n_raters
    assert(r.getLong(2) === 5L)     // k_categories
    assert(math.abs(r.getDouble(3) - 0.378021978021978) < 1e-15)
    assert(math.abs(r.getDouble(4) - 0.21275510204081632) < 1e-15)
    assert(math.abs(r.getDouble(5) - 0.20993070442195524) < 1e-15)
  }

  test("fleissKappa: items without exactly m ratings are dropped; " +
       "perfect agreement gives kappa 1") {
    val df = Seq(
      (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "b"), (2L, "b"), (2L, "b"),
      (3L, "a"), (3L, "a"),            // only 2 ratings — dropped
      (4L, "a"), (4L, "a"), (4L, "a"), (4L, "a")) // 4 ratings — dropped
      .toDF("item", "label")
    val r = Agreement.fleissKappa(df, "item", "label", raters = 3)
      .collect().head
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(5) === 1.0)
  }

  test("fleissKappa: uniform single-category table degenerates to null") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "label")
    val r = Agreement.fleissKappa(df, "item", "label", raters = 2)
      .collect().head
    assert(r.isNullAt(5))           // 1 − P̄e = 0 → undefined
  }

  // ------------------------------------------------------------- Gwet AC1

  test("gwetsAC1: Fleiss '71 example gives AC1 = 0.22561… (exact ratio)") {
    // same expansion as the kappa test; cleared-denominator form gives
    // num = 184690, den = 818610 → AC1 = 0.2256141508166282 (vs κ = .210
    // — AC1 sits above kappa here because the category prevalences are
    // mildly skewed)
    val counts = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    val rows = for {
      (row, i) <- counts.zipWithIndex
      (c, j) <- row.zipWithIndex
      _ <- 0 until c
    } yield (i.toLong, s"cat$j")
    val r = Agreement.gwetsAC1(rows.toDF("item", "label"), "item",
      "label", raters = 14).collect().head
    assert(r.getLong(0) === 10L && r.getLong(2) === 5L)
    assert(r.getDouble(5) === 184690.0 / 818610.0)
  }

  test("gwetsAC1: survives the kappa paradox (skewed prevalence)") {
    // 9 items unanimously 'ok', 1 item split 1/1: raw agreement 90%+,
    // kappa collapses toward 0 on the 95/5 split, AC1 stays high
    val rows = (1 to 9).flatMap(i => Seq((i.toLong, "ok"), (i.toLong, "ok"))) ++
      Seq((10L, "ok"), (10L, "bad"))
    val kappa = Agreement.fleissKappa(rows.toDF("item", "label"), "item",
      "label", raters = 2).collect().head.getDouble(5)
    val ac1 = Agreement.gwetsAC1(rows.toDF("item", "label"), "item",
      "label", raters = 2).collect().head.getDouble(5)
    assert(kappa < 0.0)   // the paradox: near-total agreement, κ ≤ 0
    assert(ac1 > 0.85)    // AC1 reads it as the agreement it is
  }

  // ---------------------------------------------------------------- ICC(1)

  test("icc1: unbalanced hand example (J=3, sizes 3/3/2) → 0.936937") {
    // groups (9,10,11), (1,2,3), (5,7): MSB = 48, MSW = 1.2,
    // k0 = 2.625, ICC = 46.8/49.95 = 0.9369…
    val df = Seq(("a", 9.0), ("a", 10.0), ("a", 11.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0),
      ("c", 5.0), ("c", 7.0)).toDF("g", "v")
    val r = Stats.icc1(df, "g", "v").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 8L)
    assert(r.getDouble(2) === 48.0)      // msb
    assert(r.getDouble(3) === 1.2)       // msw
    assert(r.getDouble(4) === 2.625)     // k0
    assert(r.getDouble(5) === 0.936937)
  }

  test("icc1: no between-group structure gives icc ~ negative/zero; " +
       "single group gives nulls") {
    val flat = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val r = Stats.icc1(flat, "g", "v").collect().head
    assert(r.getDouble(5) <= 0.0)        // identical groups → ICC ≤ 0
    val solo = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val s = Stats.icc1(solo, "g", "v").collect().head
    assert(s.isNullAt(2) && s.isNullAt(5))
  }

  // --------------------------------------------------------------- Bartlett

  test("bartlettTest: hand example = 4.386666; degenerate groups dropped") {
    // groups (1,2,3,4), (2,4,6,8), (1,1.5,2,2.5): hand fold (verified
    // against the closed form) → T/C = 4.386665692…
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0), ("b", 8.0),
      ("c", 1.0), ("c", 1.5), ("c", 2.0), ("c", 2.5)).toDF("g", "v")
    val r = Stats.bartlettTest(df, "g", "v").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 12L)
    assert(r.getDouble(2) === 4.386666)
    // constant group (zero variance) and singleton are dropped, not NaN
    val withBad = df.union(Seq(("d", 5.0), ("d", 5.0), ("e", 1.0))
      .toDF("g", "v"))
    val r2 = Stats.bartlettTest(withBad, "g", "v").collect().head
    assert(r2.getLong(0) === 3L)
    assert(r2.getDouble(2) === 4.386666)
  }

  test("bartlettTest: equal variances give a near-zero statistic") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 11.0), ("b", 12.0), ("b", 13.0)).toDF("g", "v")
    val r = Stats.bartlettTest(df, "g", "v").collect().head
    assert(r.getDouble(2) === 0.0)       // identical spreads, shifted mean
  }

  // ---------------------------------------------------------- Krippendorff

  test("krippendorffAlpha: Krippendorff 2011 nominal example = 0.7434") {
    // 4 observers × 12 units with missing cells; unit 12 has a single
    // value (unpairable, dropped) → n=40, o=32, Σn_c²=384, α=0.743421…
    val units = Map(
      1 -> Seq("1", "1", "1"), 2 -> Seq("2", "2", "3", "2"),
      3 -> Seq("3", "3", "3", "3"), 4 -> Seq("3", "3", "3", "3"),
      5 -> Seq("2", "2", "2", "2"), 6 -> Seq("1", "2", "3", "4"),
      7 -> Seq("4", "4", "4", "4"), 8 -> Seq("1", "1", "2", "1"),
      9 -> Seq("2", "2", "2", "2"), 10 -> Seq("5", "5", "5"),
      11 -> Seq("1", "1"), 12 -> Seq("3"))
    val rows = units.toSeq.flatMap { case (u, vs) =>
      vs.map(v => (u.toLong, v)) }
    val r = Agreement.krippendorffAlpha(rows.toDF("unit", "v"), "unit", "v")
      .collect().head
    assert(r.getLong(0) === 11L)    // n_items (unit 12 dropped)
    assert(r.getLong(2) === 40L)    // n_pairable
    assert(r.getDouble(3) === 32.0) // observed coincidence mass
    assert(r.getDouble(4) === 0.743421)
  }

  test("krippendorffAlpha: perfect two-rater agreement gives alpha 1") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "y"),
      (3L, "x"), (3L, "x")).toDF("unit", "v")
    val r = Agreement.krippendorffAlpha(df, "unit", "v").collect().head
    assert(r.getDouble(4) === 1.0)
  }

  test("krippendorffAlpha: single shared category degenerates to null") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x"))
      .toDF("unit", "v")
    assert(Agreement.krippendorffAlpha(df, "unit", "v").collect()
      .head.isNullAt(4))            // n² = Σn_c² → division undefined
  }

  // -------------------------------------------------------------- KendallW

  test("kendallW: identical untied rankings give W = 1") {
    val df = (for (r <- 1 to 3; i <- 1 to 4)
      yield (s"r$r", s"i$i", i.toDouble)).toDF("rater", "item", "v")
    val out = Agreement.kendallW(df, "rater", "item", "v").collect().head
    assert(out.getLong(0) === 4L && out.getLong(1) === 3L)
    assert(out.getDouble(3) === 1.0)
  }

  test("kendallW: tie-corrected hand example (S=42.5, ΣT=6, W=0.97701…)") {
    // raters 1,2 rank items 1<2<3<4; rater 3 ties items 1,2 (values
    // 5,5,6,7) → midranks 1.5,1.5,3,4; R = (3.5,5.5,9,12),
    // S = 42.5, ΣT = 2³−2 = 6, W = 12·42.5/(9·60 − 3·6) = 85/87
    val df = Seq(
      ("r1", "i1", 1.0), ("r1", "i2", 2.0), ("r1", "i3", 3.0), ("r1", "i4", 4.0),
      ("r2", "i1", 1.0), ("r2", "i2", 2.0), ("r2", "i3", 3.0), ("r2", "i4", 4.0),
      ("r3", "i1", 5.0), ("r3", "i2", 5.0), ("r3", "i3", 6.0), ("r3", "i4", 7.0))
      .toDF("rater", "item", "v")
    val out = Agreement.kendallW(df, "rater", "item", "v").collect().head
    assert(out.getDouble(2) === 42.5)
    assert(out.getDouble(3) === 85.0 / 87.0)
  }

  test("kendallW: items missing a rater are dropped before ranking") {
    val df = Seq(
      ("r1", "i1", 1.0), ("r1", "i2", 2.0), ("r1", "i3", 3.0),
      ("r2", "i1", 1.0), ("r2", "i2", 2.0)) // r2 never saw i3
      .toDF("rater", "item", "v")
    val out = Agreement.kendallW(df, "rater", "item", "v").collect().head
    assert(out.getLong(0) === 2L)   // i3 dropped
    assert(out.getDouble(3) === 1.0)
  }

  // ----------------------------------------------------------- Dawid–Skene

  test("dawidSkene: learned rater reliability overrides majority vote") {
    // raters A,B,C reliable on items 1-8; D,E systematically wrong.
    // item 9 is rated only by A (x) vs D,E (y): majority says y, but
    // after one EM pass D,E's confusion matrices are learned as
    // inverted and A wins — label x. Pinned against an independent
    // python implementation of the same integer-scaled hard EM.
    val truth = Map(1 -> "x", 2 -> "x", 3 -> "x", 4 -> "y", 5 -> "y",
      6 -> "y", 7 -> "x", 8 -> "y")
    val rows = truth.toSeq.flatMap { case (i, t) =>
      val w = if (t == "x") "y" else "x"
      Seq((i.toLong, "A", t, 1), (i.toLong, "B", t, 2),
        (i.toLong, "C", t, 3), (i.toLong, "D", w, 4), (i.toLong, "E", w, 5))
    } ++ Seq((9L, "A", "x", 1), (9L, "D", "y", 2), (9L, "E", "y", 3))
    val out = Agreement.dawidSkene(rows.toDF("item", "rater", "label",
      "ord"), "item", "rater", "label", "ord")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(9L).getString(1) === "y")      // majority
    assert(out(9L).getString(2) === "x")      // DS corrects it
    assert(out(9L).getBoolean(3))
    truth.foreach { case (i, t) =>
      assert(out(i.toLong).getString(2) === t,
        s"item $i should keep its consensus label $t")
      assert(!out(i.toLong).getBoolean(3))
    }
  }

  test("dawidSkene: unanimous raters leave majority labels unchanged") {
    val rows = for (i <- 1 to 6; r <- Seq("A", "B", "C"))
      yield (i.toLong, r, if (i % 2 == 0) "p" else "q",
        Seq("A", "B", "C").indexOf(r) + 1)
    val out = Agreement.dawidSkene(rows.toDF("item", "rater", "label",
      "ord"), "item", "rater", "label", "ord").collect()
    assert(out.length === 6)
    assert(out.forall(!_.getBoolean(3)))
    assert(out.forall(r => r.getString(1) === r.getString(2)))
  }

  // --------------------------------------------------------- majorityLabel

  test("majorityLabel: modal label, exact support, lexicographic tiebreak") {
    val df = Seq(
      (1L, "b"), (1L, "b"), (1L, "a"),            // clear majority b, 2/3
      (2L, "z"), (2L, "a"),                        // tie → a (lex smallest)
      (3L, "c")).toDF("item", "label")
    val out = Agreement.majorityLabel(df, "item", "label")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "b")
    assert(out(1L).getLong(2) === 2L && out(1L).getLong(3) === 3L)
    assert(out(1L).getDouble(4) === 2.0 / 3.0)
    assert(out(2L).getString(1) === "a" && out(2L).getDouble(4) === 0.5)
    assert(out(3L).getString(1) === "c" && out(3L).getDouble(4) === 1.0)
  }

  // ---------------------------------------------------------------- Levene

  test("leveneTest: hand example W = 2.4 (mean centering)") {
    // g1 = 1,2,3,4 (z̄=1.0); g2 = 1,1.5,2,2.5 (z̄=0.5) → between = 0.5·2...
    // full hand fold: between = Σ n_j(z̄_j−z̄)² = 4(.25)²·2 = 0.5,
    // within = 1.25, W = (8−2)/(2−1) · 0.5/(1.25+1.25/4)... = 2.4
    val df = Seq(("g1", 1.0), ("g1", 2.0), ("g1", 3.0), ("g1", 4.0),
      ("g2", 1.0), ("g2", 1.5), ("g2", 2.0), ("g2", 2.5))
      .toDF("g", "v")
    val out = Stats.leveneTest(df, "g", "v").collect()
    assert(out.length === 2)
    // column order: g, n, z_mean, k_groups, n_total, w_stat
    val r = out.head
    assert(r.getLong(3) === 2L && r.getLong(4) === 8L)
    assert(out.forall(_.getDouble(5) === 2.4))
  }

  test("leveneTest: identical groups give W = 0; median centering runs") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    assert(Stats.leveneTest(df, "g", "v").collect()
      .forall(_.getDouble(5) === 0.0))
    // Brown–Forsythe path: same symmetric data → medians = means → W = 0
    assert(Stats.leveneTest(df, "g", "v", center = "median").collect()
      .forall(_.getDouble(5) === 0.0))
  }

  test("cronbachAlpha: hand-computed scale, incomplete and malformed subjects drop") {
    import spark.implicits._
    // 3 subjects × 3 perfectly-correlated items: item variances 1, 4, 9
    // (Σ = 14), totals (6, 12, 18) variance 36 → α = 3/2 · (1 − 14/36)
    // = 11/12
    val base = Seq(
      (1L, "i1", 1.0), (1L, "i2", 2.0), (1L, "i3", 3.0),
      (2L, "i1", 2.0), (2L, "i2", 4.0), (2L, "i3", 6.0),
      (3L, "i1", 3.0), (3L, "i2", 6.0), (3L, "i3", 9.0))
    val extra = Seq(
      (4L, "i1", 5.0), (4L, "i2", 5.0), // incomplete: 2 of 3 items
      (5L, "i1", 1.0), (5L, "i1", 2.0), (5L, "i2", 3.0)) // dup cell, no i3
    val df = (base ++ extra).toDF("s", "i", "x")
    val r = Agreement.cronbachAlpha(df, "s", "i", "x", items = 3).collect().head
    assert(r.getLong(0) === 3L, "only the 3 complete well-formed subjects")
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 14.0)
    assert(r.getDouble(3) === 36.0)
    assert(math.abs(r.getDouble(4) - 11.0 / 12.0) < 1e-6)
    // zero total variance (all subjects identical) → null alpha
    val flat = Seq((1L, "i1", 1.0), (1L, "i2", 1.0),
      (2L, "i1", 1.0), (2L, "i2", 1.0)).toDF("s", "i", "x")
    assert(Agreement.cronbachAlpha(flat, "s", "i", "x", items = 2)
      .collect().head.isNullAt(4))
  }

  test("linCcc: identity is 1; a pure shift keeps r = 1 but drops CCC to C_b") {
    import spark.implicits._
    val same = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    val rs = Agreement.linCcc(same, "x", "y").collect().head
    assert(rs.getDouble(3) === 1.0 && rs.getDouble(4) === 1.0 &&
      rs.getDouble(5) === 1.0)
    // y = x + 1: vx = vy = 2/3, cov = 2/3, shift² = 1 →
    // CCC = (4/3)/(7/3) = 4/7; r stays 1 → C_b = 4/7 (pure shift)
    val shift = Seq((1.0, 2.0), (2.0, 3.0), (3.0, 4.0)).toDF("x", "y")
    val rt = Agreement.linCcc(shift, "x", "y").collect().head
    assert(math.abs(rt.getDouble(3) - 4.0 / 7.0) < 1e-6)
    assert(rt.getDouble(4) === 1.0)
    assert(math.abs(rt.getDouble(5) - 4.0 / 7.0) < 1e-6)
    // both constant: zero spread and zero shift → null CCC (0/0)
    val const = Seq((2.0, 2.0), (2.0, 2.0)).toDF("x", "y")
    assert(Agreement.linCcc(const, "x", "y").collect().head.isNullAt(3))
  }

  test("blandAltman: hand-computed bias/limits and outside count") {
    // d = 2, -1, 4: bias 5/3, var 38/6, none outside the 1.96 band
    val units = Seq((3L, 1L), (1L, 2L), (5L, 1L)).toDF("m1", "m2")
    val r = Agreement.blandAltman(units, "m1", "m2").collect().head
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sd = math.sqrt(38.0 / 6)
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === r6(5.0 / 3))
    assert(r.getDouble(2) === r6(sd))
    assert(r.getDouble(3) === r6(5.0 / 3 - 1.96 * sd))
    assert(r.getDouble(4) === r6(5.0 / 3 + 1.96 * sd))
    assert(r.getLong(5) === 0L && r.getDouble(6) === 0.0)
  }

  test("blandAltman: single paired unit yields null sd/limits/outside " +
    "(no NaN propagation)") {
    val one = Seq((3L, 1L)).toDF("m1", "m2")
    val r = Agreement.blandAltman(one, "m1", "m2").collect().head
    assert(r.getLong(0) === 1L)
    assert(r.getDouble(1) === 2.0) // bias is still well-defined
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
    assert(r.isNullAt(5) && r.isNullAt(6))
  }

  test("bordaCount: midrank point split on ties, consensus rank") {
    // v1: a>b>c (2,1,0); v2: b=c tied first (1.5 each), a last (0)
    val ballots = Seq(("v1", "a", 3.0), ("v1", "b", 2.0), ("v1", "c", 1.0),
      ("v2", "a", 1.0), ("v2", "b", 5.0), ("v2", "c", 5.0))
      .toDF("voter", "cand", "score")
    val out = Agreement.bordaCount(ballots, "voter", "cand", "score")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(out("a") === ((2L, 2.0, 2)))
    assert(out("b") === ((2L, 2.5, 1)))
    assert(out("c") === ((2L, 1.5, 3)))
  }
}
