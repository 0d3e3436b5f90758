package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical model fitting over groups (SURVEY.md §2b) — the closed-form
  * cases that reduce to aggregates, so they run as ONE hash-aggregate pass
  * at any scale (no iteration, no per-group driver work).
  */
object Stats {

  /** Per-group simple linear regression (closed-form OLS):
    * slope = cov(x,y)/var(x), intercept = ȳ − slope·x̄, plus r² and n —
    * the trend-per-segment primitive (drift per source, price curve per
    * part type, …).
    *
    * Built from the SAME covariance/variance aggregates both engines
    * implement (proven hash-stable at 6dp by the stats battery), composed
    * after the aggregate — one shuffle on the group key, partial
    * aggregation map-side. Groups with < 2 rows or zero variance yield
    * null slope/intercept/r2 rather than NaN/Infinity. */
  def groupOls(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      covar_samp(col(xCol), col(yCol)).as("__cov"),
      var_samp(col(xCol)).as("__varx"),
      var_samp(col(yCol)).as("__vary"),
      avg(col(xCol)).as("__xbar"),
      avg(col(yCol)).as("__ybar"))
    val slope = when(col("__varx") > 0, col("__cov") / col("__varx"))
    // r² = cov²/(varx·vary) rather than corr(x,y)² — corr DIVIDES BY ZERO
    // on a zero-variance side (ANSI), and the explicit form lets the guard
    // run before any division so degenerate groups report null, never NaN
    val r2 = when(col("__varx") > 0 && col("__vary") > 0,
      (col("__cov") * col("__cov")) / (col("__varx") * col("__vary")))
    agg.select(col(groupCol), col("n"),
      round(slope, 6).as("slope"),
      round(col("__ybar") - slope * col("__xbar"), 6).as("intercept"),
      round(r2, 6).as("r2"))
  }

  /** Sample-ratio-mismatch (SRM) check: the χ² goodness-of-fit statistic
    * for "did the split actually deliver the expected ratio" — THE
    * experiment guardrail that must run before any A/B readout (a biased
    * assignment invalidates every downstream metric; large χ² ⇒
    * investigate the bucketing, not the metrics). Expected counts follow
    * `ratioA` (0.5 = even split); χ² = Σ (obs − exp)²/exp with 1 df.
    *
    * ONE aggregate over the filtered rows; exact integer counts and a
    * dyadic default ratio keep the statistic engine-portable at the 6dp
    * round. */
  def sampleRatioCheck(df: DataFrame, armCol: String,
                       armA: String, armB: String, ratioA: Double = 0.5): DataFrame = {
    require(ratioA > 0 && ratioA < 1, s"ratioA must be in (0,1): $ratioA")
    val counts = df.filter(col(armCol).isin(armA, armB))
      .agg(sum(when(col(armCol) === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(armCol) === armB, 1L).otherwise(0L)).as("n_b"))
    val total = (col("n_a") + col("n_b")).cast("double")
    val ea = total * ratioA
    val eb = total * (1.0 - ratioA)
    val chi2 = when(col("n_a") + col("n_b") > 0,
      (col("n_a") - ea) * (col("n_a") - ea) / ea
        + (col("n_b") - eb) * (col("n_b") - eb) / eb)
    counts.select(col("n_a"), col("n_b"),
      round(chi2, 6).as("srm_chi2"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: max |ECDF_a − ECDF_b| —
    * THE distribution-shift detector (train/serve skew, sample-vs-
    * population fidelity, drift between snapshots), sensitive to any
    * difference in shape, not just mean/variance like a t-test.
    *
    * Shape: ONE hash aggregate collapses the data to per-DISTINCT-VALUE
    * side counts, then one cumulative window + a 1-row max run over the
    * distinct-value table (bounded like vocabCoverage's cumsum — never
    * the raw rows; the global window is a single task over distinct
    * values, so bin or round `valCol` first if it is continuous at
    * billions of distinct points). ECDF fractions are exact-integer
    * divisions — deterministic cross-engine. */
  def ksStatistic(df: DataFrame, sideCol: String, valCol: String,
                  sideA: String, sideB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null values are excluded: an ECDF is defined over observed values,
    // and engines disagree on where NULL sorts (Spark ascending = NULLS
    // FIRST, DuckDB = NULLS LAST) — keeping them would make the cumsum
    // engine-dependent
    sideCumGrid(df, sideCol, col(valCol), sideA, sideB)
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(max(abs(col("__cuma") / col("__na")
          - col("__cumb") / col("__nb"))), 6).as("ks"))
  }

  /** Shared two-sample ECDF grid (r16): per distinct value `__v`, side
    * counts (`__ca`/`__cb`), INCLUSIVE cumulative side counts
    * (`__cuma`/`__cumb`) and side totals (`__na`/`__nb`) — the cumulative
    * + whole-frame windows every two-sample test below shares, in the
    * scale-adaptive [[Prefix.cumBefore]] form: the plain path is the
    * original single-WindowExec pass (all four sums share one
    * partition/order spec), the wide path is the bucketed prefix-sum
    * (the r15-verdict single-partition-window fix). Exact integers on
    * both paths — identical bits. */
  private def sideCumGrid(df: DataFrame, sideCol: String, valCol: Column,
                          sideA: String, sideB: String): DataFrame = {
    val wide = Prefix.isWide(df)
    val perValue = df.filter(col(sideCol).isin(sideA, sideB))
      .filter(valCol.isNotNull)
      .groupBy(valCol.as("__v"))
      .agg(sum(when(col(sideCol) === sideA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(sideCol) === sideB, 1L).otherwise(0L)).as("__cb"))
    Prefix.cumBefore(perValue, Nil, "__v", Seq("__ca", "__cb"),
        wide = wide, withTotals = true)
      .select(col("__v"), col("__ca"), col("__cb"),
        (col("__cb___ca") + col("__ca")).as("__cuma"),
        (col("__cb___cb") + col("__cb")).as("__cumb"),
        col("__tot___ca").as("__na"), col("__tot___cb").as("__nb"))
  }

  /** Two-sample 1-D Wasserstein-1 (earth mover) distance:
    * ∫ |ECDF_a(x) − ECDF_b(x)| dx over the merged observed support —
    * the MAGNITUDE companion to [[ksStatistic]]: KS reports the worst
    * single gap, W1 reports how much probability mass must move how far,
    * so a small-but-everywhere drift scores high on W1 while barely
    * registering on KS (the metric behind distribution-shift monitors
    * that must rank drifts, not just flag them; Ramdas, García Trillos &
    * Cuturi, Entropy'17 survey the empirical-CDF identity).
    *
    * Shape: identical to [[ksStatistic]] — ONE hash aggregate to
    * per-distinct-value side counts, one cumulative window over the
    * distinct-value table, then Σ |cdf gap| × (next value − value) via
    * lead. Same bounded-window contract: bin/round a continuous column
    * first at billions of distinct points. The segment products are
    * floating sums (CDF gap × spacing) — the result is rounded, unlike
    * the exact-rational KS fractions. Nulls are excluded (ECDF contract,
    * NULL sort order is engine-dependent). */
  def wasserstein1(df: DataFrame, sideCol: String, valCol: String,
                   sideA: String, sideB: String): DataFrame = {
    val grid = sideCumGrid(df, sideCol, col(valCol).cast("double"),
      sideA, sideB)
    Prefix.leadAcross(grid, Nil, "__v", "__v", wide = Prefix.isWide(df))
      .withColumn("__gap", col("__lead___v") - col("__v"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(sum(abs(col("__cuma") / col("__na")
            - col("__cumb") / col("__nb")) * col("__gap")),
          6).as("w1"))
  }

  /** Two-sample 1-D energy distance (Székely & Rizzo, InterStat '04):
    * E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|, which on the real line collapses
    * by the ECDF identity E|X−Y| = ∫ F(1−G) + G(1−F) dx to
    * E = 2·∫ (F_a − F_b)² dx — the SQUARED-L2 sibling of
    * [[wasserstein1]]'s L1: W1 weighs every gap linearly (a long thin
    * tail gap dominates), energy distance weighs gaps quadratically so
    * it rewards concentrated body shifts and underweights diffuse tail
    * noise; together with [[ksStatistic]] (L∞) the three give the full
    * p = ∞/1/2 drift profile on ONE shared histogram shape. E = 0 iff
    * the distributions coincide (it is a true metric, unlike CvM's
    * mixture-weighted criterion).
    *
    * Shape: identical to [[wasserstein1]] — one hash aggregate to
    * per-distinct-value side counts, one cumulative window, Σ (CDF
    * gap)² × spacing via lead. Segment products are floating sums →
    * rounded. Nulls excluded (ECDF contract). */
  def energyDistance(df: DataFrame, sideCol: String, valCol: String,
                     sideA: String, sideB: String): DataFrame = {
    val grid = sideCumGrid(df, sideCol, col(valCol).cast("double"),
      sideA, sideB)
    Prefix.leadAcross(grid, Nil, "__v", "__v", wide = Prefix.isWide(df))
      .withColumn("__gap", col("__lead___v") - col("__v"))
      .withColumn("__d", col("__cuma") / col("__na")
        - col("__cumb") / col("__nb"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(sum(lit(2.0) * col("__d") * col("__d") * col("__gap")),
          6).as("e_dist"))
  }

  /** Two-sample Anderson–Darling statistic (Pettitt, Biometrika '76),
    * in the right-continuous discrete form over the observed support:
    * A² = (n_a·n_b/N²) Σ_j l_j (F_a−F_b)²_j / (Ĥ_j(1−Ĥ_j)), the pooled
    * ECDF Ĥ weighting each gap by 1/(Ĥ(1−Ĥ)) — the TAIL-SENSITIVE rung
    * of the drift ladder: KS (L∞) and W1/energy (body-weighted) barely
    * see a drift confined to the top 0.1%, while AD's weight diverges
    * at both CDF ends, so tail shifts (the ones that break p99 SLOs and
    * outlier filters) dominate the statistic. Reduces exactly to the
    * classical Σ (M_i N − n i)²/(nm·i(N−i)) when values are distinct
    * (spec-pinned); the Ĥ = 1 block carries F_a−F_b = 0 and is
    * excluded (its weight is singular).
    *
    * Shape: identical to [[ksStatistic]]/[[wasserstein1]] — one hash
    * aggregate to per-distinct-value side counts, cumulative windows
    * over the distinct-value table, one fold. Floating term sums →
    * rounded. */
  def andersonDarling(df: DataFrame, sideCol: String, valCol: String,
                      sideA: String, sideB: String): DataFrame = {
    sideCumGrid(df, sideCol, col(valCol).cast("double"), sideA, sideB)
      .withColumn("__nn", (col("__na") + col("__nb")).cast("double"))
      .withColumn("__h", (col("__cuma") + col("__cumb")).cast("double")
        / col("__nn"))
      .withColumn("__d", col("__cuma").cast("double") / col("__na")
        - col("__cumb").cast("double") / col("__nb"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(max(col("__na")).cast("double") * max(col("__nb"))
          / (max(col("__nn")) * max(col("__nn")))
          * sum(when(col("__h") < 1.0,
            (col("__ca") + col("__cb")).cast("double")
              * col("__d") * col("__d")
              / (col("__h") * (lit(1.0) - col("__h"))))),
          6).as("a2"))
  }

  /** Cochran–Armitage trend test (Cochran, Biometrics '54; Armitage
    * '55): z for a LINEAR trend in success rate across ORDERED groups —
    * the "does the rate climb with the dose" question a per-group χ²
    * can't answer (χ² sees any difference; CA concentrates power on the
    * monotone alternative — rate drift across hours, positions,
    * quality deciles). T = Σ w_i k_i with the group score as weight;
    * z = (T − p̄ Σ w n)/√(p̄(1−p̄)(Σ w²n − (Σ wn)²/N)).
    *
    * Shape: one per-score conditional aggregate (shuffle ∝ scores),
    * one fold over the score table. All moments are exact-integer
    * sums; p̄ and the weighted sums mix into a √ → z rounds. Null z on
    * degenerate inputs (all success, none, or a single score). */
  def cochranArmitage(df: DataFrame, scoreCol: String, successCol: Column): DataFrame = {
    val perScore = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("double").as("__w"))
      .agg(count(lit(1)).as("__n"),
        sum(when(successCol, 1L).otherwise(0L)).as("__k"))
    perScore
      .agg(sum(col("__n")).as("n_total"), sum(col("__k")).as("n_success"),
        sum(col("__w") * col("__k")).as("__t"),
        sum(col("__w") * col("__n")).as("__wn"),
        sum(col("__w") * col("__w") * col("__n")).as("__w2n"))
      .withColumn("__p", col("n_success").cast("double")
        / col("n_total").cast("double"))
      .withColumn("__var", col("__p") * (lit(1.0) - col("__p"))
        * (col("__w2n") - col("__wn") * col("__wn")
          / col("n_total").cast("double")))
    // t_stat / t_expected are exact-integer sums and rationals —
    // deliberately UNROUNDED (rational-halves rule); only the √-mixing
    // z rounds
      .select(col("n_total"), col("n_success"),
        col("__t").as("t_stat"),
        (col("__p") * col("__wn")).as("t_expected"),
        round(when(col("__var") > 0,
          (col("__t") - col("__p") * col("__wn")) / sqrt(col("__var"))),
          6).as("z"))
  }

  /** Peaks-over-threshold GPD tail fit by method of moments (Pickands,
    * AnnStat '75 for the GPD limit; Hosking & Wallis, Technometrics '87
    * for the MoM recipe): over excesses y = x−u of a high threshold u,
    * ξ̂ = ½(1 − m²/v), β̂ = ½m(m²/v + 1) from the excess mean/variance,
    * and the return-level estimate x_p = u + (β/ξ)((( (1−p)/ζ_u )^−ξ) − 1)
    * at p = 0.999
    * with ζ_u = n_exc/N — EXTRAPOLATED tail quantiles: an empirical
    * p99.99 needs 10⁴+ tail points, the GPD fit prices it from however
    * many exceedances exist (latency SLOs, value caps, outlier fences
    * beyond observed data). ξ > 0 flags a heavy (Pareto-like) tail —
    * the single number that says whether "mean + 6σ" bounds anything.
    *
    * Honest-fallback contract: v ≤ 0, ξ ≥ ½ (infinite MoM variance),
    * or |ξ| below machine-zero → null fit columns rather than a wild
    * extrapolation; the ξ→0 exponential limit is the caller's explicit
    * regime, not a silent branch.
    *
    * Shape: one filtered 1-row moment aggregate + arithmetic — no
    * window, no join; the corpus is touched once. */
  def gpdTailFit(df: DataFrame, valCol: String, threshold: Double): DataFrame = {
    val p = 0.999
    val x = df.filter(col(valCol).isNotNull)
      .select(col(valCol).cast("double").as("__x"))
    x.agg(count(lit(1)).as("n_total"),
        count(when(col("__x") > threshold, 1)).as("n_exceed"),
        avg(when(col("__x") > threshold, col("__x") - threshold))
          .as("__m"),
        var_samp(when(col("__x") > threshold, col("__x") - threshold))
          .as("__v"))
      .withColumn("__r", col("__m") * col("__m") / col("__v"))
      .withColumn("__xi", when(col("__v") > 0,
        lit(0.5) * (lit(1.0) - col("__r"))))
      .withColumn("__beta", when(col("__v") > 0,
        lit(0.5) * col("__m") * (col("__r") + 1.0)))
      .withColumn("__zeta", col("n_exceed").cast("double")
        / col("n_total").cast("double"))
      .select(col("n_total"), col("n_exceed"),
        round(col("__m"), 6).as("mean_excess"),
        round(col("__xi"), 6).as("xi"),
        round(col("__beta"), 6).as("beta"),
        round(when(col("__xi").isNotNull
            && abs(col("__xi")) > 1e-12 && col("__xi") < 0.5
            && col("__zeta") > (lit(1.0) - p),
          lit(threshold) + col("__beta") / col("__xi")
            * (pow((lit(1.0) - p) / col("__zeta"), -col("__xi")) - 1.0)),
          6).as("q_est"))
  }

  /** Theil T inequality index with exact between/within-group
    * decomposition (Theil, "Economics and Information Theory" '67):
    * T = (1/N) Σ_i (x_i/μ) ln(x_i/μ) over positive values, and —
    * uniquely among inequality indices (Gini does NOT decompose) —
    * T = T_between + T_within with
    * T_between = Σ_g s_g ln(μ_g/μ) and T_within = Σ_g s_g T_g, where
    * s_g = (N_g μ_g)/(N μ) is group g's VALUE share. The corpus-balance
    * readout [[giniIndex]] can't give: "is token mass unequal because a
    * few sources dominate (between), or because each source is itself
    * lopsided (within)?" — the number that decides whether rebalancing
    * should reweight sources or dedup within them.
    *
    * Emits one row per group (n, mean, value share s_g, within-group
    * T_g) with the corpus-level decomposition replicated via a 1-row
    * broadcast — the [[TimeSeries.forecastDaily]] fit-frame shape.
    * Non-positive values are excluded (ln; same contract as
    * [[giniIndex]]'s negative filter).
    *
    * Scale shape: one per-group hash aggregate over (x, x ln x) partials
    * — T_g folds from Σx and Σ x ln x via T_g = Σ(x/Σx)ln(x/μ_g) =
    * (Σ x ln x)/(N_g μ_g) − ln μ_g — then a ≤#groups-row rollup; no
    * window, no pair work, shuffle ∝ groups. */
  def theilDecomposition(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val pos = df.filter(col(valCol).isNotNull && col(valCol) > 0)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__x"))
    val perGroup = pos.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"),
        sum(col("__x") * log(col("__x"))).as("__sxl"))
      .withColumn("__mu_g", col("__sx") / col("n").cast("double"))
      .withColumn("__tg", col("__sxl") / col("__sx") - log(col("__mu_g")))
    val tot = perGroup.agg(sum(col("n")).as("__nn"), sum(col("__sx")).as("__tx"))
      .withColumn("__mu", col("__tx") / col("__nn").cast("double"))
    val shared = perGroup.crossJoin(broadcast(tot))
      .withColumn("__s", col("__sx") / col("__tx"))
    val decomp = shared.agg(
      round(sum(col("__s") * log(col("__mu_g") / col("__mu"))),
        6).as("t_between"),
      round(sum(col("__s") * col("__tg")), 6).as("t_within"),
      round(sum(col("__s") * (log(col("__mu_g") / col("__mu"))
        + col("__tg"))), 6).as("t_total"))
    // mean_val / value_share are exact-integer ratios for integer value
    // columns — deliberately UNROUNDED (the rational-halves rule); only
    // the ln-carrying Theil terms round.
    shared
      .select(col("__g").as(groupCol), col("n"),
        col("__mu_g").as("mean_val"),
        col("__s").as("value_share"),
        round(col("__tg"), 6).as("t_group"))
      .crossJoin(broadcast(decomp))
  }

  /** Cliff's delta ordinal effect size (Cliff, Psych. Bull. '93):
    * δ = [#(a > b) − #(a < b)] / (n_a·n_b) over all cross pairs — the
    * assumption-free companion to [[mannWhitney]]: U answers "is there a
    * shift?", δ answers "how often does one group dominate?" on a
    * [−1, 1] scale that is robust to any monotone transform of the
    * values (report it beside the p-value; it is the standard effect
    * size for non-normal A/B metrics).
    *
    * NOT a pair join: the dominance counts come from the same
    * per-distinct-value histogram as [[ksStatistic]] —
    * #(a > b) = Σ_v ca_v · (#b strictly below v) off the cumulative —
    * so the cost is one hash aggregate + a distinct-value window
    * regardless of n_a·n_b. Counts multiply as doubles: each product is
    * an exact integer and the sums stay exact below 2^53
    * (n_a·n_b ≤ 9·10^15 — bin values first beyond that), matching an
    * exact-integer oracle bit-for-bit; δ itself is then ONE division of
    * exact integers — deterministic, deliberately UNROUNDED (the
    * rational-halves rule). */
  def cliffsDelta(df: DataFrame, sideCol: String, valCol: String,
                  sideA: String, sideB: String): DataFrame = {
    sideCumGrid(df, sideCol, col(valCol), sideA, sideB)
      .agg(
        max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(col("__ca").cast("double")
          * (col("__cumb") - col("__cb")).cast("double")).as("__gt"),
        sum(col("__ca").cast("double")
          * (col("__nb") - col("__cumb")).cast("double")).as("__lt"))
      .select(col("n_a"), col("n_b"),
        ((col("__gt") - col("__lt"))
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("cliffs_delta"))
  }

  /** Two-sample Cramér–von Mises criterion (Anderson, Ann. Math.
    * Stat.'62 two-sample form): T = n·m/(n+m)² · Σ_pooled
    * (ECDF_a − ECDF_b)² — the L2 member of the distribution-shift trio
    * this engine now carries in one shape (KS = sup gap, W1 = L1
    * mass×distance, CvM = L2 over the pooled sample): CvM weights
    * persistent mid-distribution separation KS's single-point sup
    * ignores, without W1's dependence on the value scale.
    *
    * Shape: the [[ksStatistic]] contract verbatim — one hash aggregate
    * to per-distinct-value side counts, one cumulative window, a 1-row
    * reduction; each pooled observation contributes via its value's
    * (ca+cb) weight. The squared-gap products are floating sums, so the
    * statistic is rounded (KS's exact rationals don't survive
    * squaring+weighting). Nulls excluded per the ECDF contract. */
  def cramerVonMises(df: DataFrame, sideCol: String, valCol: String,
                     sideA: String, sideB: String): DataFrame = {
    sideCumGrid(df, sideCol, col(valCol), sideA, sideB)
      .withColumn("__d",
        col("__cuma") / col("__na") - col("__cumb") / col("__nb"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum((col("__ca") + col("__cb")).cast("double")
          * col("__d") * col("__d")).as("__s"))
      .select(col("n_a"), col("n_b"),
        round(col("n_a").cast("double") * col("n_b").cast("double")
          / ((col("n_a") + col("n_b")).cast("double")
            * (col("n_a") + col("n_b")).cast("double"))
          * col("__s"), 6).as("cvm"))
  }

  /** McNemar's test on paired binary flags (McNemar, Psychometrika'47):
    * given two boolean verdicts on the SAME units (two quality gates,
    * two classifiers, declared-vs-guessed labels), only the DISCORDANT
    * counts b = #(A ∧ ¬B) and c = #(¬A ∧ B) carry evidence that the
    * marginal rates differ; χ² = (b−c)²/(b+c) on 1 df. This is the
    * paired-data companion to [[chiSquareIndependence]] — the unpaired
    * test wastes the pairing and answers a different question.
    *
    * ONE hash aggregate over the paired frame; χ² is a single division
    * of exact integers — deterministic, deliberately UNROUNDED (the
    * rational-halves rule); null when b+c = 0 (no discordant pairs, no
    * evidence either way). Rows where either flag is null are excluded
    * (no verdict, no pair). */
  def mcnemar(df: DataFrame, colA: String, colB: String): DataFrame = {
    val a = col(colA).cast("boolean")
    val b = col(colB).cast("boolean")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(a && !b, 1L).otherwise(0L)).as("b_only"),
        sum(when(!a && b, 1L).otherwise(0L)).as("c_only"))
      .select(col("n"), col("b_only"), col("c_only"),
        when(col("b_only") + col("c_only") > 0,
          ((col("b_only") - col("c_only"))
            * (col("b_only") - col("c_only"))).cast("double")
            / (col("b_only") + col("c_only")).cast("double"))
          .as("mcnemar_chi2"))
  }

  /** Kendall's τ-b rank correlation (Kendall, Biometrika'38; τ-b tie
    * correction per Kendall'45): (C − D)/√((n0−n1)(n0−n2)) with
    * concordant/discordant pair counts C/D and tie terms n1/n2 — the
    * pair-dominance companion to [[spearmanRho]]: ρ correlates ranks,
    * τ-b is the probability-scale concordance readout, robust to any
    * monotone transform and exact under heavy ties.
    *
    * NOT an n² pair join: the data collapses to the distinct
    * (x, y) CELL histogram in one hash aggregate; C and D are sums of
    * cell-count products over strictly-dominating cell pairs (work ∝
    * cells², the binning contract — bucket continuous columns first),
    * and the tie terms come off the marginals. Products are
    * exact-integer doubles (exact to 2^53); the final √ is the one
    * libm step, so τ-b is rounded while n/C/D stay exact. */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val other = cells.select(col("__x").as("__x2"), col("__y").as("__y2"),
      col("__c").as("__c2"))
    val pairs = cells.join(other, col("__x2") > col("__x"))
      .agg(
        sum(when(col("__y2") > col("__y"),
          col("__c").cast("double") * col("__c2")).otherwise(0.0))
          .as("__cc"),
        sum(when(col("__y2") < col("__y"),
          col("__c").cast("double") * col("__c2")).otherwise(0.0))
          .as("__dd"))
    val marg = cells.agg(
      sum(col("__c")).as("__n"),
      sum(col("__c").cast("double") * col("__c")).as("__sxy2"))
    val tx = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__t"))
      .agg(sum(col("__t").cast("double") * col("__t")).as("__sx2"))
    val ty = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__t"))
      .agg(sum(col("__t").cast("double") * col("__t")).as("__sy2"))
    // n0 = n(n−1)/2; n1 = Σ_x t(t−1)/2 = (Σt² − n)/2; n2 likewise
    pairs.crossJoin(broadcast(marg))
      .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(col("__n").as("n"),
        col("__cc").cast("long").as("concordant"),
        col("__dd").cast("long").as("discordant"),
        round((col("__cc") - col("__dd"))
          / sqrt(
            ((col("__n").cast("double") * col("__n").cast("double")
              - col("__n").cast("double")) / 2.0
              - (col("__sx2") - col("__n").cast("double")) / 2.0)
            * ((col("__n").cast("double") * col("__n").cast("double")
              - col("__n").cast("double")) / 2.0
              - (col("__sy2") - col("__n").cast("double")) / 2.0)),
          6).as("tau_b"))
  }

  /** Goodman–Kruskal γ and Somers' D (public: Goodman & Kruskal JASA'54;
    * Somers ASR'62) — the ordinal-association pair beside
    * [[kendallTauB]]: γ = (C−D)/(C+D) ignores ALL ties (the
    * strength-of-monotone-trend readout for ordered categories), and
    * the asymmetric Somers' D_y|x = (C−D)/(n₀−n_x) charges y-ties
    * against a designated predictor x (the ordinal effect size behind
    * ROC: D_y|x over a binary y IS 2·AUC−1). Both derive from the same
    * concordant/discordant/tie masses.
    *
    * Scale shape: the kendallTauB pattern — rows collapse to the
    * (x, y) cell grid (ONE hash aggregate; grid ≤ |x-levels|·|y-levels|,
    * the bounded-contingency contract), the pair masses come from a
    * grid self-join in EXACT integer arithmetic (counts as doubles stay
    * exact to 2^53), and the statistics are two divisions — every input
    * to the final expressions is an exact integer, so the output is
    * engine-portable at any corpus size. */
  def gammaSomers(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val other = cells.select(col("__x").as("__x2"), col("__y").as("__y2"),
      col("__c").as("__c2"))
    // coalesce: with <= 1 distinct x level the pair join is empty and
    // sum() yields null -- both masses are genuinely 0 there, matching
    // the oracle's COALESCE (ADVICE r12: degenerate-grid parity)
    val pairs = cells.join(other, col("__x2") > col("__x"))
      .agg(
        coalesce(sum(when(col("__y2") > col("__y"),
          col("__c").cast("double") * col("__c2")).otherwise(0.0)),
          lit(0.0)).as("__cc"),
        coalesce(sum(when(col("__y2") < col("__y"),
          col("__c").cast("double") * col("__c2")).otherwise(0.0)),
          lit(0.0)).as("__dd"))
    val marg = cells.agg(sum(col("__c")).as("__n"))
    val tx = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__t"))
      .agg(sum(col("__t").cast("double") * col("__t")).as("__sx2"))
    pairs.crossJoin(broadcast(marg)).crossJoin(broadcast(tx))
      .select(col("__n").as("n"),
        col("__cc").cast("long").as("concordant"),
        col("__dd").cast("long").as("discordant"),
        round(when(col("__cc") + col("__dd") > 0,
          (col("__cc") - col("__dd")) / (col("__cc") + col("__dd"))),
          6).as("gamma"),
        // n₀ − n_x = (n² − Σ_x t_x²)/2: unordered pairs differing on x
        round(when(col("__n") > 1 &&
            (col("__n").cast("double") * col("__n").cast("double")
              - col("__sx2")) > 0,
          (col("__cc") - col("__dd"))
            / ((col("__n").cast("double") * col("__n").cast("double")
              - col("__sx2")) / 2.0)), 6).as("somers_d_yx"))
  }

  /** Probabilistic-forecast quality decomposition: row-exact Brier score
    * plus the binned Murphy decomposition (Murphy, J. Appl. Met.'73)
    * reliability − resolution + uncertainty, and the expected
    * calibration error ECE = Σ (n_b/n)·|acc_b − conf_b| (Naeini et al.,
    * AAAI'15) — ONE row that answers "how good, and why": reliability
    * isolates miscalibration (lower better), resolution rewards
    * discriminating bins (higher better), uncertainty is the label
    * base-rate floor no forecaster can beat. Complements
    * [[calibrationBins]] (the per-bin curve) and
    * [[isotonicCalibration]] (the fix).
    *
    * Shape: one row-level aggregate (Brier, n, base rate) + one
    * ≤10-row binned aggregate, merged by a 1-row broadcast cross
    * join. Binned terms and the Brier are floating sums → rounded;
    * the decomposition identity holds exactly only when scores are
    * constant within bins, so brier and rel−res+unc are BOTH reported
    * (their gap is the within-bin variance term, a data readout, not an
    * error). */
  def forecastDecomposition(df: DataFrame, scoreCol: String,
                            labelCol: String): DataFrame = {
    val s = greatest(least(col(scoreCol).cast("double"), lit(1.0)), lit(0.0))
    val base = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(s.as("__s"),
        when(col(labelCol).cast("boolean"), 1.0).otherwise(0.0).as("__y"),
        least(floor(s * 10).cast("long"), lit(9L)).as("__bin"))
    val row = base.agg(count(lit(1)).as("n"),
      sum(col("__y")).cast("double").as("__pos"),
      sum(((col("__s") - col("__y")) * (col("__s") - col("__y"))))
        .as("__sqsum"))
    val perBin = base.groupBy(col("__bin"))
      .agg(count(lit(1)).cast("double").as("__nb"),
        avg(col("__s")).as("__conf"), avg(col("__y")).as("__acc"))
    perBin.crossJoin(broadcast(row))
      .agg(
        max(col("n")).as("n"),
        round(max(col("__sqsum") / col("n").cast("double")), 6)
          .as("brier"),
        round(sum(col("__nb") / col("n").cast("double")
          * abs(col("__acc") - col("__conf"))), 6).as("ece"),
        round(sum(col("__nb") / col("n").cast("double")
          * (col("__conf") - col("__acc"))
          * (col("__conf") - col("__acc"))), 6).as("reliability"),
        round(sum(col("__nb") / col("n").cast("double")
          * (col("__acc") - col("__pos") / col("n").cast("double"))
          * (col("__acc") - col("__pos") / col("n").cast("double"))),
          6).as("resolution"),
        round(max(col("__pos") / col("n").cast("double")
          * (lit(1.0) - col("__pos") / col("n").cast("double"))),
          6).as("uncertainty"))
  }

  /** Yuen's trimmed-mean two-sample test (Yuen, Biometrika'74): Welch's
    * t on 20%-trimmed means with winsorized variances — the
    * heavy-tail-robust member of the experimentation ladder
    * ([[welchTTest]] mean / [[mannWhitney]] rank / Yuen trimmed /
    * [[quantileTreatmentEffect]] quantile): a handful of whale users
    * moves Welch's t arbitrarily but touches Yuen's only through the
    * clamp. Per arm g = ⌊0.2·n⌋ rows leave each tail (by rank; equal
    * values make the trimmed multiset order-independent), the trimmed
    * mean averages the middle h = n−2g, the winsorized variance clamps
    * the tails to the retained extremes; t = (m̄₁−m̄₂)/√(d₁+d₂) with
    * d = (n−1)s²w/(h(h−1)) and Welch–Satterthwaite df on (h₁−1, h₂−1).
    *
    * Shape: one rank window per arm (partitioned by arm, shuffle ∝
    * rows), one conditional per-arm aggregate, a 2-row pivot. Variance
    * and means are float sums → t and df are rounded; h counts stay
    * exact. */
  def yuenTrimmedTest(df: DataFrame, armCol: String, valCol: String,
                      armA: String, armB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byArm = Window.partitionBy(col("__arm"))
    val ranked = df.filter(col(armCol).isin(armA, armB))
      .filter(col(valCol).isNotNull)
      .select(col(armCol).as("__arm"), col(valCol).cast("double").as("__x"))
      .withColumn("__r", row_number().over(byArm.orderBy(col("__x"))))
      .withColumn("__n", count(lit(1)).over(byArm))
      .withColumn("__gg", floor(col("__n").cast("double") * 0.2)
        .cast("long"))
    val arm = ranked
      .withColumn("__keep",
        col("__r") > col("__gg") && col("__r") <= col("__n") - col("__gg"))
      // winsorized value: tail rows clamp to the retained extremes
      .withColumn("__lo",
        max(when(col("__r") === col("__gg") + 1, col("__x"))).over(byArm))
      .withColumn("__hi",
        max(when(col("__r") === col("__n") - col("__gg"), col("__x")))
          .over(byArm))
      .withColumn("__wv",
        when(col("__r") <= col("__gg"), col("__lo"))
          .when(col("__r") > col("__n") - col("__gg"), col("__hi"))
          .otherwise(col("__x")))
      .groupBy(col("__arm"))
      .agg(max(col("__n")).as("__na"),
        (max(col("__n")) - lit(2L) * max(col("__gg"))).as("__h"),
        (sum(when(col("__keep"), col("__x")).otherwise(0.0))
          / (max(col("__n")) - lit(2L) * max(col("__gg"))).cast("double"))
          .as("__tm"),
        sum(col("__wv")).as("__sw"), sum(col("__wv") * col("__wv"))
          .as("__sww"))
      // winsorized sample variance s²w = (Σw² − (Σw)²/n)/(n−1)
      .withColumn("__s2w", (col("__sww") - col("__sw") * col("__sw")
        / col("__na").cast("double")) / (col("__na") - 1L).cast("double"))
      // d = (n−1)s²w / (h(h−1))
      .withColumn("__d", (col("__na") - 1L).cast("double") * col("__s2w")
        / (col("__h").cast("double") * (col("__h") - 1L).cast("double")))
    // one row per arm by construction; the explicit limit(1) carries the
    // bound into maxRows so the cross join is PROVABLY 1×1 in the plan
    val a = arm.filter(col("__arm") === armA).select(
      col("__h").as("h_a"), col("__tm").as("__tma"), col("__d").as("__da"))
      .limit(1)
    val b = arm.filter(col("__arm") === armB).select(
      col("__h").as("h_b"), col("__tm").as("__tmb"), col("__d").as("__db"))
      .limit(1)
    a.crossJoin(broadcast(b))
      .withColumn("__c", col("__da") / (col("__da") + col("__db")))
      .select(col("h_a"), col("h_b"),
        round(col("__tma"), 6).as("trimmed_mean_a"),
        round(col("__tmb"), 6).as("trimmed_mean_b"),
        round((col("__tma") - col("__tmb"))
          / sqrt(col("__da") + col("__db")), 6).as("yuen_t"),
        round(lit(1.0) / (col("__c") * col("__c")
            / (col("h_a") - 1L).cast("double")
          + (lit(1.0) - col("__c")) * (lit(1.0) - col("__c"))
            / (col("h_b") - 1L).cast("double")), 6).as("df"))
  }

  /** Isotonic (PAV) calibration over score bins: the monotone
    * least-squares fit of the per-bin positive rate, via the minimax
    * identity fit_i = max_{j≤i} min_{k≥i} (Σ_{j..k} pos)/(Σ_{j..k} n)
    * (Ayer et al., Ann. Math. Stat. '55; Zadrozny & Elkan KDD'02 for
    * calibration use). Where [[calibrationBins]] reports raw reliability,
    * the isotonic fit is the deployable calibration map — monotone by
    * construction, pooling adjacent bins the raw rates leave inverted.
    *
    * Shape: the corpus collapses through ONE [[calibrationBins]]-style
    * hash aggregate to ≤ 10 bins; the minimax runs on the bins³
    * grid (≤1000 rows) built from prefix sums off a
    * localCheckpoint-pinned bin table (it feeds the grid twice + the
    * output join — the multi-consumer rule). Every interval average is
    * one division of exact integers and min/max pick one of them —
    * the fit is deterministic cross-engine and deliberately UNROUNDED. */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
                          labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = greatest(least(col(scoreCol).cast("double"), lit(1.0)), lit(0.0))
    val ord = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val binned = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(least(floor(s * 10).cast("long"), lit(9L)).as("bin"),
        col(labelCol).cast("boolean").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
      .withColumn("__cumn", sum(col("n")).over(ord))
      .withColumn("__cumpos", sum(col("__pos")).over(ord))
      .localCheckpoint()
    val lo = binned.select(col("bin").as("__j"),
      (col("__cumn") - col("n")).as("__nlo"),
      (col("__cumpos") - col("__pos")).as("__plo"))
    val hi = binned.select(col("bin").as("__k"),
      col("__cumn").as("__nhi"), col("__cumpos").as("__phi"))
    val fit = binned.select(col("bin"))
      .join(lo, col("__j") <= col("bin"))
      .join(hi, col("__k") >= col("bin"))
      .withColumn("__avg", (col("__phi") - col("__plo")).cast("double")
        / (col("__nhi") - col("__nlo")).cast("double"))
      .groupBy(col("bin"), col("__j"))
      .agg(min(col("__avg")).as("__inner"))
      .groupBy(col("bin"))
      .agg(max(col("__inner")).as("iso_rate"))
    binned
      .join(fit, Seq("bin"))
      .select(col("bin"), col("n"),
        (col("__pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        col("iso_rate"))
  }

  /** Per-group ONE-VS-REST KS drift — [[ksStatistic]] as small multiples:
    * for every group, max |ECDF_group − ECDF_rest| of `valCol`, flagging
    * WHICH source's distribution diverges from the corpus (the KS
    * companion to the PSI/JSD readouts, sensitive to any shape change,
    * not just binned share shifts). ECDF fractions are exact integer
    * rationals — deterministic cross-engine; nulls are excluded (engines
    * disagree on NULL sort order, the [[ksStatistic]] contract).
    *
    * Scale shape: two value-count aggregates (map-side combine, shuffle
    * ∝ distinct (group, value) pairs), a groups × distinct-values grid so
    * every group's cumsum sees the union value line, and group-
    * partitioned windows over that grid — bounded by groups × distinct
    * values, never row count (bin/round a continuous column first, same
    * as [[ksStatistic]]). A single-group corpus reports null ks. */
  def groupKsDrift(df: DataFrame, groupCol: String, valCol: String): DataFrame =
    groupEcdfGrid(df, groupCol, valCol)
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("__ng")).as("n_group"),
        max(col("__nt") - col("__ng")).as("n_rest"),
        round(max(when(col("__nt") > col("__ng"), abs(groupRestDev))),
          6).as("ks"))

  /** The group-vs-rest ECDF grid of [[groupKsDrift]] and
    * [[groupKuiperDrift]]: every group × the union value line (`__g`,
    * `__v`, group count `__c`, total count `__ct`), with the group's and
    * the total's running counts (`__cumg`, `__cumt`) and sizes (`__ng`,
    * `__nt`). Null values are dropped. */
  private def groupEcdfGrid(df: DataFrame, groupCol: String,
                            valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valCol).isNotNull)
    val gv = base.groupBy(col(groupCol).as("__g"), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val tv = base.groupBy(col(valCol).as("__v")).agg(count(lit(1)).as("__ct"))
    val groups = gv.select(col("__g")).distinct()
    val grid = tv.crossJoin(groups)
      .join(gv, Seq("__g", "__v"), "left")
      .na.fill(0L, Seq("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val entire = Window.partitionBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("__cumg", sum(col("__c")).over(w))
      .withColumn("__cumt", sum(col("__ct")).over(w))
      .withColumn("__ng", sum(col("__c")).over(entire))
      .withColumn("__nt", sum(col("__ct")).over(entire))
  }

  /** Signed ECDF_group − ECDF_rest on a [[groupEcdfGrid]] row. */
  private def groupRestDev: Column =
    col("__cumg") / col("__ng") -
      (col("__cumt") - col("__cumg")) / (col("__nt") - col("__ng"))

  /** Per-group Kuiper drift V = D⁺ + D⁻ (public: Kuiper 1960) — the
    * CYCLIC-sensitive sibling of [[groupKsDrift]]: KS's single max |F−G|
    * under-weights distributions that differ by a rotation (hour-of-day
    * mixes, day-of-week cycles — a shifted peak moves mass both ways and
    * the signed deviations partly cancel at any single point); Kuiper
    * sums the largest positive and largest negative deviation, making
    * the statistic invariant under cyclic shifts of the support. Both
    * fold the one [[groupEcdfGrid]]. */
  def groupKuiperDrift(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val dev = groupRestDev
    groupEcdfGrid(df, groupCol, valCol)
      .groupBy(col("__g").as(groupCol))
      // n_rest = 0 (the group IS the corpus): the deviation is undefined,
      // not zero -- greatest() would swallow the null max and read as "no
      // drift"; gate to null like groupKsDrift (ADVICE r12)
      .agg(max(col("__ng")).as("n_group"),
        max(col("__nt") - col("__ng")).as("n_rest"),
        when(max(col("__nt") - col("__ng")) > 0,
          round(
            greatest(max(when(col("__nt") > col("__ng"), dev)), lit(0.0))
              + greatest(max(when(col("__nt") > col("__ng"), -dev)),
                lit(0.0)), 6)).as("kuiper_v"))
  }

  /** Cucconi joint location-scale test (public: Cucconi, Giorn. Econom.
    * 1968; Marozzi '09 revival) — ONE rank statistic sensitive to BOTH
    * a mean shift and a spread change: U standardizes Σ(rank²) of
    * sample X, V the contrary ranks Σ((N+1−rank)²), and
    * C = (U² + V² − 2ρUV)/(2(1−ρ²)) combines them with their known
    * correlation — the single-number screen where running
    * [[mannWhitney]] + [[ansariBradley]] would need a multiplicity
    * correction. Tied ranks take midranks.
    *
    * Scale shape: the [[rocAuc]] collapse — distinct-rounded-score
    * class counts, one bounded cumulative window; Σrank² folds as
    * EXACT integer sums of cp·(2·midrank)² in decimal (midranks are
    * half-integers, so 4·Σ S² is an exact integer), making the
    * statistic order-independent and engine-portable at any scale. */
  def cucconiTest(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__sz", col("__cp") + col("__cn"))
    val blocks = Prefix.cumBefore(perScore, Nil, "__s", Seq("__sz"),
        wide = Prefix.isWide(df), withTotals = true)
      .withColumn("__lo", col("__cb___sz"))
      .withColumn("__N", col("__tot___sz"))
      // doubled midrank and doubled contrary rank — both exact longs
      .withColumn("__r2", col("__lo") * 2L + col("__sz") + 1L)
      .withColumn("__q2", (col("__N") + 1L) * 2L - col("__r2"))
    val agg = blocks.agg(
      sum(col("__cp")).as("n_x"), sum(col("__cn")).as("n_y"),
      max(col("__N")).as("__NN"),
      sum(dec(col("__cp")) * dec(col("__r2")) * dec(col("__r2")))
        .as("__s4"),  // 4·Σ S²  (exact)
      sum(dec(col("__cp")) * dec(col("__q2")) * dec(col("__q2")))
        .as("__c4")) // 4·Σ (N+1−S)²  (exact)
    val dm = col("n_x").cast("double")
    val dn = col("n_y").cast("double")
    val dN = col("__NN").cast("double")
    val den = sqrt(dm * dn * (dN + 1.0) * (lit(2.0) * dN + 1.0)
      * (lit(8.0) * dN + 11.0) / 5.0)
    val u = (lit(6.0) * col("__s4").cast("double") / 4.0
      - dm * (dN + 1.0) * (lit(2.0) * dN + 1.0)) / den
    val v = (lit(6.0) * col("__c4").cast("double") / 4.0
      - dm * (dN + 1.0) * (lit(2.0) * dN + 1.0)) / den
    val rho = lit(2.0) * (dN * dN - 4.0) /
      ((lit(2.0) * dN + 1.0) * (lit(8.0) * dN + 11.0)) - 1.0
    val c = (u * u + v * v - lit(2.0) * rho * u * v) /
      (lit(2.0) * (lit(1.0) - rho * rho))
    agg.select(col("n_x"), col("n_y"),
      round(when(col("n_x") > 0 && col("n_y") > 0, u), 6)
        .as("u_stat"),
      round(when(col("n_x") > 0 && col("n_y") > 0, v), 6)
        .as("v_stat"),
      round(when(col("n_x") > 0 && col("n_y") > 0 && rho * rho < 1.0, c),
        6).as("cucconi_c"))
  }

  /** Welch's two-sample t statistic per metric group (public: Welch
    * Biometrika'47) — the A/B experiment readout: for every group in
    * `groupCol`, compare `valCol` between the `a` and `b` populations of
    * `armCol`: t = (x̄_a − x̄_b)/√(s²_a/n_a + s²_b/n_b) with the
    * Welch–Satterthwaite degrees of freedom. No equal-variance
    * assumption (plain Student pooling is wrong the moment one arm is
    * bigger or noisier — the normal case for a rollout).
    *
    * Shape: ONE hash aggregate on (group, arm) + a self-join of the
    * two-arm rows — aggregates-only, any corpus size. Groups with both
    * arms present but n < 2 or zero variance in both arms yield null t
    * (never NaN/∞); groups MISSING an arm entirely are dropped by the
    * inner join — there is no comparison to report (anti-join the output
    * against the group list if absent-arm groups are themselves the
    * signal you monitor). 6dp-rounded outputs. */
  def welchTTest(df: DataFrame, groupCol: String, armCol: String,
                 valCol: String, armA: String, armB: String): DataFrame = {
    val stats = df
      .filter(col(armCol).isin(armA, armB))
      .groupBy(col(groupCol), col(armCol))
      .agg(count(lit(1)).as("n"), avg(col(valCol)).as("m"),
        var_samp(col(valCol)).as("v"))
    def arm(tag: String, a: String) = stats.filter(col(armCol) === a)
      .select(col(groupCol), col("n").as(s"n_$tag"),
        col("m").as(s"m_$tag"), col("v").as(s"v_$tag"))
    val se2a = col("v_a") / col("n_a")
    val se2b = col("v_b") / col("n_b")
    val se2 = se2a + se2b
    val t = when(col("n_a") > 1 && col("n_b") > 1 && se2 > 0,
      (col("m_a") - col("m_b")) / sqrt(se2))
    // Welch–Satterthwaite: (se²)² / (se2a²/(n_a−1) + se2b²/(n_b−1))
    val dof = when(col("n_a") > 1 && col("n_b") > 1 && se2a + se2b > 0 &&
        (se2a * se2a / (col("n_a") - 1) + se2b * se2b / (col("n_b") - 1)) > 0,
      (se2 * se2) /
        (se2a * se2a / (col("n_a") - 1) + se2b * se2b / (col("n_b") - 1)))
    arm("a", armA).join(arm("b", armB), Seq(groupCol))
      .select(col(groupCol), col("n_a"), col("n_b"),
        round(col("m_a") - col("m_b"), 6).as("mean_diff"),
        round(t, 6).as("t_stat"),
        round(dof, 6).as("welch_df"))
  }

  /** Per-group element-wise vector moments: count, mean and sample
    * variance PER DIMENSION of an `array<float>` embedding column — the
    * class-centroid / whitening-stats primitive (per-label centroids feed
    * SemDeDup-style clustering; per-dim variances catch collapsed or
    * dead embedding dimensions, the standard embedding-drift monitor).
    *
    * Shape: one posexplode (dim-count fan-out, a constant ×64-style
    * factor — not a join) + ONE map-side-combined hash aggregate on
    * (group, dim). Output is #groups × dim rows. Singleton groups get
    * null variance (not NaN); float cancellation is clamped at 0. */
  def vectorMoments(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .select(col(groupCol), col("pos").cast("long").as("pos"),
        col("__v").cast("double").as("__v"))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__v")), 6).as("mean"),
        round(greatest(var_samp(col("__v")), lit(0.0)), 6)
          .as("variance"))
      .withColumn("variance",
        when(col("n") > 1, col("variance")))

  /** Per-group robust outliers by median absolute deviation (public:
    * Hampel '74; the `1.4826` consistency constant makes MAD estimate σ
    * under normality). Flags rows with
    * |x − median| / (1.4826 · MAD) > 3 — the robust z-score, immune to
    * the outliers themselves inflating the spread the way mean/stddev
    * z-scores ([[graft.operators.Corpus.zscore]]) are.
    *
    * Shape: two aggregates and two joins, ALL keyed on the group column,
    * so the partitioning established by the first shuffle is reused
    * throughout (median needs to exist before deviations can be taken —
    * two passes is inherent to MAD, not an implementation artifact).
    * Groups with MAD = 0 (over half the values identical) yield null
    * robust_z and are never flagged. Exact `percentile` buffers a group's
    * values in one task — fine to ~10⁸ rows per group; beyond that swap
    * in `percentile_approx` or [[graft.operators.Corpus.percentilesBinned]]
    * (same two-pass shape, sketch/histogram medians). */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val g = col(groupCol)
    val med = df.groupBy(g).agg(percentile(col(valCol), lit(0.5)).as("med"))
    val withMed = df.join(med, groupCol)
    val mad = withMed.groupBy(g)
      .agg(percentile(abs(col(valCol) - col("med")), lit(0.5)).as("mad"))
    val robustZ = when(col("mad") > 0,
      round(abs(col(valCol) - col("med")) / (col("mad") * 1.4826),
        6))
    withMed.join(mad, groupCol)
      .withColumn("robust_z", robustZ)
      .filter(col("robust_z") > 3.0)
  }

  /** Shared collapse for the threshold-metric family ([[rocAuc]],
    * [[averagePrecision]]): per-DISTINCT-ROUNDED-SCORE positive/negative
    * counts — one hash aggregate, null score/label rows dropped. Both
    * metrics' tie semantics flow from this single definition. */
  private def perScoreCounts(df: DataFrame, scoreCol: String,
                             labelCol: String): DataFrame =
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(round(col(scoreCol).cast("double"), 6).as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .groupBy(col("__s"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__cn"))

  /** ROC-AUC of a score as a ranker of a boolean label, via the
    * Mann–Whitney rank statistic with midrank tie handling — THE
    * threshold-free readout for any learned quality filter (is the score
    * actually ordering keep-worthy docs above junk, across ALL cutoffs,
    * not just the one the filter shipped with).
    *
    * Shape mirrors [[ksStatistic]]: ONE hash aggregate collapses rows to
    * per-DISTINCT-SCORE (pos, neg) counts, then a cumulative window + a
    * 1-row reduce over the distinct-score table — the global window ranks
    * score VALUES, never raw rows, so its single task is bounded by score
    * cardinality (scores are rounded to 6 decimals first, which both
    * bounds the cardinality and makes tie groups engine-portable).
    * Midranks are exact halves and counts are integers, so everything is
    * exact until the final division. Degenerate inputs (a single class)
    * yield null auc. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__ct", col("__cp") + col("__cn"))
    // midrank of every row in a tie group = (#rows strictly below) +
    // (group size + 1)/2 — an exact half-integer
    val mid = col("__cb___ct").cast("double") +
      (col("__ct") + 1).cast("double") / 2.0
    Prefix.cumBefore(perScore, Nil, "__s", Seq("__ct"),
        wide = Prefix.isWide(df))
      .withColumn("__mid", mid)
      .agg(sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"),
        sum(col("__mid") * col("__cp")).as("__rankSumPos"))
      .select(col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__rankSumPos")
            - col("n_pos").cast("double") * (col("n_pos") + 1).cast("double")
              / 2.0)
            / (col("n_pos").cast("double") * col("n_neg").cast("double"))),
          6).as("auc"))
  }

  /** Average precision — the step-wise area under the precision-recall
    * curve, AP = Σ_k ΔR_k·P_k over thresholds descending through the
    * distinct scores. The companion readout to [[rocAuc]] when positives
    * are RARE (the normal case for a keep/drop corpus filter): ROC-AUC
    * barely moves when the negative sea dwarfs the positives; AP is
    * anchored to precision, which is what the kept corpus actually
    * experiences.
    *
    * Same shape as [[rocAuc]]: collapse to per-DISTINCT-SCORE class
    * counts, one cumulative window over the bounded score table
    * (descending — each distinct score is one operating point; ties
    * share a threshold), one closing reduce. Counts and cumulative
    * sums are exact integers; precision ratios and the final division
    * are the only float ops. No positives → null. */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__ct", col("__cp") + col("__cn"))
    Prefix.cumBefore(perScore, Nil, "__s", Seq("__cp", "__ct"),
        desc = true, wide = Prefix.isWide(df))
      .withColumn("__tp", col("__cb___cp") + col("__cp"))
      .withColumn("__all", col("__cb___ct") + col("__ct"))
      .agg(sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"),
        sum(col("__cp").cast("double")
          * (col("__tp").cast("double") / col("__all").cast("double")))
          .as("__apNum"))
      .select(col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0,
          col("__apNum") / col("n_pos").cast("double")), 6)
          .as("average_precision"))
  }

  /** Reliability-diagram bins for a [0,1] score against a boolean label:
    * per-bin support, mean score ("confidence") and empirical positive
    * rate ("accuracy"), plus the signed gap — the calibration readout
    * that pairs with [[rocAuc]] (AUC says the ORDER is right; this says
    * whether the score VALUES mean what they claim, which is what any
    * downstream threshold actually consumes).
    *
    * ONE map-side-combined hash aggregate on the bin id (10 equal-width
    * bins); scores are
    * clamped into [0,1] and the top edge folds into the last bin. Exact
    * integer counts; means rounded at 6 decimals. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val s = greatest(least(col(scoreCol).cast("double"), lit(1.0)), lit(0.0))
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(least(floor(s * 10).cast("long"), lit(9L)).as("bin"),
        s.as("__s"), col(labelCol).cast("boolean").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        round(avg(when(col("__y"), 1.0).otherwise(0.0)), 6)
          .as("pos_rate"))
      .withColumn("gap", round(col("pos_rate") - col("mean_score"),
        6))
  }

  /** CUPED variance reduction (public: Deng, Xu, Kohavi & Walker,
    * WSDM'13): adjust each unit's experiment-period metric by its
    * PRE-period covariate, y′ = y − θ(x − x̄) with the pooled
    * θ = cov(x,y)/var(x) — the industry-standard way to shrink an A/B
    * test's confidence interval (often 40-60% variance off) without
    * touching the treatment effect, since E[x] is identical across arms
    * by randomization.
    *
    * Input is the per-unit frame (one row per user: arm, pre-period x,
    * experiment y). Output per arm: n, raw and adjusted means, raw and
    * adjusted sample variances, and the realized variance-reduction
    * ratio 1 − var(y′)/var(y). θ pools BOTH arms (standard practice —
    * a per-arm θ would re-introduce bias).
    *
    * Shape: one 1-row pooled aggregate broadcast back (the same
    * stats battery groupOls runs on), one map-side adjustment, one
    * per-arm aggregate — aggregates only, any number of units.
    * Zero-variance x falls back to θ = 0 (no adjustment, never NaN);
    * a zero-variance y reports null var_reduction. */
  def cupedAdjusted(units: DataFrame, armCol: String, preCol: String,
                    yCol: String): DataFrame = {
    val pooled = units.agg(
      avg(col(preCol)).as("__xbar"),
      covar_samp(col(preCol), col(yCol)).as("__cov"),
      var_samp(col(preCol)).as("__varx"))
    val theta = when(col("__varx") > 0, col("__cov") / col("__varx"))
      .otherwise(0.0)
    units.crossJoin(pooled)
      .withColumn("__adj",
        col(yCol) - theta * (col(preCol) - col("__xbar")))
      .groupBy(col(armCol))
      .agg(count(lit(1)).as("n"),
        round(avg(col(yCol)), 6).as("mean_y"),
        round(avg(col("__adj")), 6).as("mean_y_adj"),
        round(var_samp(col(yCol)), 6).as("var_y"),
        round(var_samp(col("__adj")), 6).as("var_y_adj"),
        round(when(var_samp(col(yCol)) > 0,
          lit(1.0) - var_samp(col("__adj")) / var_samp(col(yCol))),
          6).as("var_reduction"))
  }

  /** Wald's sequential probability ratio test over the daily
    * success-rate stream (Wald, AMS '45): per day, the cumulative
    * log-likelihood ratio LLR = k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀))
    * of H₁: rate = p₁ against H₀: rate = p₀, compared to the exact Wald
    * boundaries A = ln((1−β)/α), B = ln(β/(1−α)) at α = 0.05 — the ORIGINAL
    * early-stopping design: unlike a fixed-horizon z-test peeked daily
    * (which inflates α badly), SPRT's error rates hold at EVERY
    * crossing, and it decides in ~½ the samples on average. Emits the
    * whole daily trajectory (cum trials/successes, LLR, per-day
    * boundary state) so the monitoring table IS the test; the first
    * `accept_h1`/`accept_h0` row is the stopping day.
    *
    * LLR is (exact cumulative integers) × (two ln constants) — rounded
    * (libm); the boundary comparison uses the unrounded value.
    *
    * Scale shape: one day-grain conditional aggregate over the events,
    * then cumulative windows on the ≤days-row grid (the documented
    * calendar-bounded exception). */
  def sprtDaily(events: DataFrame, tsCol: String, typeCol: String,
                successType: String, p0: Double, p1: Double,
                beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct rates in (0,1): p0=$p0 p1=$p1")
    require(beta > 0 && beta < 1, s"need beta in (0,1): $beta")
    val alpha = 0.05
    import org.apache.spark.sql.expressions.Window
    val lS = math.log(p1 / p0)
    val lF = math.log((1.0 - p1) / (1.0 - p0))
    val a = math.log((1.0 - beta) / alpha)
    val b = math.log(beta / (1.0 - alpha))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(typeCol) === successType, 1L).otherwise(0L)).as("__k"))
      .withColumn("n_cum", sum(col("__n")).over(cum))
      .withColumn("k_cum", sum(col("__k")).over(cum))
      .withColumn("__llr", col("k_cum").cast("double") * lit(lS)
        + (col("n_cum") - col("k_cum")).cast("double") * lit(lF))
      .select(col("day"), col("n_cum"), col("k_cum"),
        round(col("__llr"), 6).as("llr"),
        when(col("__llr") >= a, "accept_h1")
          .when(col("__llr") <= b, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** Mood's median test (Mood, "Introduction to the Theory of
    * Statistics" '50 §16.6): k-group χ² on the 2×k table of counts
    * above vs ≤ the POOLED median — the maximally-robust (and
    * correspondingly blunt) location screen: it only asks "does each
    * group put the expected half of its mass above the common
    * median", so arbitrary outliers and any monotone transform leave
    * it untouched. Use when [[kruskalWallis]]'s rank machinery is
    * overkill or its equal-shape assumption is suspect; report beside,
    * not instead (Mood discards within-half information — that
    * bluntness is the price of the robustness).
    *
    * Values equal to the median count in the ≤ half (the standard
    * convention; the interpolated pooled median is the repo's
    * bit-identical exact percentile). Emits one row per group (n,
    * n_above, expected_above — exact-rational UNROUNDED) with the
    * 1-row (χ²_{k−1}, df) fit broadcast alongside; a degenerate half
    * (every value on one side) → null χ².
    *
    * Scale shape: one exact-percentile aggregate (1-row broadcast),
    * one per-group conditional aggregate, a k-row fold — shuffle ∝
    * groups. */
  def moodMedianTest(df: DataFrame, classCol: String, valCol: String): DataFrame = {
    val x = df.filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .select(col(classCol).as("__g"), col(valCol).cast("double").as("__v"))
    val med = x.agg(expr("percentile(__v, 0.5D)").as("__m"))
    // cached: the k-row count table feeds the totals fold, the χ² fold,
    // AND the final select — uncached, each consumer re-runs the
    // median + group aggregate over the events (the plan audit counted
    // 8 scans)
    val perGroup = x.crossJoin(broadcast(med))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v") > col("__m"), 1L).otherwise(0L)).as("n_above"))
      .cache()
    val totals = perGroup.agg(sum(col("n")).as("__nn"),
      sum(col("n_above")).as("__ta"), count(lit(1)).as("__k"))
    val shared = perGroup.crossJoin(broadcast(totals))
      .withColumn("__ea", col("n").cast("double") * col("__ta").cast("double")
        / col("__nn").cast("double"))
      .withColumn("__eb", col("n").cast("double")
        * (col("__nn") - col("__ta")).cast("double")
        / col("__nn").cast("double"))
    val chi = shared
      .agg(max(col("__k")).as("__kk"),
        sum(when(col("__ea") > 0 && col("__eb") > 0,
          (col("n_above").cast("double") - col("__ea"))
            * (col("n_above").cast("double") - col("__ea")) / col("__ea")
            + ((col("n") - col("n_above")).cast("double") - col("__eb"))
              * ((col("n") - col("n_above")).cast("double") - col("__eb"))
              / col("__eb"))).as("__chi"),
        max(when(col("__ea") <= 0 || col("__eb") <= 0, 1L).otherwise(0L))
          .as("__degen"))
      .select((col("__kk") - 1).cast("long").as("df_chi"),
        round(when(col("__degen") === 0, col("__chi")), 6)
          .as("chi2"))
    shared
      .select(col("__g").as(classCol), col("n"), col("n_above"),
        col("__ea").as("expected_above"))
      .crossJoin(broadcast(chi))
  }

  /** Wilcoxon signed-rank test for PAIRED samples (Wilcoxon,
    * Biometrics Bull. '45): over per-pair differences d = y − x, rank
    * |d| with midranks (zeros dropped — the classical convention),
    * W⁺ = Σ ranks of positive d, E = n(n+1)/4, tie-corrected
    * Var = n(n+1)(2n+1)/24 − Σ(t³−t)/48, z = (W⁺−E)/√Var (no
    * continuity correction — the scipy default; document the choice,
    * don't hide it). The PAIRED rung the ladder was missing: Welch/MW/
    * Brunner–Munzel compare independent arms, Friedman needs k
    * treatments — for before-vs-after on the SAME units (pre/post mean
    * value per user), pairing removes the between-unit variance that
    * drowns unpaired tests.
    *
    * NOT a rank over rows: |d| midranks fold from the per-distinct-|d|
    * histogram ([[ksStatistic]] collapse) carrying positive/negative
    * counts per value — W⁺ and the tie sums are exact halves,
    * UNROUNDED; z rounds. n = 0 (all zero differences) → null z. */
  def wilcoxonSignedRank(pairs: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // differences round BEFORE the histogram (the kruskalWallis value
    // convention): x/y are usually float aggregates, and a 1-ulp
    // cross-engine wobble must not split a distinct-|d| tie group
    val d = pairs
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(yCol).cast("double") - col(xCol).cast("double"),
        6).as("__d"))
      .filter(col("__d") =!= 0.0)
    val perAbs = d.groupBy(abs(col("__d")).as("__a"))
      .agg(sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__cp"),
        count(lit(1)).as("__ct"))
    val ranked = Prefix.cumBefore(perAbs, Nil, "__a", Seq("__ct"),
        wide = Prefix.isWide(pairs))
      .withColumn("__mid",
        col("__cb___ct").cast("double")
          + (col("__ct") + 1).cast("double") / 2.0)
    ranked.agg(sum(col("__ct")).as("n_pairs"),
        sum(col("__cp")).as("n_positive"),
        sum(col("__cp").cast("double") * col("__mid")).as("w_plus"),
        sum(col("__ct").cast("double") * col("__ct") * col("__ct")
          - col("__ct")).as("__t3"))
      .withColumn("__nd", col("n_pairs").cast("double"))
      .withColumn("__e", col("__nd") * (col("__nd") + 1) / 4.0)
      .withColumn("__var", col("__nd") * (col("__nd") + 1)
        * (lit(2.0) * col("__nd") + 1) / 24.0 - col("__t3") / 48.0)
      .select(col("n_pairs"), col("n_positive"), col("w_plus"),
        col("__e").as("w_expected"),
        round(when(col("__var") > 0,
          (col("w_plus") - col("__e")) / sqrt(col("__var"))), 6)
          .as("z"))
  }

  /** Cochran's Q test (Cochran, Biometrika '50): k binary treatments
    * over b blocks — "do the k success RATES differ, netting out
    * per-block propensity" — the k-treatment generalization of
    * [[mcnemar]] and the binary face of [[friedmanTest]]:
    * Q = (k−1)(kΣC_j² − N²)/(kN − ΣR_i²) with C_j = treatment totals,
    * R_i = block totals, N = ΣR; under H₀, Q ~ χ²_{k−1}. The "which
    * event types does a user touch" contrast that a naive per-type
    * rate table gets wrong when heavy users inflate every type at
    * once.
    *
    * SPARSE by construction: absent (block, treatment) cells are 0 and
    * contribute to NO sum, so the statistic folds from the distinct
    * (block, treatment) pair table — no dense b×k grid, no cross join.
    * All-zero/all-one blocks cancel algebraically (the textbook note) —
    * no filtering needed. Everything integer-exact until the final
    * division; Q rounds, the totals don't. Degenerate denominator
    * (every block hits every treatment) → null. */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String): DataFrame = {
    val ut = df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull)
      .select(col(blockCol).as("__b"), col(treatCol).as("__t"))
      .distinct()
      .cache()
    val k = ut.select(col("__t")).distinct()
      .agg(count(lit(1)).as("__k"))
    val cSums = ut.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("__nn"),
        sum(col("__c") * col("__c")).as("__sc2"))
    val rSums = ut.groupBy(col("__b")).agg(count(lit(1)).as("__r"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__r") * col("__r")).as("__sr2"))
    cSums.crossJoin(broadcast(k)).crossJoin(broadcast(rSums))
      .withColumn("__den", (col("__k") * col("__nn") - col("__sr2"))
        .cast("double"))
      .select(col("n_blocks"), col("__k").as("k_treatments"),
        col("__nn").as("n_successes"),
        round(when(col("__den") > 0,
          (col("__k") - 1).cast("double")
            * (col("__k") * col("__sc2") - col("__nn") * col("__nn"))
              .cast("double") / col("__den")), 6).as("q_stat"))
  }

  /** Friedman test for k treatments over b blocks, in Conover's
    * tie-robust form (Friedman, JASA '37; Conover, "Practical
    * Nonparametric Statistics" §5.8): midrank the k responses WITHIN
    * each block, then
    *   T₁ = (k−1)·[Σ_j R_j² − b²k(k+1)²/4] / [Σ_ij r_ij² − bk(k+1)²/4]
    * (R_j = treatment j's rank sum; denominator = observed rank
    * dispersion, so ties need no separate correction factor; reduces to
    * the textbook 12/(bk(k+1))·ΣR_j² − 3b(k+1) when ties vanish,
    * spec-pinned). THE repeated-measures companion to [[kruskalWallis]]:
    * KW assumes independent groups, Friedman BLOCKS by day/user/segment
    * first, so a day-level level shift (traffic, seasonality) cancels
    * instead of drowning the treatment contrast. Under H₀, T₁ ~ χ²_{k−1}.
    *
    * Only COMPLETE blocks enter (a block missing a treatment can't be
    * ranked 1..k; dropped blocks are visible via n_blocks). Emits one
    * row per treatment (rank sum, mean rank — exact halves/rationals,
    * UNROUNDED) with the 1-row (b, k, T₁) fit broadcast alongside.
    *
    * Shape: one (block, treatment) cell aggregate over the data, ranks
    * via block-partitioned windows on the bounded b×k cell grid, two
    * folds — shuffle ∝ cells, never rows. */
  def friedmanTest(cells: DataFrame, blockCol: String, treatCol: String,
                   valCol: String): DataFrame = {
    val ranked = completeBlockMidranks(cells, blockCol, treatCol, valCol)
      // cached: the bounded b×k rank grid feeds the per-treatment fold,
      // the dispersion fold, AND the final select — uncached, the
      // caller's cell aggregate (data-sized) would re-run per consumer
      .cache()
    val perTreat = ranked.groupBy(col("__t"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__r")).as("__rsum"))
    val fit = ranked
      .agg(max(col("__k")).as("__kk"),
        countDistinct(col("__b")).as("__bb"),
        sum(col("__r") * col("__r")).as("__sr2"))
    val t1 = perTreat.agg(sum(col("__rsum") * col("__rsum")).as("__srj2"))
      .crossJoin(broadcast(fit))
      .withColumn("__kd", col("__kk").cast("double"))
      .withColumn("__bd", col("__bb").cast("double"))
      .withColumn("__c", col("__bd") * col("__kd")
        * (col("__kd") + 1) * (col("__kd") + 1) / 4.0)
      .select(col("__bb").as("n_blocks_used"),
        col("__kk").cast("long").as("k_treatments"),
        round(when(col("__sr2") - col("__c") > 0,
          (col("__kd") - 1) * (col("__srj2") - col("__bd") * col("__c"))
            / (col("__sr2") - col("__c"))), 6).as("t1"))
    perTreat
      .select(col("__t").as(treatCol), col("n_blocks"),
        col("__rsum").as("rank_sum"),
        (col("__rsum") / col("n_blocks").cast("double")).as("mean_rank"))
      .crossJoin(broadcast(t1))
  }

  /** The complete-block midrank step of [[friedmanTest]],
    * [[pageTrendTest]] and [[quadeTest]]: the non-null cells as (`__b`
    * block, `__t` treatment, `__v` value, `__k` treatment count), only
    * the blocks holding every treatment once, each value midranked
    * within its block as `__r`. */
  private def completeBlockMidranks(cells: DataFrame, blockCol: String,
                                    treatCol: String,
                                    valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val base = cells
      .filter(col(valCol).isNotNull)
      .select(col(blockCol).as("__b"), col(treatCol).as("__t"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__k", size(collect_set(col("__t")).over(kAll)))
    // completeness requires BOTH the row count and the distinct
    // treatment count per block to equal k: a duplicate (block,
    // treatment) cell can make a block missing a treatment pass a
    // row-count-only check (same enforcement as Agreement.kendallW) —
    // malformed blocks drop instead of skewing the ranks
    val complete = base
      .withColumn("__bk", count(lit(1)).over(
        Window.partitionBy(col("__b"))))
      .withColumn("__dk", size(collect_set(col("__t")).over(
        Window.partitionBy(col("__b")))))
      .filter(col("__bk") === col("__k") && col("__dk") === col("__k"))
    complete
      .withColumn("__minr", rank().over(Window.partitionBy(col("__b"))
        .orderBy(col("__v"))))
      .withColumn("__ties", count(lit(1)).over(
        Window.partitionBy(col("__b"), col("__v"))))
      // midrank = min-rank + (t−1)/2 — the mean of the tied positions
      .withColumn("__r", col("__minr").cast("double")
        + (col("__ties") - 1).cast("double") / 2.0)
  }

  /** Brunner–Munzel test (Brunner & Munzel, Biometrical J. '00): the
    * heteroscedasticity-robust replacement for [[mannWhitney]] — MW's
    * variance assumes the two distributions differ only by shift, and
    * under unequal spreads its level breaks; BM studentizes the
    * placement estimator p̂ = P(X<Y) + ½P(X=Y) with EACH sample's own
    * placement variance and Welch–Satterthwaite df (the rank-world
    * Welch test; recommended default over MW in modern guidance).
    *   W = n_a·n_b·(R̄_b − R̄_a) / (N·√(n_a·S_a² + n_b·S_b²)),
    * S_i² the sample variance of placements R_ij − V_ij (pooled minus
    * within-sample midranks).
    *
    * NOT a rank over rows: pooled and within-sample midranks both fold
    * from the per-distinct-value histogram (the [[ksStatistic]]
    * collapse) — placements depend only on the VALUE, so their weighted
    * moments over distinct values equal the row-level ones exactly.
    * p̂ is exact-rational (midranks are halves) — UNROUNDED; W and df
    * mix √ and round. Degenerate placement variances (both samples
    * constant) → null W/df. */
  def brunnerMunzel(df: DataFrame, sideCol: String, valCol: String,
                    sideA: String, sideB: String): DataFrame = {
    val placed = sideCumGrid(df, sideCol, col(valCol).cast("double"),
        sideA, sideB)
      // pooled midrank at v: #below + (t+1)/2; within-sample likewise —
      // placement d = pooled − within, constant across the tied block
      .withColumn("__t", col("__ca") + col("__cb"))
      .withColumn("__r", (col("__cuma") + col("__cumb") - col("__t"))
        .cast("double") + (col("__t") + 1).cast("double") / 2.0)
      .withColumn("__da", col("__r") - ((col("__cuma") - col("__ca"))
        .cast("double") + (col("__ca") + 1).cast("double") / 2.0))
      .withColumn("__db", col("__r") - ((col("__cumb") - col("__cb"))
        .cast("double") + (col("__cb") + 1).cast("double") / 2.0))
    val agg = placed.agg(
      max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
      sum(col("__ca").cast("double") * col("__da")).as("__sda"),
      sum(col("__cb").cast("double") * col("__db")).as("__sdb"),
      sum(col("__ca").cast("double") * col("__da") * col("__da"))
        .as("__sda2"),
      sum(col("__cb").cast("double") * col("__db") * col("__db"))
        .as("__sdb2"))
    agg
      .withColumn("__nad", col("n_a").cast("double"))
      .withColumn("__nbd", col("n_b").cast("double"))
      .withColumn("__ma", col("__sda") / col("__nad"))
      .withColumn("__mb", col("__sdb") / col("__nbd"))
      // S² with the (n−1) denominator off weighted moments
      .withColumn("__va", when(col("n_a") > 1,
        (col("__sda2") - col("__nad") * col("__ma") * col("__ma"))
          / (col("__nad") - 1)))
      .withColumn("__vb", when(col("n_b") > 1,
        (col("__sdb2") - col("__nbd") * col("__mb") * col("__mb"))
          / (col("__nbd") - 1)))
      .withColumn("__s2", col("__nad") * col("__va")
        + col("__nbd") * col("__vb"))
      // p̂ = P(A<B)+½P(A=B) = mean placement of B against A over n_a;
      // the pooled-rank-mean gap collapses to R̄_b − R̄_a = N(p̂ − ½),
      // so W = n_a·n_b·(p̂ − ½)/√(n_a S_a² + n_b S_b²)
      .withColumn("__ph", col("__mb") / col("__nad"))
      .withColumn("__w", when(col("__s2") > 0,
        col("__nad") * col("__nbd") * (col("__ph") - 0.5)
          / sqrt(col("__s2"))))
      .select(col("n_a"), col("n_b"),
        col("__ph").as("p_hat"),
        round(col("__w"), 6).as("w_bm"),
        round(when(col("__s2") > 0,
          col("__s2") * col("__s2")
            / (col("__nad") * col("__va") * col("__nad") * col("__va")
                / (col("__nad") - 1)
              + col("__nbd") * col("__vb") * col("__nbd") * col("__vb")
                / (col("__nbd") - 1))), 6).as("df"))
  }

  /** Two-sample standardized effect sizes (Cohen '88; Hedges, JEBS
    * '81): Cohen's d = (x̄₁−x̄₂)/s_pooled with the (n−1)-weighted pooled
    * SD, and Hedges' g = J·d with the small-sample bias factor
    * J = 1 − 3/(4(n₁+n₂)−9) — the PARAMETRIC magnitude column beside
    * [[cliffsDelta]]'s ordinal one: report an effect size WITH every
    * p-value (a micro-effect goes significant at scale; d says whether
    * anyone should care — 0.2/0.5/0.8 small/medium/large). g over d
    * whenever either arm is small.
    *
    * Shape: ONE conditional 1-row aggregate (count/avg/var per side in
    * a single pass) — no window, no join. Zero pooled variance → null
    * d/g (the honest constant-arms fallback); float moments → all
    * rounded. */
  def effectSize(df: DataFrame, sideCol: String, valCol: String,
                 sideA: String, sideB: String): DataFrame = {
    val x = df.filter(col(sideCol).isin(sideA, sideB))
      .filter(col(valCol).isNotNull)
      .select(col(sideCol).as("__s"), col(valCol).cast("double").as("__x"))
    x.agg(
        count(when(col("__s") === sideA, 1)).as("n_a"),
        count(when(col("__s") === sideB, 1)).as("n_b"),
        avg(when(col("__s") === sideA, col("__x"))).as("__ma"),
        avg(when(col("__s") === sideB, col("__x"))).as("__mb"),
        var_samp(when(col("__s") === sideA, col("__x"))).as("__va"),
        var_samp(when(col("__s") === sideB, col("__x"))).as("__vb"))
      .withColumn("__sp", sqrt(
        ((col("n_a") - 1).cast("double") * col("__va")
          + (col("n_b") - 1).cast("double") * col("__vb"))
          / (col("n_a") + col("n_b") - 2).cast("double")))
      .withColumn("__d", when(col("__sp") > 0,
        (col("__ma") - col("__mb")) / col("__sp")))
      .select(col("n_a"), col("n_b"),
        round(col("__ma") - col("__mb"), 6).as("mean_diff"),
        round(col("__sp"), 6).as("sd_pooled"),
        round(col("__d"), 6).as("cohens_d"),
        round(col("__d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_a") + col("n_b")).cast("double") - 9.0)),
          6).as("hedges_g"))
  }

  /** Page's trend test for ORDERED treatments over blocks (Page, JASA
    * '63): L = Σ_j w_j R_j with w_j the treatment's rank in the
    * hypothesized order and R_j its within-block midrank sum,
    * z = (L − E)/√Var with E = b·k(k+1)²/4 and the classical no-ties
    * Var = b(k³−k)²/(144(k−1)) — [[friedmanTest]]'s ORDERED sibling,
    * completing the 2×2 the ladder needs: unordered/unblocked KW,
    * ordered/unblocked [[jonckheereTerpstra]], unordered/blocked
    * Friedman, ordered/blocked Page. Midranks keep L well-defined under
    * ties; the variance is the standard no-ties form (ties make the
    * test slightly conservative — documented, and per-cell continuous
    * responses rarely tie).
    *
    * Only complete blocks enter (the [[friedmanTest]] contract).
    * Treatment order is `treatCol`'s natural ascending order. L and
    * E[L] are exact halves/quarters — UNROUNDED; z rounds.
    *
    * Shape: [[completeBlockMidranks]]' bounded b×k rank grid (cached),
    * dense-rank for treatment weights, two folds. */
  def pageTrendTest(cells: DataFrame, blockCol: String, treatCol: String,
                    valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = completeBlockMidranks(cells, blockCol, treatCol, valCol)
      .withColumn("__w", dense_rank().over(Window.orderBy(col("__t"))))
      .cache()
    val fit = ranked.agg(max(col("__k")).as("__kk"),
      countDistinct(col("__b")).as("__bb"),
      sum(col("__w").cast("double") * col("__r")).as("__l"))
    fit
      .withColumn("__kd", col("__kk").cast("double"))
      .withColumn("__bd", col("__bb").cast("double"))
      .withColumn("__e", col("__bd") * col("__kd")
        * (col("__kd") + 1) * (col("__kd") + 1) / 4.0)
      .withColumn("__k3", col("__kd") * col("__kd") * col("__kd")
        - col("__kd"))
      // one treatment (k = 1) has no order to trend along: null variance
      // (and z) instead of a division by zero, which throws under ANSI
      .withColumn("__var", when(col("__kd") > 1, col("__bd") * col("__k3")
        * col("__k3") / (lit(144.0) * (col("__kd") - 1))))
      .select(col("__bb").as("n_blocks_used"),
        col("__kk").cast("long").as("k_treatments"),
        col("__l").as("l_stat"), col("__e").as("l_expected"),
        round(when(col("__var") > 0,
          (col("__l") - col("__e")) / sqrt(col("__var"))), 6)
          .as("z"))
  }

  /** Mixture SPRT always-valid p-value over the daily success-rate
    * stream (Johari, Koomen, Pekelis & Walsh, KDD '17 "Peeking at A/B
    * tests"): with plug-in σ² = p₀(1−p₀) and a N(p₀, τ²) mixing prior,
    *   Λ_n = √(σ²/(σ²+nτ²)) · exp(n²τ²(x̄−p₀)²/(2σ²(σ²+nτ²)))
    * and p_n = min_{m≤n} 1/Λ_m (clamped at 1) — a p-value that is
    * VALID AT EVERY LOOK: report it on a live dashboard daily and stop
    * whenever it crosses α, no schedule needed. The modern companion to
    * [[sprtDaily]]: Wald's test needs a committed alternative p₁;
    * mSPRT prices ALL alternatives through the mixture and pays only a
    * √-factor for it. The running min is what makes peeking safe —
    * today's p never un-rejects yesterday's.
    *
    * The min folds over UNROUNDED Λ (rounding first could flip which
    * day attains it); λ and p then round (exp/√ noise).
    *
    * Shape: one day-grain conditional aggregate, cumulative + running-
    * min windows on the ≤days-row grid (the calendar-bounded
    * exception). */
  def msprtDaily(events: DataFrame, tsCol: String, typeCol: String,
                 successType: String, p0: Double, tau: Double): DataFrame =
    msprtOverCounts(
      events.groupBy(date_trunc("day", col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col(typeCol) === successType, 1L).otherwise(0L))
            .as("n_success")),
      p0, tau)

  /** The [[msprtDaily]] finalizer over an already-folded (day,
    * n_events, n_success) table — the seam the STREAMING monitor
    * shares ([[graft.streaming.EventStreams.msprtMonitor]] folds
    * per-day counts into state and re-runs THIS code), so stream and
    * batch answers are equal by construction after any prefix, the
    * [[TimeSeries.cusumOverCounts]] contract. Deliberate recompute
    * over the day grid each call: the running min re-bases with every
    * new day, and the grid is calendar-bounded. */
  def msprtOverCounts(counts: DataFrame, p0: Double, tau: Double): DataFrame = {
    require(p0 > 0 && p0 < 1, s"null rate must be in (0,1): $p0")
    require(tau > 0, s"mixing sd must be positive: $tau")
    import org.apache.spark.sql.expressions.Window
    val s2 = p0 * (1.0 - p0)
    val t2 = tau * tau
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    counts
      .withColumn("n_cum", sum(col("n_events")).over(cum))
      .withColumn("k_cum", sum(col("n_success")).over(cum))
      .withColumn("__nd", col("n_cum").cast("double"))
      .withColumn("__dev", col("k_cum").cast("double") / col("__nd")
        - lit(p0))
      .withColumn("__lam",
        sqrt(lit(s2) / (lit(s2) + col("__nd") * t2))
          * exp(col("__nd") * col("__nd") * t2 * col("__dev") * col("__dev")
            / (lit(2.0) * s2 * (lit(s2) + col("__nd") * t2))))
      .withColumn("__praw", least(lit(1.0), lit(1.0) / col("__lam")))
      .select(col("day"), col("n_cum"), col("k_cum"),
        round(col("__lam"), 6).as("lambda"),
        round(min(col("__praw")).over(cum), 6).as("p_always_valid"))
  }

  /** Empirical-Bayes beta–binomial shrinkage of per-unit success rates
    * (Robbins '56 lineage; the method-of-moments recipe popularized for
    * batting averages): fit Beta(α,β) to the observed per-unit rates by
    * moments — α+β = μ(1−μ)/v − 1 over the unit-level rate mean/variance
    * — then report each unit's posterior mean (k+α)/(n+α+β). THE
    * small-sample stabilizer for per-entity rate tables: a 2-for-2 user
    * no longer outranks a 950-for-1000 one, because 2 trials barely move
    * the prior — rank by `rate_shrunk`, never raw, whenever n varies by
    * orders of magnitude (per-source quality pass rates, per-domain
    * click-through, per-author dedup rates).
    *
    * Degenerate fits (rate variance 0, or v ≥ μ(1−μ) making α+β ≤ 0)
    * emit null priors and shrunk = raw — the honest fallback. Raw rate
    * is an exact-integer ratio, UNROUNDED; the float-carrying prior and
    * posterior round.
    *
    * Scale shape: one per-unit conditional aggregate (shuffle ∝ units),
    * one 1-row moment fold over unit rates, one broadcast crossJoin —
    * no window, no pair work. */
  def ebBetaBinomial(df: DataFrame, unitCol: String, successCol: Column): DataFrame = {
    val perUnit = df.groupBy(col(unitCol))
      .agg(count(lit(1)).as("n_trials"),
        sum(when(successCol, 1L).otherwise(0L)).as("n_success"))
      .withColumn("__r", col("n_success").cast("double")
        / col("n_trials").cast("double"))
    val fit = perUnit
      .agg(avg(col("__r")).as("__mu"), var_samp(col("__r")).as("__v"))
      .select(col("__mu"), col("__v"),
        when(col("__v") > 0,
          col("__mu") * (lit(1.0) - col("__mu")) / col("__v") - 1.0)
          .as("__s"))
      .select(
        when(col("__s") > 0, col("__mu") * col("__s")).as("__alpha"),
        when(col("__s") > 0, (lit(1.0) - col("__mu")) * col("__s"))
          .as("__beta"))
    perUnit.crossJoin(broadcast(fit))
      .select(col(unitCol), col("n_trials"), col("n_success"),
        col("__r").as("rate_raw"),
        round(col("__alpha"), 6).as("prior_alpha"),
        round(col("__beta"), 6).as("prior_beta"),
        round(coalesce(
          (col("n_success").cast("double") + col("__alpha"))
            / (col("n_trials").cast("double") + col("__alpha")
              + col("__beta")),
          col("__r")), 6).as("rate_shrunk"))
  }

  /** Jonckheere–Terpstra test for an ORDERED k-sample alternative
    * (Jonckheere, Biometrika '54; Terpstra '52; tie-corrected null
    * variance per Hollander & Wolfe §6.2): J = Σ_{i<j} U_ij with
    * midrank ties (U counts a<b as 1, a=b as ½ over cross pairs of
    * ordered groups), E[J] = (N² − Σnᵢ²)/4, and the three-term
    * tie-corrected variance
    *   [N(N−1)(2N+5) − Σn(n−1)(2n+5) − Σt(t−1)(2t+5)]/72
    *   + [Σn(n−1)(n−2)][Σt(t−1)(t−2)]/(36·N(N−1)(N−2))
    *   + [Σn(n−1)][Σt(t−1)]/(8·N(N−1))
    * (t = pooled tie-group sizes; reduces exactly to the classical
    * [N²(2N+3) − Σn²(2n+3)]/72 when ties vanish — spec-pinned). THE
    * dose-response test for a CONTINUOUS response across ordered
    * groups: [[kruskalWallis]] spends power on any difference,
    * [[cochranArmitage]] needs a binary outcome; JT concentrates on
    * "does the value distribution shift monotonically with the bucket".
    *
    * NOT a pair join over rows: U folds from the per-(group, value)
    * histogram — U_ij = Σ_v h_j(v)·A_i(v⁻) + ½Σ_v h_i(v)h_j(v) with
    * A_i(v⁻) the group-i count strictly below v off a per-group
    * cumulative over the POOLED distinct-value grid — so the cost is
    * |distinct values|·k² histogram rows, never n². Bin/round a
    * continuous column first at billions of distinct points, and mind
    * the exactness bar: the variance's N³-scale integer products stay
    * exact to 2^53 (N ≲ 1.6·10⁵ exact; beyond, ~1-ulp error absorbed
    * by the 6dp rounding). J and E[J] are exact halves/quarters —
    * deliberately UNROUNDED; z rounds.
    *
    * Group order is `groupCol`'s natural ascending order. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val wide = Prefix.isWide(df)
    val h = df.filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__h"))
      .cache()
    val groups = h.select(col("__g")).distinct()
    val values = h.select(col("__v")).distinct()
    // dense (value × group) grid: A_i(v⁻) must exist even where group i
    // has no mass AT v (its below-v count still weights U)
    val dense = values.crossJoin(groups)
      .join(h, Seq("__g", "__v"), "left")
      .withColumn("__hi", coalesce(col("__h"), lit(0L)))
    // r16: scale-adaptive bucketed prefix-sum replaces the ≤k-task
    // cumulative window over the dense (value × group) grid (the
    // r15-verdict serial cliff); plain single-window form at bench SF.
    // A_i(v⁻) = the exclusive cumsum directly. Exact integers.
    val grid = Prefix.cumBefore(dense, Seq("__g"), "__v", Seq("__hi"),
        wide = wide)
      .select(col("__g").as("__gi"), col("__v"),
        col("__hi"), col("__cb___hi").as("__below"))
    val j = grid
      .join(h.select(col("__g").as("__gj"), col("__v"),
        col("__h").as("__hj")), Seq("__v"))
      .filter(col("__gi") < col("__gj"))
      .agg(sum(col("__hj").cast("double") * col("__below")
        + lit(0.5) * col("__hi").cast("double") * col("__hj")).as("j_stat"))
    val sizes = h.groupBy(col("__g")).agg(sum(col("__h")).as("__n"))
      .agg(sum(col("__n")).as("__nn"),
        sum(col("__n") * col("__n")).as("__sn2"),
        sum(col("__n").cast("double") * (col("__n") - 1)
          * (lit(2.0) * col("__n") + 5)).as("__sn_a"),
        sum(col("__n").cast("double") * (col("__n") - 1)
          * (col("__n") - 2)).as("__sn_b"),
        sum(col("__n").cast("double") * (col("__n") - 1)).as("__sn_c"))
    val ties = h.groupBy(col("__v")).agg(sum(col("__h")).as("__t"))
      .agg(sum(col("__t").cast("double") * (col("__t") - 1)
          * (lit(2.0) * col("__t") + 5)).as("__st_a"),
        sum(col("__t").cast("double") * (col("__t") - 1)
          * (col("__t") - 2)).as("__st_b"),
        sum(col("__t").cast("double") * (col("__t") - 1)).as("__st_c"))
    j.crossJoin(broadcast(sizes)).crossJoin(broadcast(ties))
      .withColumn("__nd", col("__nn").cast("double"))
      .withColumn("__e", (col("__nn") * col("__nn") - col("__sn2"))
        .cast("double") / 4.0)
      .withColumn("__var",
        (col("__nd") * (col("__nd") - 1) * (lit(2.0) * col("__nd") + 5)
          - col("__sn_a") - col("__st_a")) / 72.0
          + col("__sn_b") * col("__st_b")
            / (lit(36.0) * col("__nd") * (col("__nd") - 1)
              * (col("__nd") - 2))
          + col("__sn_c") * col("__st_c")
            / (lit(8.0) * col("__nd") * (col("__nd") - 1)))
      .select(col("__nn").as("n_total"), col("j_stat"),
        col("__e").as("j_expected"),
        round(when(col("__var") > 0,
          (col("j_stat") - col("__e")) / sqrt(col("__var"))), 6)
          .as("z"))
  }

  /** Per-group Wilson score interval for a success rate (Wilson, JASA
    * '27): [p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²)] / (1 + z²/n) — the
    * binomial CI that behaves at the edges where the Wald interval
    * collapses (p̂ = 0 or 1 gives a degenerate [p̂, p̂] Wald CI; Wilson
    * still brackets honestly, which is why it is the recommended
    * default per Brown–Cai–DasGupta '01). THE companion column for any
    * per-source/per-domain rate table: a 2-for-2 source prints
    * [0.34, 1.0], not "100%".
    *
    * z = 1.96 (the conventional 95% two-sided score). Rate is
    * an exact-integer ratio, UNROUNDED; the √-carrying bounds round.
    *
    * Shape: one per-group conditional aggregate + arithmetic — shuffle
    * ∝ groups, no window, no join. */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: Column): DataFrame = {
    val z = 1.96
    val z2 = z * z
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_trials"),
        sum(when(successCol, 1L).otherwise(0L)).as("n_success"))
      .withColumn("__n", col("n_trials").cast("double"))
      .withColumn("__p", col("n_success").cast("double") / col("__n"))
      .withColumn("__den", lit(1.0) + lit(z2) / col("__n"))
      .withColumn("__ctr", col("__p") + lit(z2) / (lit(2.0) * col("__n")))
      .withColumn("__hw", lit(z) * sqrt(col("__p") * (lit(1.0) - col("__p"))
        / col("__n") + lit(z2) / (lit(4.0) * col("__n") * col("__n"))))
      .select(col(groupCol), col("n_trials"), col("n_success"),
        col("__p").as("rate"),
        round((col("__ctr") - col("__hw")) / col("__den"), 6)
          .as("ci_low"),
        round((col("__ctr") + col("__hw")) / col("__den"), 6)
          .as("ci_high"))
  }

  /** Two-window Poisson rate-ratio test via the conditional binomial
    * (Przyborowski & Wilenski, Biometrika '40 — the C-test): given k₁
    * events in exposure t₁ and k₂ in t₂, under H₀ (equal rates)
    * k₁ | k₁+k₂ ~ Binomial(k, π = t₁/(t₁+t₂)); the score z =
    * (k₁ − kπ)/√(kπ(1−π)) screens "did the event rate actually change
    * between the windows" with exposure imbalance priced in — the
    * conditioning removes the unknown base rate entirely, which is why
    * this beats comparing raw counts or per-window means. Rate ratio
    * (k₁/t₁)/(k₂/t₂) is reported beside z.
    *
    * Shape: ONE conditional 1-row aggregate over the events — no
    * window, no join; exposures are caller-supplied constants (window
    * lengths), counts exact integers. The ratio is exact-rational,
    * UNROUNDED; z mixes a √ and rounds. */
  def poissonRateTest(events: DataFrame, tsCol: String, splitTs: String,
                      t1: Double, t2: Double): DataFrame = {
    require(t1 > 0 && t2 > 0, s"exposures must be positive: $t1, $t2")
    val pi = t1 / (t1 + t2)
    events
      .agg(sum(when(col(tsCol) < lit(splitTs).cast("timestamp"), 1L)
          .otherwise(0L)).as("k1"),
        sum(when(col(tsCol) >= lit(splitTs).cast("timestamp"), 1L)
          .otherwise(0L)).as("k2"))
      .withColumn("__k", (col("k1") + col("k2")).cast("double"))
      .select(col("k1"), col("k2"),
        when(col("k2") > 0, (col("k1").cast("double") / t1)
          / (col("k2").cast("double") / t2)).as("rate_ratio"),
        (col("__k") * pi).as("k1_expected"),
        round(when(col("__k") > 0,
          (col("k1").cast("double") - col("__k") * pi)
            / sqrt(col("__k") * pi * (1.0 - pi))), 6).as("z"))
  }

  /** Per-group Jarque–Bera normality screen (Jarque & Bera, Econ.
    * Lett. '80): JB = n(S²/6 + (K−3)²/24) from sample skewness S and
    * kurtosis K — the gate that decides which rung of the
    * experimentation ladder applies (t/CUPED assume near-normal tails;
    * heavy-K or skewed groups should route to Mann–Whitney / Yuen /
    * trimmed estimators). Under H₀, JB ~ χ²₂ — JB ≳ 6 rejects at ~5%.
    *
    * TWO-PASS central moments: the grand mean joins back (broadcast)
    * and Σ(x−μ)^k accumulate directly — computing m₃/m₄ from raw
    * power sums cancels catastrophically at large |μ| (Σx⁴ ~ n·μ⁴
    * swamps the centered signal), the same reason rollingFeatures
    * clamps its variance identity. Moments are float sums → S, K, JB
    * all round.
    *
    * Shape: one per-group mean aggregate, one broadcast join back, one
    * per-group moment aggregate — shuffle ∝ groups both passes, no
    * window. */
  def jarqueBera(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val x = df.filter(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__x"))
    val means = x.groupBy(col("__g"))
      .agg(avg(col("__x")).as("__mu"), count(lit(1)).as("n"))
    val cent = x.join(broadcast(means), Seq("__g"))
      .withColumn("__d", col("__x") - col("__mu"))
      .groupBy(col("__g"), col("n"))
      .agg(sum(col("__d") * col("__d")).as("__m2"),
        sum(col("__d") * col("__d") * col("__d")).as("__m3"),
        sum(col("__d") * col("__d") * col("__d") * col("__d")).as("__m4"))
      .withColumn("__nd", col("n").cast("double"))
      .withColumn("__v", col("__m2") / col("__nd"))
      .withColumn("__s", when(col("__v") > 0, col("__m3") / col("__nd")
        / pow(col("__v"), 1.5)))
      .withColumn("__k", when(col("__v") > 0, col("__m4") / col("__nd")
        / (col("__v") * col("__v"))))
    cent.select(col("__g").as(groupCol), col("n"),
      round(col("__s"), 6).as("skewness"),
      round(col("__k"), 6).as("kurtosis"),
      round(col("__nd") * (col("__s") * col("__s") / 6.0
        + (col("__k") - 3.0) * (col("__k") - 3.0) / 24.0), 6)
        .as("jb"))
  }

  /** Cohen's kappa between two categorical labelings (public: Cohen '60)
    * — chance-corrected agreement, the standard answer to "do the
    * heuristic labeler and the declared label actually agree beyond what
    * class imbalance alone would produce". κ = (p_o − p_e)/(1 − p_e)
    * with p_e from the marginal label distributions.
    *
    * Shape: one total aggregate + two marginal hash aggregates joined on
    * the label value (a labels-cardinality-sized join, not a data-sized
    * one). Integer counts and products throughout — exact until the final
    * divisions. Perfect-chance inputs (p_e = 1, i.e. both sides constant
    * and equal) yield null kappa. */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    // ONE data-sized pass builds the labels² contingency; totals and both
    // marginals re-aggregate that tiny table (the shared-contingency
    // shape mutualInfoTokens uses)
    val cont = df
      .select(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__cnt"))
    val totals = cont.agg(coalesce(sum(col("__cnt")), lit(0L)).as("n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__cnt"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    val margA = cont.groupBy(col("__a").as("__l"))
      .agg(sum(col("__cnt")).as("__ca"))
    val margB = cont.groupBy(col("__b").as("__l"))
      .agg(sum(col("__cnt")).as("__cb"))
    // labels missing on either side contribute 0 to p_e — inner join.
    // Marginal products are cast to double BEFORE multiplying: ca·cb
    // approaches n², which wraps a long silently past ~3e9 rows (the
    // ratio is divided by n² immediately, exactness is not needed)
    val peNum = margA.join(margB, "__l")
      .agg(coalesce(sum(col("__ca").cast("double") * col("__cb")), lit(0.0))
        .as("__peNum"))
    val nD = col("n").cast("double")
    val po = col("n_agree").cast("double") / nD
    val pe = col("__peNum") / (nD * nD)
    totals.crossJoin(peNum)
      .select(col("n"), col("n_agree"),
        round(po, 6).as("p_observed"),
        round(pe, 6).as("p_expected"),
        round(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 6)
          .as("kappa"))
  }

  /** Adjusted Rand index + normalized mutual information between two
    * partitions of the same rows (Hubert & Arabie, J. Classif. '85;
    * Strehl & Ghosh, JMLR '02) — the PERMUTATION-INVARIANT agreement
    * measures [[cohenKappa]] is not: κ needs the two labelings to share
    * label NAMES, ARI/NMI only ask whether they group the same rows
    * together, which is the right question when comparing cluster
    * ASSIGNMENTS (LSH buckets vs exact dup clusters, IVF cells vs
    * declared labels, lang vs source). ARI: pair-counting agreement,
    * chance-corrected to 0, 1 = identical partitions. NMI = 2I/(H_a+H_b)
    * (arithmetic normalization): shared information fraction in [0,1].
    * Degenerate cases (a constant partition → H = 0; ARI's null model
    * collapsing, e.g. both sides all-singletons) emit null — the honest
    * fallback, not a forced 0/1.
    *
    * Scale shape: ONE data-sized pass builds the clustersA×clustersB
    * contingency (the [[cohenKappa]] shape); totals, marginals, and all
    * four index terms re-aggregate that bounded table. Pair counts
    * C(x,2) multiply as doubles (exact to 2^53; the ratio is immediate,
    * exactness beyond is not needed). */
  def clusterAgreement(df: DataFrame, colA: String, colB: String): DataFrame = {
    def comb2(c: Column): Column =
      c.cast("double") * (c - 1).cast("double") / 2.0
    val cont = df
      .select(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__cnt"))
      .cache()
    val margA = cont.groupBy(col("__a")).agg(sum(col("__cnt")).as("__ca"))
    val margB = cont.groupBy(col("__b")).agg(sum(col("__cnt")).as("__cb"))
    // I(A;B) folds from the same (Σ c ln c) partials: I = ln n +
    //   [Σ cij ln cij − Σ ca ln ca − Σ cb ln cb] / n  (all logs over
    // counts, no per-cell share division)
    val totals = cont.agg(sum(col("__cnt")).as("n"),
      sum(comb2(col("__cnt"))).as("__index"),
      sum(col("__cnt").cast("double") * log(col("__cnt"))).as("__hlc"))
    val aSide = margA.agg(count(lit(1)).as("n_clusters_a"),
      sum(comb2(col("__ca"))).as("__sa"),
      sum(col("__ca").cast("double") * log(col("__ca"))).as("__hla"))
    val bSide = margB.agg(count(lit(1)).as("n_clusters_b"),
      sum(comb2(col("__cb"))).as("__sb"),
      sum(col("__cb").cast("double") * log(col("__cb"))).as("__hlb"))
    totals.crossJoin(aSide).crossJoin(bSide)
      .withColumn("__nd", col("n").cast("double"))
      .withColumn("__ha", log(col("__nd")) - col("__hla") / col("__nd"))
      .withColumn("__hb", log(col("__nd")) - col("__hlb") / col("__nd"))
      .withColumn("__mi", log(col("__nd"))
        + (col("__hlc") - col("__hla") - col("__hlb")) / col("__nd"))
      .withColumn("__exp", col("__sa") * col("__sb") / comb2(col("n")))
      .withColumn("__max", (col("__sa") + col("__sb")) / 2.0)
      .select(col("n"), col("n_clusters_a"), col("n_clusters_b"),
        round(when(abs(col("__max") - col("__exp")) > 0,
          (col("__index") - col("__exp")) / (col("__max") - col("__exp"))),
          6).as("ari"),
        round(when(col("__ha") + col("__hb") > 0,
          lit(2.0) * col("__mi") / (col("__ha") + col("__hb"))),
          6).as("nmi"))
  }

  /** Burstiness audit: per-key variance-to-mean ratio (index of
    * dispersion) of the daily event-count series — a Poisson-stable feed
    * sits at VMR ≈ 1, VMR ≫ 1 marks bursty/batchy arrival (replayed
    * dumps, thundering herds) and VMR < 1 suspiciously regular (synthetic
    * traffic). Computed from plain integer sums (n, Σx, Σx²), which are
    * EXACT in doubles — the zscore determinism contract — with
    * singleton-day keys yielding null (var undefined).
    *
    * Scale shape: one (key, day) count aggregate then one key-level
    * aggregate, both map-side combined; nothing else moves. */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__x"))
    val st = daily.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_days"),
      sum(col("__x")).as("__s"),
      sum(col("__x") * col("__x")).as("__ss"))
    val n = col("n_days").cast("double")
    val mean = col("__s").cast("double") / n
    val varS = when(col("n_days") > 1,
      greatest((col("__ss").cast("double") - col("__s").cast("double") * mean)
        / (n - 1.0), lit(0.0)))
    st.select(col(keyCol), col("n_days"),
      round(mean, 6).as("mean_daily"),
      round(varS, 6).as("var_daily"),
      round(varS / mean, 6).as("vmr"))
  }

  /** Pearson χ² independence audit for two categorical columns — "is the
    * language mix the same across sources" as a single defensible number
    * per cell: E = row_total·col_total/N, contribution (O−E)²/E (written
    * as x·x, never pow). The per-cell grain keeps the interesting part —
    * WHICH cells drive the dependence — instead of only the summed
    * statistic; Σ chi2_contrib against χ²_{(r−1)(c−1)} is the test.
    *
    * Scale shape: ONE (a, b) count aggregate (map-side combined), then
    * two marginal re-aggregations of the CELL table (≤ |A|·|B| rows) and
    * broadcast joins back — the input never shuffles twice. Zero-count
    * cells are absent (their contribution E is still counted by the
    * margins; the summed statistic over present cells understates by
    * exactly Σ_absent E, negligible unless the table is mostly empty —
    * documented, deterministic). */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col(aCol)).agg(sum(col("n")).as("__ra"))
    val colTot = cells.groupBy(col(bCol)).agg(sum(col("n")).as("__cb"))
    val grand = cells.agg(sum(col("n")).as("__g"))
    val e = col("__ra").cast("double") * col("__cb") / col("__g")
    val dev = col("n").cast("double") - e
    cells
      .join(broadcast(rowTot), Seq(aCol))
      .join(broadcast(colTot), Seq(bCol))
      .crossJoin(broadcast(grand))
      .select(col(aCol), col(bCol), col("n"),
        round(e, 6).as("expected"),
        round(dev * dev / e, 6).as("chi2_contrib"))
  }

  /** Cramér's V (Cramér '46): the [0,1] effect size for a two-way
    * contingency — V = √(χ²/(n·(min(r,c)−1))) — the magnitude readout
    * [[chiSquareIndependence]]'s per-cell significance decomposition
    * doesn't give (on a large corpus EVERYTHING is significant; V says
    * whether the association is worth acting on: ~0.1 weak, ~0.3
    * moderate, ≥0.5 strong by the usual convention). One row:
    * dimensions, n, χ², V.
    *
    * Scale shape: ONE (a,b) cell aggregate, two marginal
    * re-aggregations, then the FULL r×c marginal grid (a bounded cross
    * join of the two marginal tables) left-joined with the observed
    * cells — unlike [[chiSquareIndependence]]'s per-cell decomposition
    * (which documents dropping absent cells), the SUMMED statistic must
    * count zero cells' (0−E)²/E = E mass or V loses its [0,1] anchor
    * (a perfect 2×2 association would score 1/√2, not 1 — spec-pinned).
    * Degenerate tables (r or c = 1 ⟹ no association to measure) yield
    * null V. Null categories are FILTERED (the anovaF/kruskalWallis
    * convention): an unfiltered null level would enter N and the
    * marginals but never match the grid's equi-join, double-counting
    * its expected mass as pure deviation while countDistinct excludes
    * it from r/c — a silently inflated (even >1) V. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col(aCol)).agg(sum(col("n")).as("__ra"))
    val colTot = cells.groupBy(col(bCol)).agg(sum(col("n")).as("__cb"))
    val grand = cells.agg(sum(col("n")).as("__g"),
      countDistinct(col(aCol)).as("__r"), countDistinct(col(bCol)).as("__c"))
    val e = col("__ra").cast("double") * col("__cb") / col("__g")
    val dev = coalesce(col("n"), lit(0L)).cast("double") - e
    rowTot.crossJoin(colTot)
      .join(cells, Seq(aCol, bCol), "left")
      .crossJoin(broadcast(grand))
      .groupBy(col("__g"), col("__r"), col("__c"))
      .agg(sum(dev * dev / e).as("__chi2"))
      .select(col("__r").as("n_rows_dim"), col("__c").as("n_cols_dim"),
        col("__g").as("n"),
        round(col("__chi2"), 6).as("chi2"),
        round(when(least(col("__r"), col("__c")) > 1,
          sqrt(col("__chi2") / (col("__g").cast("double")
            * (least(col("__r"), col("__c")) - 1).cast("double")))),
          6).as("cramers_v"))
  }

  /** Simpson's-paradox guard for a two-group rate comparison: the pooled
    * rate difference vs the stratum-size-weighted difference (the
    * crude/adjusted contrast of a stratified analysis — Cochran-style
    * direct standardization). When the two disagree in sign, the pooled
    * readout is confounded by the stratum mix and must not be shipped —
    * the classic kidney-stone/Berkeley failure, and the first sanity
    * gate on any segmented A/B metric. Emits one row per stratum (rates
    * + weight) plus the two aggregate contrasts and the flip flag on
    * every row.
    *
    * Scale shape: ONE (stratum × group) count aggregate with map-side
    * combine, then arithmetic over #strata rows — inputs never shuffle
    * beyond the aggregate. Integer counts; divisions forced to double. */
  def simpsonsCheck(df: DataFrame, groupCol: String, strataCol: String,
                    successCol: String, groupA: String,
                    groupB: String): DataFrame = {
    val cells = df
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(strataCol).as("stratum"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === groupA && col(successCol), 1L)
          .otherwise(0L)).as("s_a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(groupCol) === groupB && col(successCol), 1L)
          .otherwise(0L)).as("s_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val rA = col("s_a").cast("double") / col("n_a")
    val rB = col("s_b").cast("double") / col("n_b")
    val tot = cells.agg(
      sum(col("s_a")).as("__sa"), sum(col("n_a")).as("__na"),
      sum(col("s_b")).as("__sb"), sum(col("n_b")).as("__nb"),
      sum((rA - rB) * (col("n_a") + col("n_b")).cast("double")).as("__wd"),
      sum(col("n_a") + col("n_b")).as("__n"))
    val pooled = (col("__sa").cast("double") / col("__na")
      - col("__sb").cast("double") / col("__nb"))
    val weighted = col("__wd") / col("__n").cast("double")
    cells.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        round(rA, 6).as("rate_a"), round(rB, 6).as("rate_b"),
        round(pooled, 6).as("pooled_diff"),
        round(weighted, 6).as("weighted_diff"),
        (round(pooled, 6) * round(weighted, 6) < 0).as("sign_flip"))
  }

  /** Population stability index per bin — the standard model-monitoring
    * drift readout (banking scorecard lineage; conventional reading:
    * < 0.1 stable, 0.1–0.25 shifting, > 0.25 shifted). Per bin,
    * contribution = (p_ref − p_cur)·ln(p_ref/p_cur); the total PSI is the
    * sum over bins. Shares are Laplace-smoothed — p = (n + 0.5)/(N + k/2)
    * with k = #bins present in EITHER side — so a bin absent from one
    * side contributes a large-but-finite term instead of ±∞ (the
    * convention monitoring stacks use instead of dropping the bin, which
    * would hide exactly the drift being measured).
    *
    * Scale shape: one count aggregate per side (map-side combine), a
    * #bins-sized full-outer merge, and a 1-row totals broadcast — the
    * inputs are never shuffled beyond the two aggregates. */
  def psi(ref: DataFrame, cur: DataFrame, binCol: String): DataFrame = {
    val r = ref.groupBy(col(binCol)).agg(count(lit(1)).as("n_ref"))
    val c = cur.groupBy(col(binCol)).agg(count(lit(1)).as("n_cur"))
    val bins = r.join(c, Seq(binCol), "full")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val totals = bins.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"), count(lit(1)).as("__k"))
    val pRef = (col("n_ref") + lit(0.5)) / (col("__tr") + lit(0.5) * col("__k"))
    val pCur = (col("n_cur") + lit(0.5)) / (col("__tc") + lit(0.5) * col("__k"))
    bins.crossJoin(broadcast(totals))
      .select(col(binCol), col("n_ref"), col("n_cur"),
        round(pRef, 6).as("p_ref"),
        round(pCur, 6).as("p_cur"),
        round((pRef - pCur) * log(pRef / pCur), 6).as("psi_contrib"))
  }

  /** Theil–Sen robust trend + Mann–Kendall test per group over the daily
    * count series: sen_slope = median of all pairwise slopes
    * (Theil '50 / Sen '68 — a single crazy day cannot move it, unlike
    * OLS), mk_s = Σ sign(y_j − y_i) over i<j and kendall_tau =
    * S / (n(n−1)/2) (Mann '45 / Kendall — the distribution-free "is there
    * a monotone trend" test; S and τ are INTEGER-EXACT cross-engine, the
    * median interpolates identically-shaped lo + d·(hi−lo) in both).
    * The standard throughput-drift readout next to [[TimeSeries]]' CUSUM:
    * CUSUM localizes WHEN a shift happened, this says WHETHER a monotone
    * drift exists and how steep, robustly.
    *
    * Scale shape: the raw events collapse to the (group, day) grid FIRST
    * (one map-combined aggregate — the only corpus-sized pass); the
    * pairwise self-join runs on the day grid, whose size is bounded by
    * the calendar (≤366²/2 pairs per group-year), not the data. */
  def theilSenDaily(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__c"))
      .select(col(keyCol),
        datediff(col("__day"), lit("1970-01-01").cast("date"))
          .cast("double").as("__x"),
        col("__c").cast("double").as("__y"))
    val a = daily.select(col(keyCol), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = daily.select(col(keyCol), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val pairs = a.join(b, Seq(keyCol)).filter(col("__xa") < col("__xb"))
      .select(col(keyCol),
        ((col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
          .as("__slope"),
        when(col("__yb") > col("__ya"), 1L)
          .when(col("__yb") < col("__ya"), -1L)
          .otherwise(0L).as("__sgn"))
    pairs.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__sgn")).as("mk_s"),
      round(sum(col("__sgn")).cast("double") / count(lit(1)), 6)
        .as("kendall_tau"),
      round(expr("percentile(__slope, 0.5)"), 6).as("sen_slope"))
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack, WRR '84) over
    * per-key daily counts with day-of-week strata: S = Σ_dow S_dow,
    * where S_dow sums sgn(y_j − y_i) only over day pairs sharing a
    * weekday — so the weekly cycle that would flood plain MK with
    * within-week "trends" (Mon < Fri every week, forever) contributes
    * NOTHING, and only cross-week monotone drift counts. Per-stratum
    * tie-corrected variance [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 sums
    * across strata, and z carries the standard ±1 continuity
    * correction. Run it beside [[theilSenDaily]] whenever the series
    * has a weekly pulse — which event streams always do.
    *
    * S and the variance are INTEGER-EXACT cross-engine (unrounded);
    * only z's √ rounds. S = 0 → z = 0 by the continuity convention;
    * zero variance (all strata constant) → null z.
    *
    * Scale shape: the corpus collapses to the (key, day) grid first;
    * pair work is per (key, weekday) stratum — ≤ (days/7)² pairs per
    * stratum, calendar-bounded like the plain MK. */
  def seasonalMannKendall(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))
      .select(col(keyCol), dayofweek(col("__day")).as("__dow"),
        datediff(col("__day"), lit("1970-01-01").cast("date")).as("__x"),
        col("__y"))
      .cache()
    val a = daily.select(col(keyCol), col("__dow"), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = daily.select(col(keyCol), col("__dow"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val sPerKey = a.join(b, Seq(keyCol, "__dow"))
      .filter(col("__xa") < col("__xb"))
      .groupBy(col(keyCol))
      .agg(sum(when(col("__yb") > col("__ya"), 1L)
        .when(col("__yb") < col("__ya"), -1L).otherwise(0L)).as("s_stat"))
    val varPerStratum = daily.groupBy(col(keyCol), col("__dow"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__base", col("__n").cast("double") * (col("__n") - 1)
        * (lit(2.0) * col("__n") + 5))
    val tiesPerStratum = daily
      .groupBy(col(keyCol), col("__dow"), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col(keyCol), col("__dow"))
      .agg(sum(col("__t").cast("double") * (col("__t") - 1)
        * (lit(2.0) * col("__t") + 5)).as("__tcorr"))
    val varPerKey = varPerStratum
      .join(tiesPerStratum, Seq(keyCol, "__dow"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n_days"),
        (sum(col("__base") - col("__tcorr")) / 18.0).as("__var"))
    sPerKey.join(varPerKey, Seq(keyCol))
      .select(col(keyCol), col("n_days"), col("s_stat"),
        col("__var").as("var_s"),
        round(when(col("__var") > 0,
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("__var")))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") / sqrt(col("__var")))
            .otherwise(lit(0.0))), 6).as("z"))
  }

  /** Jensen–Shannon divergence per bin (nats) — the bounded, symmetric
    * companion to [[psi]]: per bin, ½p·ln(p/m) + ½q·ln(q/m) with
    * m = (p+q)/2; the total over bins lies in [0, ln 2], so thresholds
    * transfer across datasets (PSI's unbounded tail doesn't). No
    * smoothing is needed: m > 0 wherever either side has mass, and a
    * one-sided bin contributes the finite ½p·ln 2. The standard
    * distribution-shift readout for data-mixture work (cf. the JSD term
    * in GAN/mixture objectives, Lin '91 for the divergence itself).
    *
    * Scale shape: identical to [[psi]] — one count aggregate per side
    * (map-side combine), a #bins-sized full-outer merge, a 1-row totals
    * broadcast; inputs are never shuffled beyond the two aggregates.
    * Portability: two ln calls per bin on count-ratio doubles, 6dp-
    * rounded — see PORTABILITY.md (q_psi row; same margin). */
  def jsDivergence(ref: DataFrame, cur: DataFrame, binCol: String): DataFrame = {
    val r = ref.groupBy(col(binCol)).agg(count(lit(1)).as("n_ref"))
    val c = cur.groupBy(col(binCol)).agg(count(lit(1)).as("n_cur"))
    val bins = r.join(c, Seq(binCol), "full")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val totals = bins.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"))
    val p = col("n_ref").cast("double") / col("__tr")
    val q = col("n_cur").cast("double") / col("__tc")
    val m = (p + q) / lit(2.0)
    def half(x: Column): Column =
      when(x > lit(0.0), x * log(x / m) / lit(2.0)).otherwise(lit(0.0))
    bins.crossJoin(broadcast(totals))
      .select(col(binCol), col("n_ref"), col("n_cur"),
        round(p, 6).as("p_ref"),
        round(q, 6).as("p_cur"),
        round(half(p) + half(q), 6).as("jsd_contrib"))
  }

  /** Generic Gini index over (unit, value) rows per group — the
    * inequality readout [[graft.operators.TextAnalytics.giniConcentration]]
    * computes for token frequencies, generalized to ANY weighted units:
    * per-user event counts (bot/whale concentration), per-supplier
    * volume, per-domain crawl mass. Same sorted-rank mean-difference
    * form: G = 2·Σ(rᵢ·vᵢ)/(n·Σv) − (n+1)/n over ranks ascending by
    * (value, unit-tiebreak) — deterministic under ties, exact integers
    * into doubles before the closing divisions (the documented
    * giniConcentration overflow contract).
    *
    * Scale shape: one per-group rank window (group = analysis unit) +
    * ONE group aggregate. Zero-total or empty groups yield null.
    * Negative-value units are FILTERED: Gini is defined over
    * non-negative mass (the sorted-rank form yields G outside [0,1] on
    * signed values), so admitting them would break the documented [0,1]
    * contract silently — units with v < 0 are out of contract and
    * excluded from n_units/total like nulls. */
  def giniIndex(df: DataFrame, groupCol: String, unitCol: String,
                valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol).asc, col(unitCol).asc)
    df.filter(col(valCol).isNotNull && col(valCol) >= 0)
      .withColumn("__r", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_units"), sum(col(valCol)).as("total"),
        sum(col("__r").cast("double") * col(valCol)).as("__rf"))
      .select(col(groupCol), col("n_units"), col("total"),
        round(when(col("total") > 0,
          lit(2.0) * col("__rf")
            / (col("n_units").cast("double") * col("total").cast("double"))
            - (col("n_units") + 1).cast("double")
              / col("n_units").cast("double")), 6).as("gini"))
  }

  /** Pairwise Jensen–Shannon divergence matrix: for every unordered
    * pair of groups, the summed JSD between their `binCol`
    * distributions — [[jsDivergence]] (one ref vs one cur) lifted to
    * the all-pairs readout "which sources draw from the same mix"
    * (the distributional sibling of the token-overlap
    * q_source_similarity). Zero-share bins contribute the finite
    * ½p·ln 2 exactly as jsDivergence does; bounded [0, ln 2], so one
    * threshold transfers across corpora.
    *
    * Scale shape: ONE (group, bin) count aggregate collapses the
    * corpus; the pair work is a groups×groups self-join over the
    * BOUNDED share table (each side carrying its bins as a grid via
    * the per-group totals join), groups² × bins rows total — for
    * source/lang-sized domains, trivially small. */
  def jsdMatrix(df: DataFrame, groupCol: String,
                binCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(binCol))
      .agg(count(lit(1)).as("__n"))
    val totals = counts.groupBy(col(groupCol)).agg(sum(col("__n")).as("__t"))
    // cached: the bounded share table feeds the pair grid and both
    // sides of the per-pair bin union
    val shares = counts.join(totals, Seq(groupCol))
      .select(col(groupCol).as("__g"), col(binCol).as("__b"),
        (col("__n").cast("double") / col("__t").cast("double")).as("__p"))
      .cache()
    val grid = shares.select(col("__g").as("g_a")).distinct()
      .crossJoin(shares.select(col("__g").as("g_b")).distinct())
      .filter(col("g_a") < col("g_b"))
    // every (pair, bin) where EITHER side has mass, the other side
    // coalesced to 0 — the full-outer that gives one-sided bins their
    // finite ½p·ln 2 term
    val aBins = grid.join(shares.select(col("__g").as("g_a"), col("__b"),
      col("__p").as("__pa")), Seq("g_a"))
    val bBins = grid.join(shares.select(col("__g").as("g_b"), col("__b"),
      col("__p").as("__pb")), Seq("g_b"))
    val full = aBins.join(bBins, Seq("g_a", "g_b", "__b"), "full")
      .select(col("g_a"), col("g_b"),
        coalesce(col("__pa"), lit(0.0)).as("__pa"),
        coalesce(col("__pb"), lit(0.0)).as("__pb"))
    def half(x: Column, m: Column): Column =
      when(x > lit(0.0), x * log(x / m) / lit(2.0)).otherwise(lit(0.0))
    val m = (col("__pa") + col("__pb")) / lit(2.0)
    full
      .groupBy(col("g_a"), col("g_b"))
      .agg(round(sum(half(col("__pa"), m) + half(col("__pb"), m)), 6)
        .as("jsd"))
  }

  /** Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg,
    * JRSS-B'95) over a frame of hypotheses: per row, the BH rank, the
    * adjusted p-value p_adj(i) = min_{j≥i} m·p_(j)/j (the monotone
    * step-up form), and the rejection verdict p_adj ≤ α = 0.05. THE correction
    * to run over a battery of per-slice drift tests (KS per source, χ²
    * per segment): with m slices, per-test α lets ~m·α false alarms
    * through every run, while Bonferroni's α/m kills real drift — BH
    * bounds the expected false-discovery RATE at α with far more power.
    *
    * Determinism: the input p is rounded to 6 decimals BEFORE ranking
    * (so a cross-engine exp/erfc ulp cannot reorder ties), ranking
    * tie-breaks on `tieCols`, and p_adj is rounded before the ≤ α
    * comparison — verdicts are engine-stable end to end.
    *
    * Scale shape: m = number of HYPOTHESES (slices, not rows — dozens to
    * thousands), so the two unpartitioned windows (rank, suffix-min) run
    * over an m-row frame in one task BY DESIGN; aggregate row-grain data
    * to hypothesis grain first, never feed raw rows. */
  def bhAdjust(tests: DataFrame, pCol: String, tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tieCols.nonEmpty, "tieCols must make the hypothesis order total")
    val ord = col("__p").asc +: tieCols.map(col(_).asc)
    val wRank = Window.orderBy(ord: _*)
    val wSuffix = Window.orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests
      .withColumn("__p", round(col(pCol), 6))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("bh_rank", row_number().over(wRank))
      .withColumn("__stat",
        col("__m").cast("double") * col("__p") / col("bh_rank"))
      .withColumn("p_adj",
        round(least(min(col("__stat")).over(wSuffix), lit(1.0)), 6))
      .withColumn("significant", col("p_adj") <= lit(0.05))
      .drop("__p", "__m", "__stat")
  }

  /** Holm step-DOWN adjustment (public: Holm, Scand. J. Stat. '79) —
    * the FWER companion to [[bhAdjust]]'s FDR step-up: orders p
    * ascending and takes the running MAX of (m−rank+1)·p over the
    * PREFIX, clipped at 1 — controls the familywise error under
    * arbitrary dependence with zero distributional assumptions,
    * uniformly more powerful than plain Bonferroni. Use when ONE false
    * positive is unacceptable (release gates), BH/BY when a false
    * discovery RATE is the budget (monitoring sweeps).
    *
    * Same battery-sized shape as bhAdjust: one bounded window pass over
    * the test battery, never the data. */
  def holmAdjust(tests: DataFrame, pCol: String, tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tieCols.nonEmpty, "tieCols must make the hypothesis order total")
    val ord = col("__p").asc +: tieCols.map(col(_).asc)
    val wRank = Window.orderBy(ord: _*)
    val wPrefix = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests
      .withColumn("__p", round(col(pCol), 6))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("holm_rank", row_number().over(wRank))
      .withColumn("__stat",
        (col("__m") - col("holm_rank") + 1).cast("double") * col("__p"))
      .withColumn("p_adj",
        round(least(max(col("__stat")).over(wPrefix), lit(1.0)), 6))
      .withColumn("significant", col("p_adj") <= lit(0.05))
      .drop("__p", "__m", "__stat")
  }

  /** Augmented-free Dickey–Fuller unit-root screen per group (public:
    * Dickey & Fuller JASA'79, the lag-0 constant-mean form): regress
    * Δy_t on y_{t−1} over the daily count series; γ̂ near 0 (adf_stat
    * above the ~−2.9 critical region) means shocks PERSIST (unit root —
    * don't mean-revert this metric's alerting), strongly negative means
    * the series mean-reverts. The stationarity gate in front of the
    * drift monitors: CUSUM/EWMA baselines assume reversion this test
    * checks. Critical values are tabulated constants, deliberately not
    * emitted — the statistic is the comparable number.
    *
    * Scale shape: the [[theilSenDaily]] collapse — the corpus folds to
    * the bounded (group, day) grid in ONE map-combined aggregate; the
    * per-group calendar is DENSIFIED (zero-count days materialized from
    * min to max day, so lag(1) always pairs consecutive calendar days —
    * a true daily count series, ADVICE r12); the lag is a window over
    * the calendar-bounded grid; all OLS moments are EXACT integer sums
    * in decimal (counts are integers), so the statistic is
    * order-independent and engine-portable at any scale.
    * Groups need ≥ 3 days and non-constant y_{t−1}, else null. */
  def adfDaily(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__g"),
        date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))
    // densify: every calendar day in the group's [min, max] span, zero
    // where no events landed (bounded: groups x span days)
    val cal = observed.groupBy(col("__g"))
      .agg(min(col("__day")).as("__d0"), max(col("__day")).as("__d1"))
      .select(col("__g"), explode(sequence(col("__d0"), col("__d1"),
        expr("interval 1 day"))).as("__day"))
    val daily = cal.join(observed, Seq("__g", "__day"), "left")
      .na.fill(0L, Seq("__y"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__day"))
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val m = daily
      .withColumn("__x", lag(col("__y"), 1).over(w))
      .filter(col("__x").isNotNull)
      .withColumn("__dy", col("__y") - col("__x"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("__x"))).as("__sx"), sum(dec(col("__dy"))).as("__sy"),
        sum(dec(col("__x")) * dec(col("__dy"))).as("__sxy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
        sum(dec(col("__dy")) * dec(col("__dy"))).as("__syy"))
    val dn = dec(col("n_days"))
    val sxxc = (dn * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val sxyc = (dn * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val syyc = (dn * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val nd = col("n_days").cast("double")
    val gamma = sxyc / sxxc
    // SSE = Syy_c − γ̂·Sxy_c in (n-scaled)/n units; se² = (SSE/(n−2))/Sxx_c
    val sse = (syyc - gamma * sxyc) / nd
    val se = sqrt(sse / (nd - 2.0) / (sxxc / nd))
    m.select(col("__g").as(keyCol), col("n_days"),
      round(when(sxxc > 0, gamma), 6).as("gamma"),
      round(when(col("n_days") > 2 && sxxc > 0 && syyc - gamma * sxyc > 0,
        gamma / se), 6).as("adf_stat"))
  }

  /** Sharp regression-discontinuity jump estimate (public: Thistlethwaite
    * & Campbell '60; Imbens & Lemieux '08 practice): local linear fits
    * of y on (x − cutoff) on each side within `bandwidth`, jump = the
    * intercept gap at the cutoff — the causal-effect readout when
    * treatment switches at a threshold (spend tiers, score cutoffs,
    * rate limits). Rectangular kernel (the transparent default;
    * weighting is a caller-side transform).
    *
    * Scale shape: ONE aggregate per side over the bandwidth-filtered
    * rows; x and y quantize to exact 1e-2-unit integers so the OLS
    * moments are exact integer sums (order-independent, engine-portable
    * at any scale — the q1/anova convention); the closing algebra
    * rescales once. Sides need ≥ 2 rows and non-constant x, else null
    * columns. */
  def regressionDiscontinuity(df: DataFrame, xCol: String, yCol: String,
                              cutoff: Double, bandwidth: Double): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be > 0: $bandwidth")
    val dec = (c: Column) => c.cast("decimal(20,0)")
    // exact cent-units relative to the cutoff
    val xC = (round(col(xCol).cast("double") * lit(100.0))
      - lit(math.round(cutoff * 100.0))).cast("decimal(20,0)")
    val yC = round(col(yCol).cast("double") * lit(100.0)).cast("decimal(20,0)")
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        abs(col(xCol).cast("double") - lit(cutoff)) <= lit(bandwidth))
      .select((col(xCol).cast("double") >= lit(cutoff)).as("__right"),
        xC.as("__x"), yC.as("__y"))
    // ONE conditional aggregate carries both sides (a missing side
    // yields null columns, never an empty frame)
    def s(right: Boolean, e: Column) =
      sum(when(col("__right") === right, e).otherwise(dec(lit(0))))
    def n(right: Boolean) =
      sum(when(col("__right") === right, 1L).otherwise(0L))
    val m = base.agg(
      n(false).as("__nl"), s(false, col("__x")).as("__sxl"),
      s(false, col("__y")).as("__syl"),
      s(false, col("__x") * col("__y")).as("__sxyl"),
      s(false, col("__x") * col("__x")).as("__sxxl"),
      n(true).as("__nr"), s(true, col("__x")).as("__sxr"),
      s(true, col("__y")).as("__syr"),
      s(true, col("__x") * col("__y")).as("__sxyr"),
      s(true, col("__x") * col("__x")).as("__sxxr"))
    def fit(p: String): (Column, Column) = {
      val dn = dec(col(s"__n$p"))
      val den = (dn * col(s"__sxx$p") - col(s"__sx$p") * col(s"__sx$p"))
        .cast("double")
      val num = (dn * col(s"__sxy$p") - col(s"__sx$p") * col(s"__sy$p"))
        .cast("double")
      val slope = when(col(s"__n$p") > 1 && den > 0, num / den)
      val intercept = when(col(s"__n$p") > 1 && den > 0,
        (col(s"__sy$p").cast("double") - slope * col(s"__sx$p").cast("double"))
          / col(s"__n$p").cast("double") / 100.0)
      (slope, intercept)
    }
    val (sl, il) = fit("l")
    val (sr, ir) = fit("r")
    m.select(col("__nl").as("n_left"), col("__nr").as("n_right"),
      round(sl, 6).as("slope_left"),
      round(sr, 6).as("slope_right"),
      round(il, 6).as("intercept_left"),
      round(ir, 6).as("intercept_right"),
      round(ir - il, 6).as("rd_jump"))
  }

  /** Hellinger distance between a reference and a current categorical
    * distribution (public: Hellinger 1909): H = √(1 − BC) with the
    * Bhattacharyya coefficient BC = Σ√(p·q) — the bounded-metric drift
    * readout beside [[psi]]'s unbounded log form (H ∈ [0,1] is
    * comparable ACROSS metrics and needs no zero-bin smoothing: absent
    * bins contribute exactly 0). √ is IEEE-exact per cell and the fold
    * is over the bounded bin grid, so the 6dp round is stable at any
    * corpus size.
    *
    * Scale shape: two bin aggregates + one full outer join on the
    * bounded bin key, one closing fold. */
  def hellinger(ref: DataFrame, cur: DataFrame, binCol: String): DataFrame = {
    val r = ref.groupBy(col(binCol)).agg(count(lit(1)).as("__nr"))
    val c = cur.groupBy(col(binCol)).agg(count(lit(1)).as("__nc"))
    val bins = r.join(c, Seq(binCol), "full")
      .na.fill(0L, Seq("__nr", "__nc"))
    bins
      .agg(count(lit(1)).as("n_bins"),
        coalesce(sum(col("__nr")), lit(0L)).as("__tr"),
        coalesce(sum(col("__nc")), lit(0L)).as("__tc"),
        sum(sqrt(col("__nr").cast("double") * col("__nc")))
          .as("__sqSum"))
      .select(col("n_bins"), col("__tr").as("n_ref"), col("__tc").as("n_cur"),
        round(when(col("__tr") > 0 && col("__tc") > 0,
          col("__sqSum") / sqrt(col("__tr").cast("double") * col("__tc"))),
          6).as("bc_coef"),
        round(when(col("__tr") > 0 && col("__tc") > 0,
          sqrt(greatest(lit(0.0), lit(1.0)
            - col("__sqSum") / sqrt(col("__tr").cast("double")
              * col("__tc"))))), 6).as("hellinger"))
  }

  /** Benjamini–Yekutieli FDR adjustment (public: Benjamini & Yekutieli,
    * Ann. Stat. '01) — the [[bhAdjust]] step-up with the harmonic
    * correction c(m) = Σ_{i≤m} 1/i, valid under ARBITRARY dependence
    * among the hypotheses where plain BH assumes positive regression
    * dependence (correlated drift tests over overlapping windows, the
    * usual monitoring reality). p_adj = min over the suffix of
    * c(m)·m·p/rank; the power price is the ln(m)+γ factor.
    *
    * Same battery-sized shape as bhAdjust; the harmonic sum folds over
    * the SAME (p, tie) ordering in both engines (full-frame ordered
    * window), so the float fold is order-mirrored. */
  def byAdjust(tests: DataFrame, pCol: String, tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tieCols.nonEmpty, "tieCols must make the hypothesis order total")
    val ord = col("__p").asc +: tieCols.map(col(_).asc)
    val wRank = Window.orderBy(ord: _*)
    val wSuffix = Window.orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAllOrdered = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tests
      .withColumn("__p", round(col(pCol), 6))
      .withColumn("__m", count(lit(1)).over(wAllOrdered))
      .withColumn("by_rank", row_number().over(wRank))
      .withColumn("__cm",
        sum(lit(1.0) / col("by_rank").cast("double")).over(wAllOrdered))
      .withColumn("__stat", col("__cm") * col("__m").cast("double")
        * col("__p") / col("by_rank"))
      .withColumn("p_adj",
        round(least(min(col("__stat")).over(wSuffix), lit(1.0)), 6))
      .withColumn("significant", col("p_adj") <= lit(0.05))
      .drop("__p", "__m", "__cm", "__stat")
  }

  /** Dunn's post-hoc pairwise comparisons after [[kruskalWallis]]
    * (Dunn, Technometrics '64), with the tie-corrected variance and
    * BH-FDR adjustment over the pair battery: a significant H says
    * SOME group differs — Dunn says WHICH pairs, via
    * z_ij = (R̄_i − R̄_j)/√(σ²(1/n_i + 1/n_j)) on the pooled midranks,
    * σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1)). Pair p-values route through
    * [[bhAdjust]] (the repo's standard multiple-testing gate; Dunn's
    * original Bonferroni is strictly dominated by it).
    *
    * Normal tails use the Abramowitz–Stegun 7.1.26 polynomial
    * (|ε| < 1.5·10⁻⁷, far below the 6dp rounding), evaluated with the
    * IDENTICAL expression in the DuckDB oracle — the repo has no libm
    * erf dependency to diverge on.
    *
    * Scale shape: the [[kruskalWallis]] distinct-value midrank collapse
    * (one hash aggregate + one bounded value-grid window), a k-row
    * per-class fold, then a k²-row pair self-join and the m = k(k−1)/2
    * row BH windows — nothing row-sized past the first aggregate.
    * Mean ranks are exact rationals of midrank halves — UNROUNDED. */
  def dunnPostHoc(df: DataFrame, classCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the bounded (value, class) histogram feeds the midrank
    // grid, the per-class fold (both pair sides), and the tie fold —
    // uncached, each consumer re-scans the events (the plan audit
    // counted 5 scans)
    val vc = df
      .filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .select(round(col(valCol).cast("double"), 6).as("__s"),
        col(classCol).as("__g"))
      .groupBy(col("__s"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .cache()
    val perValue = vc.groupBy(col("__s")).agg(sum(col("__c")).as("__cv"))
    val grid = Prefix.cumBefore(perValue, Nil, "__s", Seq("__cv"),
        wide = Prefix.isWide(df))
      .select(col("__s"), col("__cv"),
        (col("__cb___cv").cast("double")
          + (col("__cv") + 1).cast("double") / 2.0).as("__mid"))
    val perClass = vc.join(grid, Seq("__s"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        (sum(col("__c").cast("double") * col("__mid"))
          / sum(col("__c")).cast("double")).as("__rbar"))
    val totals = grid.agg(sum(col("__cv")).as("__nn"),
      sum(col("__cv").cast("double") * col("__cv") * col("__cv")
        - col("__cv")).as("__t3"))
    val a = perClass.select(col("__g").as("group_a"), col("__n").as("n_a"),
      col("__rbar").as("mean_rank_a"))
    val b = perClass.select(col("__g").as("group_b"), col("__n").as("n_b"),
      col("__rbar").as("mean_rank_b"))
    val pairs = a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(totals))
      .withColumn("__nd", col("__nn").cast("double"))
      .withColumn("__s2", col("__nd") * (col("__nd") + 1) / 12.0
        - col("__t3") / (lit(12.0) * (col("__nd") - 1)))
      .withColumn("__z", when(col("__s2") > 0,
        (col("mean_rank_a") - col("mean_rank_b"))
          / sqrt(col("__s2") * (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double")))))
    // two-sided normal p = erfc(|z|/√2) via Abramowitz–Stegun 7.1.26,
    // mirrored verbatim in the oracle SQL
    val x = abs(col("__z")) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (((((lit(1.061405429) * t - 1.453152027) * t)
      + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t
    val scored = pairs
      .withColumn("p_value", round(when(col("__z").isNotNull,
        least(lit(1.0), poly * exp(-x * x))), 6))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("mean_rank_a"), col("mean_rank_b"),
        round(col("__z"), 6).as("z"), col("p_value"))
    bhAdjust(scored, "p_value", Seq("group_a", "group_b"))
  }

  /** Difference-in-differences (the 2×2 natural-experiment workhorse,
    * textbook form per Card & Krueger AER'94): with a treated and a
    * control arm each observed pre and post an intervention,
    * DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_control,post − ȳ_control,pre)
    * — the control arm's delta nets out the secular trend a naive
    * pre/post comparison would book as treatment effect. Completes the
    * experimentation battery next to [[welchTTest]] (no time structure)
    * and [[cupedAdjusted]] (variance reduction). Returns ONE row: the
    * four cell (n, mean), the DiD estimate, its unpooled standard error
    * √(Σ s²ᵢⱼ/nᵢⱼ), and the t statistic. A cell with n < 2 leaves
    * se/t null (variance undefined); an empty cell nulls the estimate —
    * the correct answer for a broken assignment, not a crash.
    *
    * Scale shape: ONE (arm, post) hash aggregate (4 cells, map-side
    * combined) + a 4-row pivot aggregate — nothing row-sized past the
    * first pass. */
  def diffInDiff(df: DataFrame, armCol: String, treatArm: String,
                 controlArm: String, postCol: String,
                 valCol: String): DataFrame = {
    require(treatArm != controlArm, "treat and control arms must differ")
    val v = col(valCol).cast("double")
    val cells = df.filter(v.isNotNull &&
        (col(armCol) === treatArm || col(armCol) === controlArm))
      .groupBy(col(armCol), col(postCol).cast("boolean").as("__post"))
      .agg(count(lit(1)).as("__n"), avg(v).as("__m"), var_samp(v).as("__s2"))
    def pick(c: String, arm: String, post: Boolean) =
      max(when(col(armCol) === arm && col("__post") === post, col(c)))
    val wide = cells.agg(
      pick("__n", treatArm, false).as("n_t_pre"),
      pick("__n", treatArm, true).as("n_t_post"),
      pick("__n", controlArm, false).as("n_c_pre"),
      pick("__n", controlArm, true).as("n_c_post"),
      pick("__m", treatArm, false).as("m_t_pre"),
      pick("__m", treatArm, true).as("m_t_post"),
      pick("__m", controlArm, false).as("m_c_pre"),
      pick("__m", controlArm, true).as("m_c_post"),
      pick("__s2", treatArm, false).as("__v_t_pre"),
      pick("__s2", treatArm, true).as("__v_t_post"),
      pick("__s2", controlArm, false).as("__v_c_pre"),
      pick("__s2", controlArm, true).as("__v_c_post"))
    val did = (col("m_t_post") - col("m_t_pre")) -
      (col("m_c_post") - col("m_c_pre"))
    val se = sqrt(col("__v_t_post") / col("n_t_post")
      + col("__v_t_pre") / col("n_t_pre")
      + col("__v_c_post") / col("n_c_post")
      + col("__v_c_pre") / col("n_c_pre"))
    wide
      .withColumn("did", round(did, 6))
      .withColumn("did_se", round(se, 6))
      .withColumn("t_stat",
        when(round(se, 6) > 0, round(did / se, 6)))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"),
        round(col("m_t_pre"), 6).as("m_t_pre"),
        round(col("m_t_post"), 6).as("m_t_post"),
        round(col("m_c_pre"), 6).as("m_c_pre"),
        round(col("m_c_post"), 6).as("m_c_post"),
        col("did"), col("did_se"), col("t_stat"))
  }

  /** Split-conformal prediction radius per group (public: Vovk et al.
    * '05; Lei et al. JASA'18 "Distribution-Free Predictive Inference"):
    * from a CALIBRATION set of residuals, the radius
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest |residual| — intervals
    * prediction ± q̂ then cover fresh points with probability ≥ 1−α
    * under exchangeability alone, no distributional assumption. THE
    * honest-uncertainty wrapper for any point predictor a pipeline
    * ships (quality scores, cost estimates); groups with
    * ⌈(n+1)(1−α)⌉ > n are too small to certify the level and report a
    * null radius (the correct answer, not a clamped one).
    *
    * α defaults to 0.125 — DYADIC, so (n+1)·(1−α) is an exact IEEE
    * product and the ceil is engine-portable for every n. The order
    * statistic is exact: the rank-r value is the smallest |resid| whose
    * inclusive cumulative count reaches r over the distinct-|resid|
    * grid — identical to a row_number probe (ties share a value, so tie
    * order can't change the selected radius).
    *
    * Scale shape (r16, the r15-verdict serial-cliff fix): residuals
    * collapse to distinct (group, |resid|) cells (one hash aggregate —
    * the old per-ROW row_number window sorted each group's full row set
    * in one task at any scale), cumulative counts come from the bucketed
    * prefix-sum over the cell grid, and the rank-r probe is a cumulative
    * count-range filter — work ∝ distinct cells, every sort parallel. */
  def conformalRadius(df: DataFrame, groupCol: String, residCol: String,
                      alpha: Double = 0.125): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    if (!Prefix.isWide(df)) {
      // bench-SF form: per-group row_number over the raw residuals —
      // one ≤k-task sort, faster than the grid machinery below while a
      // group's rows fit one scan split (interleaved A/B: the grid form
      // ran 1.4× here)
      val a = abs(col(residCol))
      val w = Window.partitionBy(col(groupCol)).orderBy(a.asc)
      val ranked = df.filter(col(residCol).isNotNull)
        .select(col(groupCol), a.as("__a"),
          row_number().over(w).cast("long").as("__rn"))
      val stats = ranked.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_cal"))
        .withColumn("rank_r",
          ceil((col("n_cal") + lit(1L)) * lit(1.0 - alpha)).cast("long"))
      val probe = ranked.select(col(groupCol).as("__g"), col("__rn"),
        col("__a"))
      stats
        .join(probe, col("__g") === col(groupCol) &&
          col("__rn") === col("rank_r"), "left")
        .select(col(groupCol), col("n_cal"), col("rank_r"),
          round(col("__a"), 6).as("radius"))
    } else {
      // wide form (r16, the r15-verdict serial-cliff fix): residuals
      // collapse to distinct (group, |resid|) cells, cumulative counts
      // come from the bucketed prefix-sum, and the rank-r probe is a
      // count-range filter — work ∝ distinct cells, every sort parallel
      // (the old per-ROW window sorts each group's full row set in ONE
      // task at any scale). The selected value is identical: the rank-r
      // order statistic is the smallest |resid| whose inclusive
      // cumulative count reaches r (ties share a value).
      val grid = df.filter(col(residCol).isNotNull)
        .groupBy(col(groupCol), abs(col(residCol)).as("__a"))
        .agg(count(lit(1)).as("__c"))
        // the bucketed-prefix branches make the cell grid
        // multi-consumer — pin it instead of re-running the corpus
        // aggregate per branch (multi-consumer rule)
        .localCheckpoint()
      val cum = Prefix.cumBefore(grid, Seq(groupCol), "__a", Seq("__c"),
        wide = true)
      val stats = grid.groupBy(col(groupCol))
        .agg(sum(col("__c")).as("n_cal"))
        .withColumn("rank_r",
          ceil((col("n_cal") + lit(1L)) * lit(1.0 - alpha)).cast("long"))
      // the rank-r row is the one whose count span covers rank_r:
      // cumBefore < rank_r ≤ cumBefore + count (≤1 match per group;
      // rank_r > n_cal → no match → null radius, groups too small to
      // certify the level)
      val probe = cum.select(col(groupCol).as("__g"), col("__a"),
        col("__c"), col("__cb___c"))
      stats
        .join(probe, col("__g") === col(groupCol) &&
          col("__cb___c") < col("rank_r") &&
          col("rank_r") <= col("__cb___c") + col("__c"), "left")
        .select(col(groupCol), col("n_cal"), col("rank_r"),
          round(col("__a"), 6).as("radius"))
    }
  }

  /** Per-group Spearman rank correlation (Spearman 1904): Pearson on
    * tie-averaged ranks — the monotone-association readout that survives
    * outliers and monotone transforms, the robust sibling of the raw
    * Pearson drift checks (a price column that went log-scaled keeps
    * ρ_s = 1 while Pearson craters). Tie handling is the standard
    * mid-rank: avg rank = min-rank + (|tie class| − 1)/2 — exact .5-step
    * doubles, engine-portable. ρ is composed as cov/(√vx·√vy) in the
    * SAME tree as [[Graph.assortativity]] (ANSI `corr` throws at zero
    * variance; this yields null instead), 6dp-rounded.
    *
    * Scale shape (re-shaped after the 100× soak): ranks are NEVER
    * assigned per row. Rows collapse to distinct (group, x, y) CELLS
    * (one hash aggregate); doubled midranks 2r = 2·cumBefore + t + 1
    * are EXACT INTEGERS from one cumulative window per axis over the
    * bounded per-group VALUE grid (the kruskalWallis trick — the old
    * per-row rank windows sorted every group's full row set in one
    * task, 80 s at the 100× tree); all five moments are exact integer
    * sums in decimal (the 2× scaling cancels in ρ), so the statistic
    * is order-independent and engine-portable at any scale. Work ∝
    * distinct cells — invariant under duplication. Null x or y rows
    * are excluded pairwise first, so ranks are over complete pairs. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val wide = Prefix.isWide(df)
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol).as("__grp"), col(xCol).as("__x"),
        col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
      // three consumers (two axis grids + the moment join): the
      // checkpoint beat cache() (concurrent first-scans recompute) and
      // plain recompute in median-of-3 at sf0.1 (2.6 / 3.4 / 3.1 s);
      // the ~2 s overhead vs the old single row-sort form is the price
      // of the 80.7 → 5.5 s win at the 100× tree
      .localCheckpoint()
    def axisRanks(vc: String, rn: String): DataFrame = {
      // r16: scale-adaptive bucketed prefix-sum instead of one window
      // partitioned by the ≤k-group key (≤k tasks at ANY scale — the
      // r15-verdict serial cliff). Plain single-window form at bench SF
      // (interleaved A/B measured the always-on bucketed form 1.19×
      // there); exact integer cumsums — identical bits on both paths.
      val grid = cells.groupBy(col("__grp"), col(vc))
        .agg(sum(col("__c")).as("__cv"))
      Prefix.cumBefore(grid, Seq("__grp"), vc, Seq("__cv"), wide = wide)
        .select(col("__grp"), col(vc),
          (col("__cb___cv") * 2L + col("__cv") + 1L).as(rn))
    }
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val m = cells
      .join(axisRanks("__x", "__rx2"), Seq("__grp", "__x"))
      .join(axisRanks("__y", "__ry2"), Seq("__grp", "__y"))
      .groupBy(col("__grp"))
      .agg(sum(col("__c")).as("n"),
        sum(dec(col("__c")) * dec(col("__rx2"))).as("__sx"),
        sum(dec(col("__c")) * dec(col("__ry2"))).as("__sy"),
        sum(dec(col("__c")) * dec(col("__rx2")) * dec(col("__ry2")))
          .as("__sxy"),
        sum(dec(col("__c")) * dec(col("__rx2")) * dec(col("__rx2")))
          .as("__sxx"),
        sum(dec(col("__c")) * dec(col("__ry2")) * dec(col("__ry2")))
          .as("__syy"))
    // ρ = (n·Sxy − Sx·Sy)/√((n·Sxx − Sx²)(n·Syy − Sy²)) — every operand
    // an exact integer (decimal), so both engines see identical bits
    val dn = dec(col("n"))
    val num = dn * col("__sxy") - col("__sx") * col("__sy")
    val dx = dn * col("__sxx") - col("__sx") * col("__sx")
    val dy = dn * col("__syy") - col("__sy") * col("__sy")
    m.select(col("__grp").as(groupCol), col("n"),
      when(dx > 0 && dy > 0,
        round(num.cast("double")
          / sqrt(dx.cast("double") * dy.cast("double")), 6))
        .as("spearman_rho"))
  }

  /** One-way ANOVA F (Fisher 1925): does a metric's MEAN differ across
    * k class populations? F = (SSB/(k−1)) / (SSW/(N−k)) with
    * SSB = Σ n_g (m_g − m̄)² and SSW = Σ (n_g − 1) v_g — the k-arm
    * generalization of [[welchTTest]] (two arms, k = 2, F = t²), the
    * first readout when an experiment or a corpus slice has MORE than
    * two populations and per-pair t-tests would need an FDR pass
    * ([[bhAdjust]]) before meaning anything. η² = SSB/SST is emitted as
    * the effect size (significance without magnitude is how tiny shifts
    * on huge corpora get over-reported).
    *
    * Scale shape: ONE (class) hash aggregate (count + two exact
    * integer sums over 1e-6-quantized values, all map-side combined)
    * + a k-row closing reduce — aggregates-only at any corpus size.
    * k < 2 classes or zero SSW yield null F (never NaN/∞); empty
    * input yields k = 0 with null statistics. */
  def anovaF(df: DataFrame, classCol: String, valCol: String): DataFrame = {
    // ORDER-INDEPENDENT construction (the standing-sf1-gate contract):
    // values quantize to exact 1e-6-unit integers, so every DATA-SIZED
    // aggregate below is an exact integer sum — invariant under
    // partition/file/merge order in BOTH engines (a raw double sum is
    // not: DuckDB's parallel aggregation over a multi-file layout was
    // measured run-to-run nondeterministic at 1 ulp, and at sf1
    // magnitudes round(·,6) is the identity, so a flap there reaches
    // the hash). Doubles appear only downstream of the exact integers:
    // per-group terms are identical IEEE expressions on both sides,
    // and the ONE order-sensitive reduction — Σ_g sx_g²/n_g over the
    // k-row group table — is an explicitly ORDERED left fold (sorted
    // by group key, mirrored by DuckDB list_reduce over a list(...
    // ORDER BY g)), so both engines add the same bits in the same
    // order. Quantization is semantics, not noise: analysis runs on
    // values rounded to 1e-6 (the kruskalWallis convention).
    val v = round(col(valCol).cast("double") * lit(1e6)).cast("decimal(20,0)")
    val perClass = df
      .filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(classCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"), sum(v).as("__sx"),
        sum(v * v).as("__sxx"))
    val tg = col("__sx").cast("double") * col("__sx").cast("double") /
      col("__n").cast("double")
    val folded = perClass
      .agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__sx")).as("__SX"), sum(col("__sxx")).as("__SXX"),
        // T = Σ_g sx_g²/n_g as an ordered fold: aggregate() over the
        // group-key-sorted list left-folds sequentially from 0.0
        // (0.0 + t₁ = t₁ exactly, matching DuckDB's first-element-init
        // list_reduce), so the fold order is pinned on both engines
        aggregate(array_sort(collect_list(struct(col("__g").as("g"),
            tg.as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__T"))
    // SSW = ΣΣx² − T and SSB = T − (Σx)²/N, all in 1e-12-scaled units;
    // the unit cancels inside F and η², and the SS columns rescale once
    val ssw = col("__SXX").cast("double") - col("__T")
    val ssb = col("__T") - col("__SX").cast("double") *
      col("__SX").cast("double") / col("n").cast("double")
    folded.select(col("k"), col("n"),
      round(when(col("k") > 0, ssb / lit(1e12)), 6).as("ss_between"),
      round(when(col("k") > 0, ssw / lit(1e12)), 6).as("ss_within"),
      round(when(col("k") > 1 && col("n") > col("k") && ssw > 0,
        (ssb / (col("k") - 1).cast("double"))
          / (ssw / (col("n") - col("k")).cast("double"))), 6)
        .as("f_stat"),
      round(when(col("k") > 0 && ssb + ssw > 0,
        ssb / (ssb + ssw)), 6).as("eta_sq"))
  }

  /** Kruskal–Wallis H (JASA 1952): the rank-based one-way ANOVA — does
    * a metric's DISTRIBUTION sit higher/lower across k classes, robust
    * to outliers and any monotone transform (the k-class sibling of
    * [[rocAuc]]'s Mann–Whitney core, exactly as [[spearman]] is the
    * robust sibling of Pearson). H = 12/(N(N+1)) Σ R_g²/n_g − 3(N+1)
    * over tie-averaged midranks, divided by the standard tie correction
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Scale shape: ranks are NEVER assigned per row — scores collapse to
    * per-(rounded value, class) counts first (ONE hash aggregate, the
    * [[rocAuc]] trick), midranks come from one cumulative window over
    * the bounded DISTINCT-VALUE grid, and rank sums are a k-row
    * aggregate. Midranks are exact half-integers and every sum is
    * integer/half-integer arithmetic until the closing divisions, so
    * the statistic is engine-portable. All-tied inputs (C = 0) and
    * k < 2 yield null. */
  def kruskalWallis(df: DataFrame, classCol: String, valCol: String): DataFrame = {
    val wide = Prefix.isWide(df)
    val vc0 = df
      .filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .select(round(col(valCol).cast("double"), 6).as("__s"),
        col(classCol).as("__g"))
      .groupBy(col("__s"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    // wide only: the bucketed-prefix branches make the cell grid
    // multi-consumer — checkpoint it once instead of re-deriving the
    // corpus aggregate per branch (multi-consumer rule); plain path
    // keeps the original two-consumer lineage uncheckpointed
    val vc = if (wide) vc0.localCheckpoint() else vc0
    val perValue = vc.groupBy(col("__s")).agg(sum(col("__c")).as("__cv"))
    // r16: scale-adaptive bucketed prefix-sum replaces the UNPARTITIONED
    // cumulative window over the distinct-value grid (1 task at any
    // scale — the r15-verdict serial cliff); plain single-window form at
    // bench SF. Exact integer cumsum: identical bits on both paths.
    val mid = col("__cb___cv").cast("double") +
      (col("__cv") + 1).cast("double") / 2.0
    val grid = Prefix.cumBefore(perValue, Nil, "__s", Seq("__cv"),
        wide = wide)
      .select(col("__s"), col("__cv"), mid.as("__mid"))
    val perClass = vc.join(grid, Seq("__s"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("double") * col("__mid")).as("__r"))
    // cube on DOUBLE: a Long cube wraps silently past ~2.1M-row tie
    // groups in non-ANSI Spark while DuckDB widens to HUGEINT; doubles
    // keep t^3 exact up to t ~ 2^(53/3) ~ 208k rows per tie group, and
    // past that carry only ~1e-16 relative error (absorbed by the 6dp
    // output rounding except at adversarial half-ulp boundaries) —
    // strictly better than the wrapping Long, and exact on every
    // realistic grouped-rank input; full exactness would need the
    // decimal(38,0) cube
    val ties = perValue
      .agg(sum(col("__cv").cast("double") * col("__cv") * col("__cv")
        - col("__cv")).as("__t3"))
    perClass
      .agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__r") * col("__r") / col("__n").cast("double"))
          .as("__rr"))
      .crossJoin(ties)
      .withColumn("__h",
        lit(12.0) / (col("n").cast("double") * (col("n") + 1).cast("double"))
          * col("__rr") - lit(3.0) * (col("n") + 1).cast("double"))
      .withColumn("__corr",
        lit(1.0) - col("__t3").cast("double")
          / (col("n").cast("double") * col("n").cast("double")
            * col("n").cast("double") - col("n").cast("double")))
      .select(col("k"), col("n"),
        round(when(col("k") > 1 && col("__corr") > 0,
          col("__h") / col("__corr")), 6).as("h_stat"),
        round(when(col("k") > 1 && col("__corr") > 0 && col("n") > col("k"),
          (col("__h") / col("__corr") - col("k") + 1)
            / (col("n") - col("k")).cast("double")), 6)
          .as("epsilon_sq"))
  }

  /** Mann–Whitney U test (Mann & Whitney '47) with the normal
    * approximation: U, the rank-biserial effect size r = 2·AUC − 1, and
    * the TIE-CORRECTED z statistic — the significance companion to
    * [[rocAuc]] (AUC = U/(n₊·n₋) is the same statistic rescaled; AUC
    * says how separable two populations are, z says whether that
    * separation survives the sample size). The standard two-sample
    * location test when normality is off the table.
    *
    * Same scale shape as rocAuc, sharing its per-DISTINCT-ROUNDED-SCORE
    * collapse: one hash aggregate, one bounded value-grid window, one
    * closing reduce. U is an exact half-integer (midrank sums); the
    * variance uses the standard tie correction
    * σ² = (n₊n₋/12)·((N+1) − Σ(t³−t)/(N(N−1))) — tie cubes computed on
    * doubles (exact to ~208k-row tie groups, ~1e-16 relative beyond,
    * absorbed by 6dp rounding; a Long cube would wrap past ~2.1M-row
    * ties). All-tied inputs (σ = 0) or an empty class yield null z. */
  def mannWhitney(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__ct", col("__cp") + col("__cn"))
    val mid = col("__cb___ct").cast("double") +
      (col("__ct") + 1).cast("double") / 2.0
    val agg = Prefix.cumBefore(perScore, Nil, "__s", Seq("__ct"),
        wide = Prefix.isWide(df))
      .withColumn("__mid", mid)
      .agg(sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"),
        sum(col("__mid") * col("__cp")).as("__rp"),
        // DOUBLE cube — same Long-wrap guard as kruskalWallis's __t3
        sum((col("__cp") + col("__cn")).cast("double")
          * (col("__cp") + col("__cn")) * (col("__cp") + col("__cn"))
          - (col("__cp") + col("__cn"))).as("__t3"))
    val n1 = col("n_pos").cast("double")
    val n2 = col("n_neg").cast("double")
    val nn = n1 + n2
    val u = col("__rp") - n1 * (n1 + 1.0) / 2.0
    val sigma2 = n1 * n2 / 12.0 *
      ((nn + 1.0) - col("__t3").cast("double") / (nn * (nn - 1.0)))
    agg.select(col("n_pos"), col("n_neg"),
      round(u, 6).as("u_stat"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0,
        lit(2.0) * (u / (n1 * n2)) - 1.0), 6)
        .as("rank_biserial"),
      round(when(col("n_pos") > 0 && col("n_neg") > 0 && sigma2 > 0,
        (u - n1 * n2 / 2.0) / sqrt(sigma2)), 6).as("z_stat"))
  }

  /** Ansari–Bradley two-sample SCALE test (public: Ansari & Bradley,
    * AMS'60) — are the two samples equally DISPERSED around a common
    * center? The rank-based sibling of [[leveneTest]]/[[brownForsythe]]
    * (no variance estimate, outlier-robust) and the scale counterpart
    * of [[mannWhitney]]'s location test: rank all N values, score each
    * row min(rank, N+1−rank) (small scores at the extremes, large in
    * the middle), and compare sample X's score mass T against its
    * permutation moments. Tied rows take the block-average score (the
    * midrank convention); the variance uses the general linear-rank
    * form Var = mn·(N·Σa² − (Σa)²)/(N²(N−1)), which IS the
    * tie-corrected AB variance.
    *
    * Scale shape: the [[rocAuc]] collapse — per-DISTINCT-ROUNDED-SCORE
    * class counts, ONE bounded value-grid window, then a grid
    * aggregate. A tie block's summed score mass S is a closed-form
    * arithmetic series in EXACT LONG arithmetic; T = Σ cp·S/sz folds
    * through an exact quotient/remainder split (Σq exact long, the
    * sub-1 remainders' double sum sits far below T's ulp), so the
    * statistic is order-independent and engine-portable at any corpus
    * size. Overflow contract: largest tie block sz must satisfy
    * sz²·(N+1)/2 < 2^63 (a ~1.7M-row tie block at N = 6M — far beyond
    * any real continuous score). */
  def ansariBradley(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__sz", col("__cp") + col("__cn"))
    val totals = perScore.agg(sum(col("__sz")).as("__N"))
    val blocks = Prefix.cumBefore(perScore, Nil, "__s", Seq("__sz"),
        wide = Prefix.isWide(df))
      .withColumn("__lo", col("__cb___sz"))
      .crossJoin(broadcast(totals))
      // block ranks [a, b]; scores min(r, m−r) with m = N+1 sum to an
      // exact two-piece arithmetic series split at k = ⌊m/2⌋
      .withColumn("__a", col("__lo") + 1L)
      .withColumn("__b", col("__lo") + col("__sz"))
      .withColumn("__m", col("__N") + 1L)
      .withColumn("__k", shiftright(col("__m"), 1))
      .withColumn("__hi1", least(col("__b"), col("__k")))
      .withColumn("__s1", when(col("__a") <= col("__hi1"),
        shiftright((col("__a") + col("__hi1"))
          * (col("__hi1") - col("__a") + 1L), 1)).otherwise(0L))
      .withColumn("__lo2", greatest(col("__a"), col("__k") + 1L))
      .withColumn("__s2", when(col("__lo2") <= col("__b"),
        shiftright((col("__m") * 2L - col("__lo2") - col("__b"))
          * (col("__b") - col("__lo2") + 1L), 1)).otherwise(0L))
      .withColumn("__S", col("__s1") + col("__s2"))
      // T = Σ cp·S/sz exactly: quotient in longs, remainders sub-1
      .withColumn("__p", col("__cp") * col("__S"))
      .withColumn("__q", expr("__p div __sz"))
      .withColumn("__r", pmod(col("__p"), col("__sz")))
    val agg = blocks.agg(
      sum(col("__cp")).as("n_x"), sum(col("__cn")).as("n_y"),
      max(col("__N")).as("__NN"),
      (sum(col("__q")).cast("double")
        + sum(col("__r").cast("double") / col("__sz").cast("double")))
        .as("__T"),
      sum(col("__S")).cast("double").as("__sa"),
      sum(col("__S").cast("double") / col("__sz").cast("double")
        * col("__S").cast("double")).as("__sa2"))
    val dm = col("n_x").cast("double")
    val dn = col("n_y").cast("double")
    val dN = col("__NN").cast("double")
    val e = dm * col("__sa") / dN
    val v = dm * dn * (dN * col("__sa2") - col("__sa") * col("__sa")) /
      (dN * dN * (dN - 1.0))
    agg.select(col("n_x"), col("n_y"),
      round(col("__T"), 6).as("ab_stat"),
      round(when(col("n_x") > 0 && col("n_y") > 0 && v > 0,
        (col("__T") - e) / sqrt(v)), 6).as("z_stat"))
  }

  /** Cumulative gains / lift curve (the classic marketing-response
    * readout, and for a corpus filter the review-budget planner): sort
    * by score DESCENDING, cut the population into `buckets` equal
    * slices, and report per slice the cumulative share of positives
    * captured and the lift over random targeting — "reviewing the
    * top-20% by classifier score catches 61% of the junk" is this
    * table's second row. The operating-point companion to [[rocAuc]]
    * (AUC integrates this curve; decisions happen at a budget).
    *
    * Scale shape: the [[rocAuc]] collapse — per-DISTINCT-ROUNDED-SCORE
    * class counts, ONE bounded value-grid window (descending), then a
    * bucket aggregate. A tie block spanning a bucket boundary lands in
    * the bucket of its LAST row (ties are indivisible — the standard
    * grouped-gains convention; bucket row counts can be uneven under
    * heavy ties and `n_rows` reports the truth). Exact integers to the
    * closing divisions, 6dp. */
  def gainCurve(df: DataFrame, scoreCol: String, labelCol: String,
                buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val perScore = perScoreCounts(df, scoreCol, labelCol)
      .withColumn("__ct", col("__cp") + col("__cn"))
    val totals = perScore.agg(sum(col("__ct")).as("__N"),
      sum(col("__cp")).as("__P"))
    val cum = Prefix.cumBefore(perScore, Nil, "__s", Seq("__cp", "__ct"),
        desc = true, wide = Prefix.isWide(df))
      .withColumn("__cumN", col("__cb___ct") + col("__ct"))
      .withColumn("__cumP", col("__cb___cp") + col("__cp"))
      .crossJoin(broadcast(totals))
      // bucket of the tie block's LAST row: ceil(cumN·buckets/N)
      .withColumn("bucket",
        ceil(col("__cumN").cast("double") * buckets
          / col("__N").cast("double")).cast("int"))
    cum.groupBy(col("bucket"))
      .agg(max(col("__cumN")).as("__bN"), max(col("__cumP")).as("__bP"),
        max(col("__N")).as("__N"), max(col("__P")).as("__P"))
      .select(col("bucket"),
        col("__bN").as("cum_rows"),
        col("__bP").as("cum_positives"),
        round(col("__bN").cast("double") / col("__N").cast("double"), 6)
          .as("population_share"),
        round(when(col("__P") > 0,
          col("__bP").cast("double") / col("__P").cast("double")), 6)
          .as("capture_share"),
        round(when(col("__P") > 0 && col("__bN") > 0,
          (col("__bP").cast("double") / col("__P").cast("double"))
            / (col("__bN").cast("double") / col("__N").cast("double"))), 6)
          .as("lift"))
  }

  /** Brown–Forsythe test (Brown & Forsythe JASA'74, the robust Levene
    * variant): are the SPREADS equal across k classes? Runs [[anovaF]]
    * on the absolute deviations from each class's MEDIAN — the
    * variance-equality gate that decides whether a pooled-variance
    * readout is even admissible, and by itself the "did the rollout
    * change volatility" monitor (a treatment that leaves the mean alone
    * but fattens the tails is invisible to [[welchTTest]] and flagged
    * here). Median-centering (vs Levene's mean) keeps the test honest
    * under the skewed distributions telemetry actually has.
    *
    * Scale shape: one per-class exact-percentile aggregate (per-class
    * value buffer — the bounded-group contract), a broadcast join of
    * the k-row median table back onto the input, then [[anovaF]]'s
    * single aggregate + k-row reduce. Same degenerate-input nulls as
    * anovaF. */
  def brownForsythe(df: DataFrame, classCol: String, valCol: String): DataFrame = {
    val medians = df
      .filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(classCol))
      .agg(expr(s"percentile($valCol, 0.5)").as("__med"))
    val centered = df
      .filter(col(classCol).isNotNull && col(valCol).isNotNull)
      .join(broadcast(medians), Seq(classCol))
      .select(col(classCol), abs(col(valCol) - col("__med")).as("__adev"))
    anovaF(centered, classCol, "__adev")
  }

  /** Quantile treatment effects (the Lehmann–Doksum quantile-difference
    * readout; standard distributional-A/B practice): per metric group,
    * the exact per-arm quantiles at each requested probability and
    * their difference — the distributional answer [[welchTTest]]'s mean
    * contrast can't give (a treatment that speeds up the median but
    * fattens p95 shows a near-zero mean shift and opposite-signed
    * QTEs). Pairs with [[mannWhitney]]: MW says the distributions
    * differ, QTE says WHERE.
    *
    * Scale shape: one (group, arm, value) histogram aggregate + one
    * (group, arm) frequency-weighted exact-percentile reduce over it
    * (buffer ∝ distinct values, never rows) + a self-join of the two
    * arm rows + a per-quantile explode of the BOUNDED quantile list. Quantile interpolation parity is the established
    * percentile/quantile_cont contract; values carry interpolation
    * floats, so the 6dp margin rule applies (PORTABILITY.md — these are
    * noise-carrying, not exact-integer-derived). Groups missing an arm
    * drop via the inner join. */
  def quantileTreatmentEffect(df: DataFrame, groupCol: String,
                              armCol: String, valCol: String,
                              armA: String, armB: String,
                              qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      s"quantiles must be in (0,1): $qs")
    val qArr = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
    // frequency-weighted exact percentile over a (group, arm, value)
    // histogram: interpolates bit-identically to the plain exact form
    // (spec-pinned) but the per-(group, arm) buffer holds one pair per
    // DISTINCT metric value, never the arm's row list — the histogram
    // itself is a map-side-combinable hash aggregate
    val stats = df
      .filter(col(armCol).isin(armA, armB) && col(valCol).isNotNull)
      .groupBy(col(groupCol), col(armCol), col(valCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(groupCol), col(armCol))
      .agg(sum(col("__cnt")).as("__n"),
        expr(s"percentile(__v, $qArr, __cnt)").as("__qv"))
    def arm(tag: String, a: String) = stats.filter(col(armCol) === a)
      .select(col(groupCol), col("__n").as(s"n_$tag"),
        col("__qv").as(s"__qv_$tag"))
    arm("a", armA).join(arm("b", armB), Seq(groupCol))
      .select(col(groupCol), col("n_a"), col("n_b"),
        posexplode(arrays_zip(col("__qv_a"), col("__qv_b"))))
      .select(col(groupCol), col("n_a"), col("n_b"),
        element_at(typedLit(qs), col("pos") + 1).as("q"),
        round(col("col.__qv_a"), 6).as("q_a"),
        round(col("col.__qv_b"), 6).as("q_b"),
        round(col("col.__qv_a") - col("col.__qv_b"), 6).as("qte"))
  }

  /** Cochran–Mantel–Haenszel pooled odds ratio (Mantel & Haenszel JNCI
    * 1959): the stratified 2×2 estimate OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)
    * — what you report INSTEAD of the crude pooled odds ratio when
    * [[simpsonsCheck]] flags confounding: each stratum contributes its
    * own 2×2 table, so a stratum-correlated exposure can no longer
    * manufacture (or hide) an association. Emitted beside the crude OR
    * so the confounding magnitude is the readout (crude ≈ MH ⇒ the
    * strata didn't matter; crude ≫/≪ MH ⇒ the pooled table was lying).
    *
    * Scale shape: ONE (stratum) hash aggregate of four conditional
    * counts + a #strata-row closing reduce; input never shuffles again.
    * All cell counts are exact integers; the per-stratum aᵢdᵢ/nᵢ terms
    * are the first float ops. Strata with n = 0 cannot occur (they have
    * no rows); a zero MH denominator yields null. */
  def mantelHaenszel(df: DataFrame, strataCol: String, armCol: String,
                     treatArm: String, outcomeCol: String): DataFrame = {
    val t = col(armCol) === treatArm
    val y = col(outcomeCol).cast("boolean")
    val cells = df
      .filter(col(strataCol).isNotNull && col(armCol).isNotNull &&
        y.isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(when(t && y, 1L).otherwise(0L)).as("__a"),
        sum(when(t && !y, 1L).otherwise(0L)).as("__b"),
        sum(when(!t && y, 1L).otherwise(0L)).as("__c"),
        sum(when(!t && !y, 1L).otherwise(0L)).as("__d"))
    val n = (col("__a") + col("__b") + col("__c") + col("__d"))
      .cast("double")
    cells
      .agg(count(lit(1)).as("n_strata"),
        sum(col("__a")).as("__ta"), sum(col("__b")).as("__tb"),
        sum(col("__c")).as("__tc"), sum(col("__d")).as("__td"),
        sum(col("__a").cast("double") * col("__d").cast("double") / n)
          .as("__mhNum"),
        sum(col("__b").cast("double") * col("__c").cast("double") / n)
          .as("__mhDen"))
      .select(col("n_strata"),
        round(when(col("__tb") * col("__tc") > 0,
          (col("__ta").cast("double") * col("__td").cast("double"))
            / (col("__tb").cast("double") * col("__tc").cast("double"))),
          6).as("or_crude"),
        round(when(col("__mhDen") > 0, col("__mhNum") / col("__mhDen")),
          6).as("or_mh"))
  }

  /** Intraclass correlation ICC(1) — one-way random effects (Shrout &
    * Fleiss, Psych. Bull. '79; unequal group sizes per Donner, Int.
    * Stat. Rev. '86): what share of total variance in a CONTINUOUS
    * measurement is BETWEEN groups — the reliability number for "do
    * repeated measurements of the same unit cluster" (same-user score
    * stability, same-document rescore consistency). From the one-way
    * ANOVA decomposition with J groups of sizes n_j, N = Σn_j:
    *   MSB = SSB/(J−1), MSW = SSW/(N−J),
    *   k₀  = (N − Σn_j²/N)/(J−1)            (average group size,
    *                                         unbalanced-design form)
    *   ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW)
    * Order-dependent float sums throughout → MSB/MSW/ICC rounded; k₀ is
    * an exact integer ratio composite but rounds with them for a
    * uniform contract (it mixes into the rounded ICC anyway).
    *
    * Shape: ONE per-group aggregate (n, Σy, Σy²) then one fold over the
    * J-row group table — SSW = Σ(Σy² − (Σy)²/n), SSB = Σ(Σy)²/n −
    * (ΣΣy)²/N — a single shuffle on the group key. Degenerate designs
    * (J < 2, N ≤ J, zero denominator) → null ICC. */
  def icc1(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val pg = df
      .filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(col(valCol).cast("double"))
        .as("__sy"), sum(col(valCol).cast("double")
        * col(valCol).cast("double")).as("__sy2"))
    val fold = pg.agg(count(lit(1)).as("__j"), sum(col("__n")).as("__nn"),
      sum(col("__sy")).as("__gsy"),
      sum(col("__sy") * col("__sy") / col("__n").cast("double"))
        .as("__sb"),
      sum(col("__sy2") - col("__sy") * col("__sy")
        / col("__n").cast("double")).as("__ssw"),
      sum(col("__n") * col("__n")).as("__sn2"))
    val ssb = col("__sb") - (col("__gsy") * col("__gsy")
      / col("__nn").cast("double"))
    val msb = ssb / (col("__j") - 1L).cast("double")
    val msw = col("__ssw") / (col("__nn") - col("__j")).cast("double")
    val k0 = ((col("__nn").cast("double")
      - col("__sn2").cast("double") / col("__nn").cast("double"))
      / (col("__j") - 1L).cast("double"))
    fold.select(col("__j").as("n_groups"), col("__nn").as("n_total"),
      round(when(col("__j") > 1L, msb), 6).as("msb"),
      round(when(col("__nn") > col("__j"), msw), 6).as("msw"),
      round(when(col("__j") > 1L, k0), 6).as("k0"),
      round(when(col("__j") > 1L && col("__nn") > col("__j") &&
        abs(msb + (k0 - 1.0) * msw) > 0.0,
        (msb - msw) / (msb + (k0 - 1.0) * msw)), 6).as("icc"))
  }

  /** Bartlett's test of equal variances (Bartlett, Proc. R. Soc. '37):
    * the LIKELIHOOD-RATIO rung beside [[leveneTest]] — more powerful
    * when the data really are normal, famously fragile when they are
    * not (kurtosis reads as variance heterogeneity; run both). With
    * pooled S_p² = Σ(n_j−1)S_j²/(N−k):
    *   T = (N−k)·ln S_p² − Σ(n_j−1)·ln S_j²
    *   C = 1 + [Σ 1/(n_j−1) − 1/(N−k)] / (3(k−1))
    *   stat = T/C ~ χ²_{k−1} under H₀.
    * S_j² via the (Σy² − (Σy)²/n)/(n−1) form mirrored verbatim in the
    * oracle; ln is libm and sums are order-dependent → stat rounded.
    * Groups with n_j < 2 or zero variance are DROPPED (their ln is
    * undefined; visible via k_groups), k < 2 → null.
    *
    * Shape: one per-group aggregate, one fold over the k-row table —
    * single shuffle on the group key. */
  def bartlettTest(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val pg = df
      .filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(v).as("__sy"),
        sum(v * v).as("__sy2"))
      .withColumn("__s2", (col("__sy2") - col("__sy") * col("__sy")
        / col("__n").cast("double")) / (col("__n") - 1L).cast("double"))
      .filter(col("__n") >= 2L && col("__s2") > 0.0)
    val fold = pg.agg(count(lit(1)).as("__k"), sum(col("__n")).as("__nn"),
      sum((col("__n") - 1L).cast("double") * col("__s2")).as("__pool"),
      sum((col("__n") - 1L).cast("double") * log(col("__s2")))
        .as("__slog"),
      sum(lit(1.0) / (col("__n") - 1L).cast("double")).as("__sinv"))
    fold.select(col("__k").as("k_groups"), col("__nn").as("n_total"),
      round(when(col("__k") >= 2L && col("__nn") > col("__k"), {
        val nk = (col("__nn") - col("__k")).cast("double")
        val t = nk * log(col("__pool") / nk) - col("__slog")
        val c = lit(1.0) + ((col("__sinv") - lit(1.0) / nk)
          / (lit(3.0) * (col("__k") - 1L).cast("double")))
        t / c
      }), 6).as("bartlett_stat"))
  }

  /** Levene's test of variance homogeneity (Levene '60; Brown & Forsythe
    * JASA '74 for the median-centered variant): are the k groups' SPREADS
    * equal — the assumption [[anova]] and Bartlett lean on, and a drift
    * alarm in its own right (a segment whose dispersion doubled is news
    * even when its mean held). Center each value within its group,
    * z_ij = |x_ij − c_j|, then one-way-ANOVA the z's:
    *   W = ((N−k)/(k−1)) · Σ_j n_j(z̄_j − z̄)² / Σ_ij (z_ij − z̄_j)²
    * Under H₀, W ~ F(k−1, N−k). `center`: "mean" (classic Levene; the
    * cross-engine-safe default here — group means are plain aggregates)
    * or "median" (Brown–Forsythe, more robust; uses exact percentile —
    * NOTE interpolated medians of continuous doubles are NOT pinned
    * bit-identical across engines, so oracle queries use "mean").
    * W and the z̄ columns carry order-dependent float sums → rounded.
    *
    * Shape: per-group center (one aggregate), broadcast-join the k-row
    * center table back, then ONE second aggregate for all sums — two
    * passes over the data, shuffle on the group key only, never a
    * row-level window. Emits one row per group plus the broadcast 1-row
    * (k, N, W) fit. */
  def leveneTest(df: DataFrame, groupCol: String, valCol: String,
                 center: String = "mean"): DataFrame = {
    require(center == "mean" || center == "median",
      s"center must be mean|median, got $center")
    val base = df
      .filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valCol).cast("double").as("__v"))
    val centers = base.groupBy(col("__g")).agg(
      (if (center == "mean") avg(col("__v"))
       else percentile(col("__v"), lit(0.5))).as("__c"))
    val z = base.join(broadcast(centers), Seq("__g"))
      .withColumn("__z", abs(col("__v") - col("__c")))
    val perGroup = z.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__z")).as("__sz"),
        sum(col("__z") * col("__z")).as("__sz2"))
      // feeds the grand fold AND the per-group output rows
      .cache()
    val fit = perGroup
      .withColumn("__zbar", col("__sz") / col("n").cast("double"))
      .agg(count(lit(1)).as("__k"), sum(col("n")).as("__nn"),
        sum(col("__sz")).as("__gsz"),
        sum(col("n").cast("double") * col("__zbar") * col("__zbar"))
          .as("__nzb2"),
        sum(col("__sz2") - col("n").cast("double") * col("__zbar")
          * col("__zbar")).as("__within"))
      .withColumn("__zg", col("__gsz") / col("__nn").cast("double"))
      // between = Σ n_j z̄_j² − N z̄², algebraically Σ n_j(z̄_j − z̄)²
      .withColumn("__between", col("__nzb2")
        - col("__nn").cast("double") * col("__zg") * col("__zg"))
      .select(col("__k").as("k_groups"), col("__nn").as("n_total"),
        round(when(col("__within") > 0 && col("__k") > 1,
          (col("__nn") - col("__k")).cast("double")
            / (col("__k") - 1).cast("double")
            * col("__between") / col("__within")), 6)
          .as("w_stat"))
    perGroup
      .select(col("__g").as(groupCol), col("n"),
        round(col("__sz") / col("n").cast("double"), 6)
          .as("z_mean"))
      .crossJoin(broadcast(fit))
  }

  /** Weighted Cohen's kappa (public: Cohen, Psych. Bull. '68) over
    * ORDINAL integer categories — partial credit for near-misses, the
    * right agreement measure when labels are a severity/quality scale
    * and confusing 4 with 3 is not as bad as 4 with 0. With
    * disagreement weights w_ij, κ_w = 1 − Σ n_ij·w_ij · n / Σ ĉ_i·ĉ_j·w_ij
    * (the marginal-product chance normalizer); emitted for BOTH the
    * linear (|i−j|) and quadratic ((i−j)²) weight families — quadratic
    * κ_w is the one equivalent to an ICC.
    *
    * Shape: the [[cohenKappa]] contingency collapse — ONE data-sized
    * pass to the labels² cell table (localCheckpointed: four bounded
    * consumers), then marginal folds and one labels²-sized weight cross
    * — never a data-sized pair. Observed disagreement sums are exact
    * longs; the chance side multiplies marginals as doubles (ĉ_i·ĉ_j
    * approaches n²). Constant identical labelings (zero chance
    * disagreement) yield null kappa. */
  def weightedKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cont = df
      .select(col(colA).cast("long").as("__a"), col(colB).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    val totals = cont.agg(coalesce(sum(col("__cnt")), lit(0L)).as("n"),
      coalesce(sum(col("__cnt") * abs(col("__a") - col("__b"))), lit(0L))
        .as("__dLin"),
      coalesce(sum(col("__cnt") * (col("__a") - col("__b"))
        * (col("__a") - col("__b"))), lit(0L)).as("__dQuad"))
    val margA = cont.groupBy(col("__a")).agg(sum(col("__cnt")).as("__ca"))
    val margB = cont.groupBy(col("__b")).agg(sum(col("__cnt")).as("__cb"))
    // labels² grid: bounded by the ordinal scale's cardinality, not data
    val ew = margA.crossJoin(margB)
      .agg(coalesce(sum(col("__ca").cast("double") * col("__cb")
        * abs(col("__a") - col("__b"))), lit(0.0)).as("__eLin"),
        coalesce(sum(col("__ca").cast("double") * col("__cb")
          * ((col("__a") - col("__b")) * (col("__a") - col("__b")))),
          lit(0.0)).as("__eQuad"))
    totals.crossJoin(ew).select(col("n"),
      round(when(col("__eLin") > 0, lit(1.0)
        - col("__dLin").cast("double") * col("n") / col("__eLin")),
        6).as("kappa_linear"),
      round(when(col("__eQuad") > 0, lit(1.0)
        - col("__dQuad").cast("double") * col("n") / col("__eQuad")),
        6).as("kappa_quadratic"))
  }

  /** Cochran–Mantel–Haenszel test (public: Mantel & Haenszel, JNCI '59;
    * Cochran '54) — IS there an exposure→outcome association after
    * stratifying, the significance rung beside the pooled-OR estimate
    * (mantelHaenszel) and the Simpson's-paradox screen: per 2×2 stratum
    * with a = n(1,1), E = r₁c₁/n, V = r₁r₀c₁c₀ / (n²(n−1)),
    * χ²_CMH = (|Σa − ΣE| − ½)² / ΣV on 1 df (continuity-corrected);
    * two-sided p = erfc(√χ²/√2) via the A&S 7.1.26 polynomial mirrored
    * verbatim in the oracle. Strata with n < 2 are dropped (V
    * undefined); ΣV = 0 yields null.
    *
    * Shape: ONE data-sized pass to per-stratum conditional counts
    * (integer-exact), then a strata-sized fold — the E/V float terms
    * sum over ≤ #strata rows, rounded 6dp. */
  def cmhTest(df: DataFrame, stratumCol: String, exposureCol: String,
              outcomeCol: String): DataFrame = {
    val cells = df
      .select(col(stratumCol).cast("string").as("__s"),
        col(exposureCol).cast("int").as("__e"),
        col(outcomeCol).cast("int").as("__o"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(when(col("__e") === 1 && col("__o") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("__a"),
        coalesce(sum(when(col("__e") === 1, 1L).otherwise(0L)), lit(0L))
          .as("__r1"),
        coalesce(sum(when(col("__o") === 1, 1L).otherwise(0L)), lit(0L))
          .as("__c1"))
      .filter(col("__n") >= 2)
    val nD = col("__n").cast("double")
    val folded = cells
      .select(col("__a"),
        (col("__r1").cast("double") * col("__c1") / nD).as("__ev"),
        (((col("__r1").cast("double") * (col("__n") - col("__r1")))
          * col("__c1")) * (col("__n") - col("__c1"))
          / ((nD * nD) * (nD - 1.0))).as("__vv"))
      .agg(count(lit(1)).as("n_strata"),
        coalesce(sum(col("__a")), lit(0L)).as("sum_a"),
        coalesce(sum(col("__ev")), lit(0.0)).as("__sumE"),
        coalesce(sum(col("__vv")), lit(0.0)).as("__sumV"))
    val chi = when(col("__sumV") > 0,
      greatest(abs(col("sum_a").cast("double") - col("__sumE")) - 0.5,
        lit(0.0))
        * greatest(abs(col("sum_a").cast("double") - col("__sumE")) - 0.5,
          lit(0.0)) / col("__sumV"))
    val x = sqrt(chi) / math.sqrt(2.0)
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (((((lit(1.061405429) * tt - 1.453152027) * tt)
      + 1.421413741) * tt - 0.284496736) * tt + 0.254829592) * tt
    folded.select(col("n_strata"), col("sum_a"),
      round(col("__sumE"), 6).as("sum_expected"),
      round(col("__sumV"), 6).as("sum_var"),
      round(chi, 6).as("chi2_cmh"),
      round(when(chi.isNotNull, least(lit(1.0), poly * exp(-x * x))),
        6).as("p_value"))
  }

  /** Weighted median (lower and upper) — the robust center of a
    * weighted population (row weights from dedup multiplicities,
    * sampling weights, quantities): the smallest value whose cumulative
    * weight reaches half the total. Emits BOTH conventions (lower:
    * 2·cum ≥ W; upper: 2·cum > W) — they differ exactly when the half
    * mass splits on a value boundary, and reporting both makes the
    * boundary case visible instead of convention-buried.
    *
    * Scale shape: ONE hash aggregate to the distinct-value grid with
    * exact LONG weight sums (weights cast to long — the integer-weight
    * contract; fractional weights should be pre-scaled), one bounded
    * cumulative window, two guarded mins. Exact integer comparisons
    * throughout (2·cum vs W) — engine-portable at any size. */
  def weightedMedian(df: DataFrame, valCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explicit floor BEFORE the long cast: Spark's cast("long") truncates
    // toward zero but DuckDB's CAST(.. AS BIGINT) rounds to nearest, so
    // fractional weights would silently disagree (ADVICE r12); floor()
    // is identical on both engines and a no-op for integral weights
    val wQuant = floor(col(weightCol).cast("double")).cast("long")
    val grid = df
      .filter(col(valCol).isNotNull && col(weightCol).isNotNull &&
        wQuant > 0)
      .groupBy(round(col(valCol).cast("double"), 6).as("__v"))
      .agg(sum(wQuant).as("__w"))
    // both cumulative forms run over the aggregate-collapsed value grid
    // (the mannWhitney/kendallW bounded-window contract), scale-adaptive
    Prefix.cumBefore(grid, Nil, "__v", Seq("__w"),
        wide = Prefix.isWide(df), withTotals = true)
      .withColumn("__cum", col("__cb___w") + col("__w"))
      .withColumn("__W", col("__tot___w"))
      .agg(coalesce(max(col("__W")), lit(0L)).as("total_weight"),
        count(lit(1)).cast("long").as("n_values"),
        min(when(col("__cum") * 2L >= col("__W"), col("__v")))
          .as("wm_lower"),
        min(when(col("__cum") * 2L > col("__W"), col("__v")))
          .as("wm_upper"))
  }

  /** First-order partial correlation r_xy·z (public: Yule 1907) — the
    * linear x–y association with z's influence removed:
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). The confounder screen
    * beside [[simpsons]]' categorical flag: "quantity and price
    * correlate — but does the correlation survive controlling for
    * discount?"
    *
    * Scale shape: ONE aggregate computing the three Pearson
    * correlations (corr is a ratio of co-moments, so its relative
    * error stays ~√n·ε regardless of magnitude — 6dp-stable at any
    * corpus size, the q_stats_agg-pinned parity) + scalar algebra.
    * Degenerate denominators (|r| = 1) yield null. */
  def partialCorr(df: DataFrame, xCol: String, yCol: String, zCol: String): DataFrame = {
    val a = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        corr(col(xCol), col(yCol)).as("__rxy"),
        corr(col(xCol), col(zCol)).as("__rxz"),
        corr(col(yCol), col(zCol)).as("__ryz"))
    val den = (lit(1.0) - col("__rxz") * col("__rxz")) *
      (lit(1.0) - col("__ryz") * col("__ryz"))
    a.select(col("n"),
      round(col("__rxy"), 6).as("r_xy"),
      round(col("__rxz"), 6).as("r_xz"),
      round(col("__ryz"), 6).as("r_yz"),
      round(when(den > 0,
        (col("__rxy") - col("__rxz") * col("__ryz")) / sqrt(den)),
        6).as("r_xy_given_z"))
  }

  /** Pearson χ² test of independence over an r×c contingency (public:
    * Pearson 1900) — the categorical association screen ("is event mix
    * independent of weekday", "is label independent of source").
    * χ² = Σ_full-grid (o−e)²/e with e_ij = ĉ_i·ĉ_j/n; ZERO cells
    * contribute their expected mass via the identity
    * Σ_unobserved e = n − Σ_observed e (the q_cramers_v full-grid
    * contract — an observed-cells-only sum understates χ²).
    * df = (r−1)(c−1).
    *
    * The p-value uses the EVEN-df closed form (the χ²_2m survival
    * function is a truncated Poisson sum): p = e^(−x/2) Σ_{j<m} (x/2)^j/j!
    * — built as an UNROLLED multiplication chain (t_j = t_{j−1}·h/j, no
    * pow), mirrored term-for-term in the oracle via lateral column
    * aliases, so both engines run the identical float sequence. Odd df
    * or df > 40 emit null p (stat and df still exact) — the honest
    * boundary, not a wrong approximation.
    *
    * Shape: the [[contingency]] cell table, then cells-sized folds. */
  def chiSquareTest(df: DataFrame, colA: String, colB: String): DataFrame = {
    val (totals, cells) = contingency(df, colA, colB)
    val obs = cells
      .agg(coalesce(sum((col("__od") - col("__e")) * (col("__od") - col("__e"))
        / col("__e")), lit(0.0)).as("__chiObs"),
        coalesce(sum(col("__e")), lit(0.0)).as("__eObs"))
    independenceRow(totals, obs, "__chi2",
      col("__chiObs") + (col("n").cast("double") - col("__eObs")), "chi2")
  }

  /** The r×c contingency of [[chiSquareTest]] and [[gTest]]: its totals
    * (n, r_levels, c_levels) and, per observed cell, the expected `__e`
    * and observed `__od` counts. ONE data-sized pass builds the cell
    * table, localCheckpointed: totals, marginals and the cell fold are
    * its bounded consumers. */
  private def contingency(df: DataFrame, colA: String,
                          colB: String): (DataFrame, DataFrame) = {
    val cont = df
      .select(col(colA).cast("string").as("__a"), col(colB).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__o"))
      .localCheckpoint()
    val totals = cont.agg(coalesce(sum(col("__o")), lit(0L)).as("n"),
      countDistinct(col("__a")).cast("long").as("r_levels"),
      countDistinct(col("__b")).cast("long").as("c_levels"))
    val margA = cont.groupBy(col("__a")).agg(sum(col("__o")).as("__ca"))
    val margB = cont.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val obs = cont.join(margA, Seq("__a")).join(margB, Seq("__b"))
      .crossJoin(broadcast(totals.select(col("n").as("__nn"))))
      .select((col("__ca").cast("double") * col("__cb") / col("__nn"))
        .as("__e"), col("__o").cast("double").as("__od"))
    (totals, obs)
  }

  /** One test row from the 1-row `totals` and statistic inputs `obs`:
    * size, levels, dof and `stat` (built as `tmp`, reported as `name`)
    * with its [[evenDfChi2P]] p-value. A vacuous contingency (empty or
    * all-null input) would otherwise emit a 0 statistic at dof = (0−1)·
    * (0−1) = 1, a valid-looking "perfect independence": n = 0 nulls the
    * statistic, dof and p instead, like the other degenerate boundaries
    * (odd df, df > 40). */
  private def independenceRow(totals: DataFrame, obs: DataFrame,
                              tmp: String, stat: Column, name: String): DataFrame =
    totals.crossJoin(obs)
      .withColumn("dof", when(col("n") > 0,
        (col("r_levels") - 1) * (col("c_levels") - 1)))
      .withColumn(tmp, when(col("n") > 0, stat))
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        round(col(tmp), 6).as(name),
        round(when(col(tmp).isNotNull,
          evenDfChi2P(col(tmp), col("dof"))), 6).as("p_value"))

  /** Survival P[χ²_df > x] for EVEN df in [2, 40] as the truncated
    * Poisson sum e^(−x/2)·Σ_{j<df/2}(x/2)^j/j!, built as an UNROLLED
    * multiplication chain t_j = t_{j−1}·h/j (no pow), mirrored
    * term-for-term in the oracles via lateral column aliases so both
    * engines run the identical float sequence. Odd df or df > 40 →
    * null (least() skips nulls in BOTH engines, so the clamp sits
    * INSIDE the even-df guard or an odd-df null would collapse to
    * 1.0). Shared by [[chiSquareTest]] and [[gTest]]. */
  private def evenDfChi2P(chi2: org.apache.spark.sql.Column,
                          dof: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val maxHalfDf = 20
    val h = chi2 * 0.5
    val m = dof / lit(2)
    val termCols = (1 until maxHalfDf).scanLeft(lit(1.0): org.apache.spark.sql.Column) {
      (t, j) => t * h / lit(j.toDouble)
    }
    val pSum = termCols.zipWithIndex.map { case (t, j) =>
      if (j == 0) t else when(lit(j.toDouble) < m, t).otherwise(lit(0.0))
    }.reduce(_ + _)
    when(dof % 2 === 0 && dof >= 2 && dof <= maxHalfDf * 2,
      least(lit(1.0), exp(-h) * pSum))
  }

  /** G-test of independence (public: the likelihood-ratio χ², Sokal &
    * Rohlf) — G = 2·Σ o·ln(o/e) over the r×c contingency, the additive
    * companion to [[chiSquareTest]]'s Pearson form: G decomposes
    * exactly across partitions of the table (sub-tests SUM to the
    * total, the property meta-analyses lean on) and is the better-
    * calibrated statistic when expected counts are small-ish. Zero
    * cells contribute 0 (the o·ln(o/e) limit), so only observed cells
    * fold; df = (r−1)(c−1) and the p-value shares [[evenDfChi2P]].
    *
    * Shape: the [[contingency]] and [[independenceRow]] it shares with
    * chiSquareTest, with the G fold between them. */
  def gTest(df: DataFrame, colA: String, colB: String): DataFrame = {
    val (totals, cells) = contingency(df, colA, colB)
    val obs = cells
      .agg(coalesce(sum(col("__od") * log(col("__od") / col("__e"))),
        lit(0.0)).as("__lSum"))
    independenceRow(totals, obs, "__g", lit(2.0) * col("__lSum"), "g_stat")
  }

  /** Grubbs' max-normed-residual outlier statistic per group (public:
    * Grubbs, Technometrics '69): G = max|y − ȳ| / s over the group's
    * daily count series — the "is the worst day a real outlier" screen
    * in front of alerting (compare G against the tabulated t-based
    * critical value for n; the statistic is the comparable number, the
    * table is a constant). Emits the arg-max day so the flagged
    * observation is actionable.
    *
    * Scale shape: the [[adfDaily]] collapse — the corpus folds to the
    * bounded (group, day) grid in ONE map-combined aggregate; moments
    * are EXACT integer sums in decimal, and the arg-max runs on the
    * exact integer |n·y − Σy| (no float under the max, day tie → the
    * earliest day), so the statistic is order-independent and
    * engine-portable at any scale. Groups need ≥ 3 days and
    * non-constant counts, else a null statistic. */
  def grubbsDaily(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = (c: Column) => c.cast("decimal(20,0)")
    val daily = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__g"),
        date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))
    // group moments ride along every grid row via a bounded window over
    // the calendar-sized grid (the kendallW totals-frame pattern), so
    // the exact arg-max folds in the SAME aggregate as the moments
    val w = Window.partitionBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val m = daily
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sy", sum(dec(col("__y"))).over(w))
      .withColumn("__syy", sum(dec(col("__y")) * dec(col("__y"))).over(w))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n_days"),
        max(col("__sy")).as("__sy"), max(col("__syy")).as("__syy"),
        max(struct(
          abs(dec(col("__y")) * dec(col("__n")) - col("__sy")).as("__sdev"),
          (lit(0L) - unix_micros(col("__day"))).as("__nt"),
          col("__day").as("__d"))).as("__top"))
    val dn = dec(col("n_days"))
    val ssn = (dn * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val nd = col("n_days").cast("double")
    val sSample = sqrt(ssn / nd / (nd - 1.0))
    m.select(col("__g").as(keyCol), col("n_days"),
      col("__top").getField("__d").as("worst_day"),
      round(when(col("n_days") > 2 && ssn > 0,
        col("__top").getField("__sdev").cast("double") / nd / sSample),
        6).as("g_stat"))
  }

  /** Paired sign test per user (public: Arbuthnott 1710 by way of every
    * nonparametrics text): split each user's events at the midpoint of
    * their own [first, last] span and compare ACTIVITY (event counts)
    * between the halves — the direction-only answer to "did engagement
    * rise or fall within user", robust to any value distribution. Emits
    * plus/minus/tie counts and the normal-approximation
    * z = (n⁺ − n⁻)/√(n⁺ + n⁻).
    *
    * Scale shape: one |V|-row span aggregate, one shuffle-hash join
    * back onto the stream, one counting aggregate — every input to z is
    * an exact integer (midpoint compared as 2·us ≤ lo + hi in exact
    * micros; boundary events land in the first half on both engines).
    * Single-event users are − signs by construction (n₁ = 1, n₂ = 0 →
    * n₂ − n₁ < 0); callers wanting them out filter upstream. */
  def signTestHalves(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val spans = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(min(us).as("__lo"), max(us).as("__hi"))
    val halves = events
      .filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), us.as("__us"))
      .join(spans.hint("shuffle_hash"), Seq("__u"))
      .groupBy(col("__u"))
      .agg(
        sum(when(col("__us") * 2 <= col("__lo") + col("__hi"), 1L)
          .otherwise(0L)).as("__n1"),
        sum(when(col("__us") * 2 > col("__lo") + col("__hi"), 1L)
          .otherwise(0L)).as("__n2"))
      .select(col("__u"),
        signum((col("__n2") - col("__n1")).cast("double")).cast("int")
          .as("__sign"))
    halves
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("__sign") === 1, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("__sign") === -1, 1L).otherwise(0L)).as("n_minus"),
        sum(when(col("__sign") === 0, 1L).otherwise(0L)).as("n_tie"))
      .select(col("n_users"), col("n_plus"), col("n_minus"), col("n_tie"),
        round(when(col("n_plus") + col("n_minus") > 0,
          (col("n_plus") - col("n_minus")).cast("double")
            / sqrt((col("n_plus") + col("n_minus")).cast("double"))),
          6).as("z_stat"))
  }

  /** Mood's median test (public: Mood 1950): the 2 × k contingency of
    * per-group counts strictly above vs at-or-below the GLOBAL median,
    * with the chi-square statistic — the coarse "do these groups share
    * a center" screen that stays valid under wildly non-normal values
    * (it uses only position relative to one global cut).
    *
    * Scale shape: the [[weightedMedian]] grid gives the global lower
    * median from ONE distinct-value aggregate + a bounded cumulative
    * window; the contingency is a second small aggregate; chi² is exact
    * integer O/E arithmetic in doubles. Ties sit in the at-or-below
    * row on both engines (6dp-rounded values, exact comparisons). */
  def moodsMedianTest(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = round(col(valCol).cast("double"), 6)
    val base = df.filter(col(valCol).isNotNull && col(groupCol).isNotNull)
    val grid = base.groupBy(v.as("__v")).agg(count(lit(1)).as("__w"))
    val med = Prefix.cumBefore(grid, Nil, "__v", Seq("__w"),
        wide = Prefix.isWide(df), withTotals = true)
      .withColumn("__cum", col("__cb___w") + col("__w"))
      .withColumn("__W", col("__tot___w"))
      .agg(min(when(col("__cum") * 2 >= col("__W"), col("__v")))
        .as("__med"))
    // the contingency CARRIES the median and is localCheckpoint'd: the
    // three downstream consumers (margins, chi2, final select) would
    // otherwise each re-derive the corpus-sized base + median lineage
    // (PlanAuditSpec multi-consumer rule — it caught a 5x events scan
    // in this operator's first shape)
    val cont = base
      .crossJoin(broadcast(med))
      .groupBy(col(groupCol).as("__g"))
      .agg(sum(when(v > col("__med"), 1L).otherwise(0L)).as("n_above"),
        sum(when(v <= col("__med"), 1L).otherwise(0L)).as("n_at_or_below"),
        max(col("__med")).as("__medv"))
      .localCheckpoint()
    val tot = cont.agg(sum(col("n_above")).as("__ta"),
      sum(col("n_at_or_below")).as("__tb"),
      count(lit(1)).as("k_groups"),
      max(col("__medv")).as("__gmed"))
    val chi = cont.crossJoin(broadcast(tot))
      .select(col("k_groups"), col("__gmed"),
        ((col("n_above") + col("n_at_or_below")).cast("double")
          * col("__ta") / (col("__ta") + col("__tb"))).as("__ea"),
        ((col("n_above") + col("n_at_or_below")).cast("double")
          * col("__tb") / (col("__ta") + col("__tb"))).as("__eb"),
        col("n_above"), col("n_at_or_below"))
      .agg(max(col("k_groups")).as("k_groups"),
        max(col("__gmed")).as("__gmed"),
        sum(col("n_above") + col("n_at_or_below")).as("n"),
        sum(when(col("__ea") > 0,
          (col("n_above") - col("__ea")) * (col("n_above") - col("__ea"))
            / col("__ea")).otherwise(0.0)
          + when(col("__eb") > 0,
            (col("n_at_or_below") - col("__eb"))
              * (col("n_at_or_below") - col("__eb")) / col("__eb"))
            .otherwise(0.0)).as("__chi"))
    chi.select(col("n"), col("k_groups"), col("__gmed").as("global_median"),
      (col("k_groups") - 1).cast("long").as("dof"),
      round(when(col("k_groups") > 1, col("__chi")), 6)
        .as("chi2"))
  }

  /** Matthews correlation coefficient (public: Matthews '75, the
    * binary-classification standard beside κ) plus the confusion-matrix
    * readouts a filter gate actually tunes on: accuracy, precision,
    * recall, F1. Unlike accuracy, MCC only rewards a classifier that is
    * right on BOTH classes — the balanced one-number verdict for a
    * quality/lang filter where the positive class is a minority.
    *
    * `positive` defines the positive class in BOTH columns; any other
    * (non-null) value is negative. Output is one row of exact-integer
    * confusion counts; MCC's denominator is computed as a product of
    * four square roots (√a·√b·√c·√d) rather than √(a·b·c·d) — the
    * four-factor product overflows a long at ~60k rows and loses
    * integer exactness as a double, while each factor alone stays
    * exact well past 10¹⁵ rows. Degenerate margins (any factor 0) →
    * null MCC, per the standard convention. */
  def matthewsCorr(df: DataFrame, labelCol: String, predCol: String,
                   positive: String): DataFrame = {
    val lab = col(labelCol) === positive
    val prd = col(predCol) === positive
    val cm = df
      .filter(col(labelCol).isNotNull && col(predCol).isNotNull)
      .agg(sum(when(lab && prd, 1L).otherwise(0L)).as("tp"),
        sum(when(!lab && prd, 1L).otherwise(0L)).as("fp"),
        sum(when(lab && !prd, 1L).otherwise(0L)).as("fn"),
        sum(when(!lab && !prd, 1L).otherwise(0L)).as("tn"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val num = (d38(col("tp")) * d38(col("tn"))
      - d38(col("fp")) * d38(col("fn"))).cast("double")
    val den = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + col("fn")).cast("double")) *
      sqrt((col("tn") + col("fp")).cast("double")) *
      sqrt((col("tn") + col("fn")).cast("double"))
    val n = (col("tp") + col("fp") + col("fn") + col("tn")).cast("double")
    cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(when(n > 0, (col("tp") + col("tn")).cast("double") / n),
        6).as("accuracy"),
      round(when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")),
        6).as("precision"),
      round(when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")),
        6).as("recall"),
      round(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2L) * col("tp")).cast("double")
          / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")),
        6).as("f1"),
      round(when(den > 0, num / den), 6).as("mcc"))
  }

  /** Two-sample Hodges–Lehmann location shift (public: Hodges & Lehmann
    * '63) — the median of ALL pairwise differences x_i − y_j between the
    * two samples: the robust, distribution-free companion to
    * [[mannWhitney]] (MW answers "is there a shift?", HL answers "how
    * big is it?"), resistant to outliers where mean-difference is not.
    *
    * Scale shape: each sample collapses to its distinct-VALUE histogram
    * first, so the "all n_a·n_b pairwise differences" are generated as a
    * V_a×V_b value grid with multiplicity c_a·c_b — never a row-level
    * cross join (the [[mannWhitney]]/spearman grid discipline: under the
    * verbatim-duplication regime of a 100 TB corpus V stays constant
    * while n grows 100×). The weighted median over the difference grid
    * uses the same lower/upper convention as [[weightedMedian]]
    * (cum·2 ≥/> W), reported as both bounds plus their midpoint. Pair
    * weights c_a·c_b and the total n_a·n_b stay in exact longs
    * (≤ 9·10¹⁵ at 60M rows/side). */
  def hodgesLehmannShift(df: DataFrame, classCol: String, valCol: String,
                         classA: String, classB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def grid(cls: String, v: String, c: String): DataFrame = df
      .filter(col(classCol) === cls && col(valCol).isNotNull)
      .groupBy(col(valCol).cast("double").as(v))
      .agg(count(lit(1)).as(c))
    // V_b distinct values broadcast: the difference grid is a broadcast
    // nested loop over two value histograms, never a row-level shuffle
    val diffs = grid(classA, "__va", "__ca")
      .crossJoin(broadcast(grid(classB, "__vb", "__cb")))
      .groupBy(round(col("__va") - col("__vb"), 6).as("__d"))
      .agg(sum(col("__ca") * col("__cb")).as("__w"))
    Prefix.cumBefore(diffs, Nil, "__d", Seq("__w"),
        wide = Prefix.isWide(df), withTotals = true)
      .withColumn("__cum", col("__cb___w") + col("__w"))
      .withColumn("__W", col("__tot___w"))
      .agg(coalesce(max(col("__W")), lit(0L)).as("n_pairs"),
        count(lit(1)).cast("long").as("n_diffs"),
        min(when(col("__cum") * 2L >= col("__W"), col("__d")))
          .as("hl_lower"),
        min(when(col("__cum") * 2L > col("__W"), col("__d")))
          .as("hl_upper"))
      .withColumn("hl_shift",
        round((col("hl_lower") + col("hl_upper")) / 2.0, 6))
  }

  /** Chatterjee's ξ rank correlation (public: Chatterjee, JASA '21
    * "A new coefficient of correlation") per group — detects ANY
    * functional dependence of y on x (not just monotone, Spearman's
    * blind spot): ξ→1 iff y is a measurable function of x, ξ≈0 under
    * independence. General tie-aware form:
    *   ξ = 1 − n·Σᵢ|r_{i+1} − r_i| / (2·Σᵢ lᵢ(n − lᵢ)),
    * rows sorted by x, r_i = #{j: y_j ≤ y_i}, l_i = #{j: y_j ≥ y_i}.
    *
    * Deterministic variant: the published estimator breaks x-ties
    * uniformly at random; here x-ties are ordered by y ascending — the
    * canonical order that MINIMIZES Σ|Δr| within each tie run — so the
    * result is a pure function of the data (the oracle-checkable choice,
    * same spirit as pageRank's fixed iteration count). Documented
    * consequence: with heavy x-ties this reads as an upper-bound
    * estimate vs the randomized form.
    *
    * Scale shape: the y-order sweep NEVER sorts rows. Within an x-run
    * sorted by y, r is nondecreasing, so Σ|Δr| telescopes to
    * cum(y_max) − cum(y_min); across runs the boundary contributes
    * |cum(y_min^{next}) − cum(y_max^{prev})|. Both need only the
    * per-(x,y)-CELL grid joined to the y-value CDF — distinct-value
    * collapse (the spearman r12 lesson), windows over the cell grid
    * only. All counts exact integers (decimal(38,0) for the l(n−l)
    * mass); the single division happens once at the end. */
  def chatterjeeXi(df: DataFrame, groupCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val wide = Prefix.isWide(df)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    // y-value CDF per group: cum = #{y' <= y}, l = n - cum + cy
    val yGrid = base.groupBy(col("__g"), col("__y"))
      .agg(count(lit(1)).as("__cy"))
    // r16: scale-adaptive bucketed prefix-sum replaces the ≤k-task
    // cumulative window AND the whole-group total window (both
    // partitioned only by the group key — the r15-verdict serial cliff);
    // plain single-window form at bench SF (always-on A/B'd 1.72×).
    // Inclusive cum = exclusive + own count; exact integers both paths.
    val yCdf = Prefix.cumBefore(yGrid, Seq("__g"), "__y", Seq("__cy"),
        wide = wide, withTotals = true)
      .withColumn("__cum", col("__cb___cy") + col("__cy"))
      .withColumn("__n", col("__tot___cy"))
      .select(col("__g"), col("__y"), col("__cy"), col("__cum"), col("__n"))
      // the CDF feeds the denominator fold AND the cell join below —
      // localCheckpoint or the data-sized grid aggregate re-runs twice
      .localCheckpoint()
    val denom = yCdf
      .select(col("__g"), col("__n"),
        (dec(col("__cy")) * dec(col("__n") - col("__cum") + col("__cy"))
          * dec(col("__n") - (col("__n") - col("__cum") + col("__cy"))))
          .as("__mass"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("__n"), sum(col("__mass")).as("__den"))
    // per-(x,y) cells carry the y-CDF; per-x runs keep only the cum at
    // their min/max y (cum is monotone in y, so min/max cum suffice)
    val cells = base.groupBy(col("__g"), col("__x"), col("__y"))
      .agg(count(lit(1)).as("__c"))
      .join(yCdf.select(col("__g"), col("__y"), col("__cum")),
        Seq("__g", "__y"))
    val runs = cells.groupBy(col("__g"), col("__x"))
      .agg(min(col("__cum")).as("__lo"), max(col("__cum")).as("__hi"))
    // r16: scale-adaptive bucketed lag replaces the ≤k-task x-sweep
    // window (same serial-cliff fix as the y-CDF above); __hi is never
    // null, so the cross-bucket fallback is exact
    val sweep = Prefix.lagAcross(runs, Seq("__g"), "__x", "__hi",
        wide = wide)
      .withColumn("__prevHi", col("__lag___hi"))
      .select(col("__g"),
        (col("__hi") - col("__lo")
          + coalesce(abs(col("__lo") - col("__prevHi")), lit(0L)))
          .as("__dr"))
      .groupBy(col("__g"))
      .agg(sum(col("__dr")).as("__s"))
    denom.join(sweep, Seq("__g"))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        col("__s").as("sum_abs_dr"),
        round(when(col("__den") > 0,
          lit(1.0) - dec(col("__n")).cast("double")
            * col("__s").cast("double")
            / (lit(2.0) * col("__den").cast("double"))), 6)
          .as("xi"))
  }

  /** Best single-feature threshold split by Gini gain (public: the CART
    * decision-stump criterion, Breiman et al. '84) — "which cutoff on
    * this column best separates the label": the 1-node readout behind
    * every quality-filter threshold choice, reported with the full
    * confusion it induces. Split semantics: left = feature ≤ t.
    *
    * Scale shape: candidates are the DISTINCT-value grid with
    * cumulative class counts (one aggregate + two bounded windows over
    * the collapsed grid — the weightedMedian contract); every count is
    * an exact integer and the Gini algebra uses only IEEE
    * correctly-rounded ops (÷ × −), so the arg-max is engine-portable
    * bit for bit. Gain ties break toward the SMALLER threshold. */
  def decisionStump(df: DataFrame, featureCol: String, labelCol: String): DataFrame = {
    val grid = df
      .filter(col(featureCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(featureCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("__p"))
    val c = Prefix.cumBefore(grid, Nil, "__v", Seq("__c", "__p"),
        wide = Prefix.isWide(df), withTotals = true)
      .withColumn("__tl", col("__cb___c") + col("__c"))
      .withColumn("__pl", col("__cb___p") + col("__p"))
      .withColumn("__n", col("__tot___c"))
      .withColumn("__pp", col("__tot___p"))
    def gini(pos: Column, tot: Column): Column = {
      val pr = pos.cast("double") / tot.cast("double")
      val nr = (tot - pos).cast("double") / tot.cast("double")
      lit(1.0) - pr * pr - nr * nr
    }
    val tr = col("__n") - col("__tl")
    val pr = col("__pp") - col("__pl")
    val gain = gini(col("__pp"), col("__n")) -
      (col("__tl").cast("double") / col("__n").cast("double")) *
        gini(col("__pl"), col("__tl")) -
      (tr.cast("double") / col("__n").cast("double")) * gini(pr, tr)
    val best = c.filter(col("__tl") < col("__n"))
      .agg(max(struct(gain.as("g"), (lit(0.0) - col("__v")).as("nv"),
        col("__v").as("v"), col("__tl").as("tl"), col("__pl").as("pl"),
        col("__n").as("n"), col("__pp").as("pp"))).as("__b"))
    val root = grid.agg(sum(col("__c")).as("n"), sum(col("__p")).as("n_pos"))
    root.crossJoin(broadcast(best))
      .select(col("n"), col("n_pos"),
        round(gini(col("n_pos"), col("n")), 6).as("gini_root"),
        col("__b").getField("v").as("threshold"),
        round(col("__b").getField("g"), 6).as("gini_gain"),
        col("__b").getField("tl").as("n_left"),
        col("__b").getField("pl").as("pos_left"),
        (col("n") - col("__b").getField("tl")).as("n_right"),
        (col("n_pos") - col("__b").getField("pl")).as("pos_right"))
  }

  /** Leave-one-fold-out cross-validation of the [[decisionStump]]
    * (public: standard k-fold CV, Stone '74): per fold, the best
    * threshold is learned on the OTHER folds and scored on the held-out
    * one — the honest generalization estimate a train=test stump
    * overstates. Fold labels are a caller-supplied deterministic
    * integer column (id mod k — never engine-specific hashing).
    *
    * Scale shape: the leave-one-out training grids are NEVER
    * materialized per fold — training cumulative counts at every
    * candidate split are GLOBAL cumulative minus the fold's own
    * (one densified fold×value grid, two window passes, exact
    * integers); per-fold argmax via struct-max carries the held-out
    * confusion along, so test scoring needs no second pass. Majority
    * ties inside a train partition read negative (2p > t strictly). */
  def stumpCv(df: DataFrame, featureCol: String, labelCol: String,
              foldCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(featureCol).isNotNull && col(labelCol).isNotNull &&
        col(foldCol).isNotNull)
      .select(col(featureCol).cast("double").as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"),
        col(foldCol).cast("long").as("__f"))
    val gridF = base.groupBy(col("__f"), col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
    val vGrid = base.groupBy(col("__v"))
      .agg(count(lit(1)).as("__ca"), sum(col("__y")).as("__pa"))
    val folds = base.select(col("__f")).distinct()
    // densified fold x value grid: every fold sees every candidate split
    val dense = vGrid.crossJoin(broadcast(folds))
      .join(gridF, Seq("__f", "__v"), "left")
      .na.fill(0L, Seq("__c", "__p"))
    val wv = Window.partitionBy(col("__f")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wf = Window.partitionBy(col("__f"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = dense
      .withColumn("__cumAc", sum(col("__ca")).over(wv))
      .withColumn("__cumAp", sum(col("__pa")).over(wv))
      .withColumn("__cumFc", sum(col("__c")).over(wv))
      .withColumn("__cumFp", sum(col("__p")).over(wv))
      .withColumn("__nA", sum(col("__ca")).over(wf))
      .withColumn("__pA", sum(col("__pa")).over(wf))
      .withColumn("__nF", sum(col("__c")).over(wf))
      .withColumn("__pF", sum(col("__p")).over(wf))
      // training = everything except the fold
      .withColumn("__tl", col("__cumAc") - col("__cumFc"))
      .withColumn("__pl", col("__cumAp") - col("__cumFp"))
      .withColumn("__n", col("__nA") - col("__nF"))
      .withColumn("__pp", col("__pA") - col("__pF"))
    def gini(pos: Column, tot: Column): Column = {
      val pr = pos.cast("double") / tot.cast("double")
      val nr = (tot - pos).cast("double") / tot.cast("double")
      lit(1.0) - pr * pr - nr * nr
    }
    val tr = col("__n") - col("__tl")
    val pr = col("__pp") - col("__pl")
    val gain = gini(col("__pp"), col("__n")) -
      (col("__tl").cast("double") / col("__n").cast("double")) *
        gini(col("__pl"), col("__tl")) -
      (tr.cast("double") / col("__n").cast("double")) * gini(pr, tr)
    val best = c.filter(col("__tl") > 0 && col("__tl") < col("__n"))
      .groupBy(col("__f"))
      .agg(max(struct(gain.as("g"), (lit(0.0) - col("__v")).as("nv"),
        col("__v").as("v"),
        col("__tl").as("tl"), col("__pl").as("pl"),
        col("__n").as("n"), col("__pp").as("pp"),
        col("__cumFc").as("hc"), col("__cumFp").as("hp"),
        col("__nF").as("hn"), col("__pF").as("hpp"))).as("__b"))
    val b = col("__b")
    // train-side majority labels; held-out confusion from the carried
    // fold cumulatives at the winning threshold
    val leftPos = b.getField("pl") * 2 > b.getField("tl")
    val rightPos = (b.getField("pp") - b.getField("pl")) * 2 >
      (b.getField("n") - b.getField("tl"))
    val correct =
      when(leftPos, b.getField("hp"))
        .otherwise(b.getField("hc") - b.getField("hp")) +
      when(rightPos, b.getField("hpp") - b.getField("hp"))
        .otherwise((b.getField("hn") - b.getField("hc"))
          - (b.getField("hpp") - b.getField("hp")))
    best.select(col("__f").as("fold"),
        b.getField("v").as("threshold"),
        round(b.getField("g"), 6).as("train_gain"),
        b.getField("hn").as("test_n"),
        correct.as("test_correct"),
        round(when(b.getField("hn") > 0,
          correct.cast("double") / b.getField("hn").cast("double")),
          6).as("test_accuracy"))
  }

  /** B-cubed clustering precision/recall (public: Bagga & Baldwin '98;
    * the entity-resolution eval standard — Amigó et al. '09 showed it
    * is the only common metric satisfying all four clustering-eval
    * constraints): per ITEM, precision is the fraction of its predicted
    * cluster sharing its gold class, recall the fraction of its gold
    * class in its predicted cluster, averaged over items. Unlike the
    * pair-counting ARI (see [[clusterAgreement]]), B-cubed weighs every
    * item equally — one giant wrong cluster cannot hide behind many
    * correct singletons.
    *
    * Scale shape: items collapse to the (gold, pred) contingency in one
    * hash aggregate; per-cell masses n²/n_pred and n²/n_gold then fold
    * by ordered prefix over the vocabulary-bounded cell grid (the
    * cochranC contract for the float sums). */
  def bcubed(df: DataFrame, goldCol: String, predCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cont = df
      .select(col(goldCol).cast("string").as("__g"),
        col(predCol).cast("string").as("__p"))
      .filter(col("__g").isNotNull && col("__p").isNotNull)
      .groupBy(col("__g"), col("__p")).agg(count(lit(1)).as("__n"))
    // three consumers re-aggregate rather than checkpoint — keeps the
    // Aggregate visible to the plan audit's structural window proof
    val margP = cont.groupBy(col("__p")).agg(sum(col("__n")).as("__np"))
    val margG = cont.groupBy(col("__g")).agg(sum(col("__n")).as("__ng"))
    val wCum = Window.orderBy(col("__g"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastOf = (c: Column) => max(struct(col("__g").as("g"),
      col("__p").as("p"), c.as("c"))).getField("c")
    val folded = cont
      .join(margP.hint("broadcast"), Seq("__p"))
      .join(margG.hint("broadcast"), Seq("__g"))
      .withColumn("__pm", sum((col("__n") * col("__n")).cast("double")
        / col("__np").cast("double")).over(wCum))
      .withColumn("__rm", sum((col("__n") * col("__n")).cast("double")
        / col("__ng").cast("double")).over(wCum))
    val agg = folded.agg(sum(col("__n")).as("n_items"),
      countDistinct(col("__p")).as("n_pred_clusters"),
      countDistinct(col("__g")).as("n_gold_classes"),
      lastOf(col("__pm")).as("__sp"), lastOf(col("__rm")).as("__sr"))
    val nD = col("n_items").cast("double")
    val p = col("__sp") / nD
    val r = col("__sr") / nD
    agg.select(col("n_items"), col("n_pred_clusters"),
      col("n_gold_classes"),
      round(p, 6).as("bcubed_precision"),
      round(r, 6).as("bcubed_recall"),
      round(when(p + r > 0, lit(2.0) * p * r / (p + r)), 6)
        .as("bcubed_f1"))
  }

  /** V-measure (public: Rosenberg & Hirschberg, EMNLP '07) —
    * homogeneity ("each predicted cluster holds ONE gold class") and
    * completeness ("each gold class lands in ONE cluster") as
    * conditional-entropy ratios, combined harmonically: the
    * interpretable axis-pair the single NMI number ([[clusterAgreement]])
    * blends away; same contingency input as [[bcubed]].
    *
    * Scale shape: the (gold, pred) contingency + two margins, entropy
    * partials Σ c·ln c in the single-log fold form over the
    * vocabulary-bounded grids (the clusterAgreement construction). */
  def vMeasure(df: DataFrame, goldCol: String, predCol: String): DataFrame = {
    val cont = df
      .select(col(goldCol).cast("string").as("__g"),
        col(predCol).cast("string").as("__p"))
      .filter(col("__g").isNotNull && col("__p").isNotNull)
      .groupBy(col("__g"), col("__p")).agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val clogc = (c: Column) =>
      sum(c.cast("double") * log(c.cast("double")))
    val cells = cont.agg(sum(col("__n")).as("__nn"),
      clogc(col("__n")).as("__scell"))
    val mp = cont.groupBy(col("__p")).agg(sum(col("__n")).as("__c"))
      .agg(clogc(col("__c")).as("__sp"),
        count(lit(1)).as("n_pred_clusters"))
    val mg = cont.groupBy(col("__g")).agg(sum(col("__n")).as("__c"))
      .agg(clogc(col("__c")).as("__sg"),
        count(lit(1)).as("n_gold_classes"))
    val j = cells.crossJoin(broadcast(mp)).crossJoin(broadcast(mg))
    val nD = col("__nn").cast("double")
    val lnN = log(nD)
    // H(G) = ln n − Σ cg·ln cg / n, etc.; H(G|P) = (Σ cp·ln cp −
    // Σ cell·ln cell)/n — all from the same partials
    val hG = lnN - col("__sg") / nD
    val hP = lnN - col("__sp") / nD
    val hGgP = (col("__sp") - col("__scell")) / nD
    val hPgG = (col("__sg") - col("__scell")) / nD
    val hom = when(hG > 0, lit(1.0) - hGgP / hG).otherwise(lit(1.0))
    val comp = when(hP > 0, lit(1.0) - hPgG / hP).otherwise(lit(1.0))
    j.select(col("__nn").as("n_items"), col("n_pred_clusters"),
      col("n_gold_classes"),
      round(hom, 6).as("homogeneity"),
      round(comp, 6).as("completeness"),
      round(when(hom + comp > 0,
        lit(2.0) * hom * comp / (hom + comp)), 6)
        .as("v_measure"))
  }

  /** Per-group (`__g`) count `__n` and exact cent-quantized sums
    * `__sq` = Σq, `__sqq` = Σq² (q = value·100 as decimal) over the
    * non-null values: the moment frame of [[cochranC]], [[tukeyHsd]] and
    * [[welchAnova]]. */
  private def centMoments(df: DataFrame, groupCol: String,
                          valCol: String): DataFrame = {
    val q = (col(valCol).cast("decimal(20,2)") * 100).cast("decimal(38,0)")
    df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"), sum(q).as("__sq"),
        sum(q * q).as("__sqq"))
  }

  /** Sample variance of a [[centMoments]] group, one double division. */
  private def centVariance: Column =
    ((col("__n").cast("decimal(38,0)") * col("__sqq")
      - col("__sq") * col("__sq")).cast("double") /
      (col("__n") * (col("__n") - 1)).cast("double")) / 10000.0

  /** Cochran's C test statistic (public: Cochran '41) — the
    * variance-outlier screen: C = max_j s_j² / Σ_j s_j², "is one group's
    * spread dominating the pooled picture", the dispersion-side
    * companion to grubbsDaily's mean-outlier screen and the pre-flight
    * for the equal-variance assumption behind [[tukeyHsd]].
    *
    * Scale shape: per-group variances fold from exact cent-quantized
    * integer moments (n, Σq, Σq² in decimal — the q1-lesson
    * construction), each variance one deterministic double division;
    * the cross-group total is an ORDERED prefix fold over the k-row
    * group frame (max prefix = total for the nonnegative variances) —
    * the ks/ewma ordered-prefix contract, never an unordered float
    * sum. */
  def cochranC(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = centMoments(df, groupCol, valCol)
      .filter(col("__n") > 1)
    val wCum = Window.orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    per.withColumn("__var", centVariance)
      .withColumn("__cum", sum(col("__var")).over(wCum))
      .agg(count(lit(1)).as("k_groups"),
        max(struct(col("__var").as("v"), col("__g").as("g"))).as("__top"),
        max(col("__cum")).as("__tot"))
      .select(col("k_groups"),
        col("__top").getField("g").as("max_var_group"),
        round(col("__top").getField("v"), 6).as("max_variance"),
        round(col("__tot"), 6).as("sum_variance"),
        round(when(col("__tot") > 0,
          col("__top").getField("v") / col("__tot")), 6)
          .as("cochran_c"))
  }

  /** Tukey–Kramer HSD contrasts (public: Tukey '49; Kramer '56 for
    * unequal n) — every pairwise mean difference studentized against
    * the one-way ANOVA's pooled MSE: q = (m_a − m_b)/√(MSE/2·(1/n_a +
    * 1/n_b)). The parametric post-hoc beside [[dunnPostHoc]]'s
    * rank-based one (q_anova says "some group differs", this says
    * WHICH pairs). Critical values are studentized-range quantiles
    * (table lookup downstream); the statistic itself is the portable
    * part.
    *
    * Scale shape: one exact cent-quantized moment aggregate per group
    * (k rows), SSE folded over the k-row frame by ordered prefix
    * (nonnegative per-group SS — the [[cochranC]] contract), then the
    * k² pair grid — bounded by the group vocabulary, never data-sized
    * (the q_jsd_matrix contract). */
  def tukeyHsd(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = centMoments(df, groupCol, valCol)
    // the k-row group frame feeds the SSE fold AND both pair sides —
    // re-aggregating 3x is cheaper than a checkpoint AND keeps the
    // Aggregate visible to the plan audit's structural window proof
    val ss = ((col("__n").cast("decimal(38,0)") * col("__sqq")
      - col("__sq") * col("__sq")).cast("double") /
      col("__n").cast("double")) / 10000.0
    val wCum = Window.orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = per.withColumn("__ss", ss)
      .withColumn("__cum", sum(col("__ss")).over(wCum))
      .agg(sum(col("__n")).as("__nn"), count(lit(1)).as("k_groups"),
        max(col("__cum")).as("__sse"))
      .select(col("k_groups"), (col("__nn") - col("k_groups")).as("df_err"),
        when(col("__nn") - col("k_groups") > 0,
          col("__sse") / (col("__nn") - col("k_groups")).cast("double"))
          .as("__mse"))
    val mean = (c: Column) => c.cast("double") / 100.0
    val a = per.select(col("__g").as("group_a"), col("__n").as("n_a"),
      (col("__sq").cast("double") / col("__n").cast("double"))
        .as("__ma"))
    val b = per.select(col("__g").as("group_b"), col("__n").as("n_b"),
      (col("__sq").cast("double") / col("__n").cast("double"))
        .as("__mb"))
    val se = sqrt(col("__mse") / 2.0
      * (lit(1.0) / col("n_a").cast("double")
        + lit(1.0) / col("n_b").cast("double")))
    a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(mean(col("__ma")), 6).as("mean_a"),
        round(mean(col("__mb")), 6).as("mean_b"),
        round(mean(col("__ma")) - mean(col("__mb")), 6)
          .as("mean_diff"),
        col("k_groups"), col("df_err"),
        round(se, 6).as("se"),
        round(when(se > 0, (mean(col("__ma")) - mean(col("__mb"))) / se),
          6).as("q_stat"))
  }

  /** Standardized-mean-difference covariate balance table (public: the
    * standard observational-study diagnostic, e.g. Austin, Stat. Med.
    * '09): per covariate, SMD = (m_t − m_c)/√((v_t + v_c)/2) between the
    * treated and control units — |SMD| < 0.1 is the conventional
    * "balanced" bar before trusting any treatment-effect estimate
    * ([[stratifiedAte]] downstream). Input is a UNIT-level frame (one
    * row per unit with a boolean treatment column).
    *
    * Scale shape: covariates are cent-quantized (decimal(20,2)·100) so
    * every per-arm moment is an exact integer fold; one aggregate per
    * covariate over the (cached, caller-supplied) unit frame, each
    * mean/variance a single deterministic division. Degenerate arms
    * (n ≤ 1 or zero pooled variance) → null SMD. */
  def smdBalance(units: DataFrame, treatCol: String,
                 covCols: Seq[String]): DataFrame = {
    require(covCols.nonEmpty, "at least one covariate required")
    val t = col(treatCol).cast("boolean")
    def row(cov: String): DataFrame = {
      val q = (col(cov).cast("decimal(20,2)") * 100).cast("decimal(38,0)")
      val arm = (treated: Boolean) => if (treated) t else !t
      def nOf(b: Boolean) =
        sum(when(arm(b) && col(cov).isNotNull, 1L).otherwise(0L))
      def sOf(b: Boolean) =
        sum(when(arm(b), q).otherwise(lit(null).cast("decimal(38,0)")))
      def ssOf(b: Boolean) =
        sum(when(arm(b), q * q).otherwise(lit(null).cast("decimal(38,0)")))
      units.filter(t.isNotNull)
        .agg(nOf(true).as("__nt"), sOf(true).as("__st"),
          ssOf(true).as("__sst"),
          nOf(false).as("__nc"), sOf(false).as("__sc"),
          ssOf(false).as("__ssc"))
        .select(lit(cov).as("covariate"), col("__nt").as("n_treat"),
          col("__nc").as("n_ctrl"),
          (col("__st").cast("double") / col("__nt").cast("double")
            / 100.0).as("__mt"),
          (col("__sc").cast("double") / col("__nc").cast("double")
            / 100.0).as("__mc"),
          ((col("__nt").cast("decimal(38,0)") * col("__sst")
            - col("__st") * col("__st")).cast("double")
            / (col("__nt") * (col("__nt") - 1)).cast("double") / 10000.0)
            .as("__vt"),
          ((col("__nc").cast("decimal(38,0)") * col("__ssc")
            - col("__sc") * col("__sc")).cast("double")
            / (col("__nc") * (col("__nc") - 1)).cast("double") / 10000.0)
            .as("__vc"))
    }
    covCols.map(row).reduce(_.unionByName(_))
      .select(col("covariate"), col("n_treat"), col("n_ctrl"),
        round(col("__mt"), 6).as("mean_treat"),
        round(col("__mc"), 6).as("mean_ctrl"),
        round(when(col("n_treat") > 1 && col("n_ctrl") > 1
          && (col("__vt") + col("__vc")) / 2.0 > 0,
          (col("__mt") - col("__mc"))
            / sqrt((col("__vt") + col("__vc")) / 2.0)), 6)
          .as("smd"))
  }

  /** Stratified (sub-classification) average treatment effect (public:
    * Cochran '68's sub-classification estimator, the textbook
    * propensity-stratification form): within each stratum the arms are
    * compared directly, and the overall ATE is the stratum-size-weighted
    * mean of the within-stratum differences over strata containing BOTH
    * arms — the simplest confounder control that needs no model. Input
    * is a unit frame with a precomputed integer stratum column
    * (quantile bins of a confounder, [[smdBalance]] upstream checks the
    * residual imbalance).
    *
    * Scale shape: one hash aggregate to the stratum grid (exact
    * cent-quantized outcome moments), weighted differences folded by
    * ORDERED prefix over the ≤k-row grid with the last prefix read back
    * via struct-argmax — never an unordered float sum. */
  def stratifiedAte(units: DataFrame, treatCol: String, outcomeCol: String,
                    strataCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = col(treatCol).cast("boolean")
    val q = (col(outcomeCol).cast("decimal(20,2)") * 100)
      .cast("decimal(38,0)")
    val grid = units
      .filter(t.isNotNull && col(outcomeCol).isNotNull &&
        col(strataCol).isNotNull)
      .groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_s"),
        sum(when(t, 1L).otherwise(0L)).as("n_treat"),
        sum(when(!t, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(t, q)).as("__yt"), sum(when(!t, q)).as("__yc"))
      .filter(col("n_treat") > 0 && col("n_ctrl") > 0)
    val mt = (col("__yt").cast("double") /
      col("n_treat").cast("double")) / 100.0
    val mc = (col("__yc").cast("double") /
      col("n_ctrl").cast("double")) / 100.0
    val wCum = Window.orderBy(col("stratum"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val folded = grid
      .withColumn("__mt", mt).withColumn("__mc", mc)
      .withColumn("__nu", sum(col("n_s")).over(wAll))
      .withColumn("__cum", sum((col("n_s").cast("double")
        / col("__nu").cast("double"))
        * (col("__mt") - col("__mc"))).over(wCum))
    val tot = folded
      .agg(count(lit(1)).as("k_strata"), max(col("__nu")).as("n_used"),
        max(struct(col("stratum").as("s"), col("__cum").as("c")))
          .as("__last"))
      .select(col("k_strata"), col("n_used"),
        round(col("__last").getField("c"), 6).as("ate"))
    folded.select(col("stratum"), col("n_s"), col("n_treat"),
        col("n_ctrl"),
        round(col("__mt"), 6).as("mean_treat"),
        round(col("__mc"), 6).as("mean_ctrl"),
        round(col("__mt") - col("__mc"), 6).as("diff"))
      .crossJoin(broadcast(tot))
  }

  /** Welch's heteroscedastic one-way ANOVA (public: Welch, Biometrika
    * '51) — the unequal-variance replacement for the classic F:
    * each group is weighted by n_j/s_j² so a high-variance group cannot
    * drown the others (the ANOVA-side analogue of [[welchTTest]] and
    * [[brunnerMunzel]]'s escape from homoscedasticity). Emits W, df₁ =
    * k−1 and the Welch–Satterthwaite df₂.
    *
    * Scale shape: one exact cent-quantized moment aggregate per group,
    * then TWO ordered folds over the k-row grid (weights+weighted means
    * first, the mean-centered dispersion second, the grand weighted
    * mean broadcast between them) — cross-group float sums always
    * accumulate in group order (the [[cochranC]] contract; the signed
    * folds read back at the last prefix via struct-argmax). */
  def welchAnova(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = centMoments(df, groupCol, valCol)
      .filter(col("__n") > 1)
    val mj = (col("__sq").cast("double") / col("__n").cast("double")) / 100.0
    val wj = col("__n").cast("double") / col("__v")
    val wCum = Window.orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastOf = (c: Column) =>
      max(struct(col("__g").as("g"), c.as("c"))).getField("c")
    val g1 = per.withColumn("__m", mj).withColumn("__v", centVariance)
      .filter(col("__v") > 0)
      .withColumn("__w", wj)
      .withColumn("__cw", sum(col("__w")).over(wCum))
      .withColumn("__cwm", sum(col("__w") * col("__m")).over(wCum))
    val tot1 = g1.agg(count(lit(1)).as("k_groups"),
      sum(col("__n")).as("n_total"),
      lastOf(col("__cw")).as("__tw"), lastOf(col("__cwm")).as("__twm"))
      .withColumn("__mw", col("__twm") / col("__tw"))
    val g2 = g1.crossJoin(broadcast(tot1))
      .withColumn("__num",
        col("__w") * (col("__m") - col("__mw"))
          * (col("__m") - col("__mw")))
      .withColumn("__lam", ((lit(1.0) - col("__w") / col("__tw"))
        * (lit(1.0) - col("__w") / col("__tw")))
        / (col("__n") - 1).cast("double"))
      .withColumn("__cnum", sum(col("__num")).over(wCum))
      .withColumn("__clam", sum(col("__lam")).over(wCum))
    g2.agg(max(col("k_groups")).as("k_groups"),
        max(col("n_total")).as("n_total"),
        lastOf(col("__cnum")).as("__A"), lastOf(col("__clam")).as("__L"))
      .select(col("k_groups"), col("n_total"),
        (col("k_groups") - 1).as("df1"),
        round(when(col("__L") > 0,
          (col("k_groups") * col("k_groups") - 1).cast("double")
            / (lit(3.0) * col("__L"))), 6).as("df2"),
        round(when(col("k_groups") > 1 && col("__L") >= 0,
          (col("__A") / (col("k_groups") - 1).cast("double"))
            / (lit(1.0) + lit(2.0) * (col("k_groups") - 2).cast("double")
              / (col("k_groups") * col("k_groups") - 1).cast("double")
              * col("__L"))), 6).as("welch_f"))
  }

  /** Fisher's exact test on a 2×2 contingency (public: Fisher '35) —
    * the hypergeometric-exact independence p-value where chi-square's
    * approximation is off (small or skewed cells), emitted two-sided
    * and one-sided with the odds ratio. Two-sided rule: sum every table
    * whose probability ≤ the observed one (the standard "method of
    * small p-values", with the customary 1+1e-7 tolerance).
    *
    * Scale shape: the data collapses to ONE count row; the
    * hypergeometric support [k_min, k_max] is rebuilt by
    * sequence+explode and every probability is expressed RELATIVE to
    * the observed table via the exact rational recurrence
    * p(k+1)/p(k) = (r₁−k)(c₁−k)/((k+1)(n−r₁−c₁+k+1)) — ln-steps folded
    * by ordered prefix, the anchor subtracted, exp'd back, and the
    * ratio sums again folded in k order (max prefix = total for the
    * nonnegative ratios). No factorial, no lgamma, no overflow — the
    * largest intermediate is n². */
  def fisherExact(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ta = col(aCol).cast("boolean")
    val tb = col(bCol).cast("boolean")
    val cm = df.filter(ta.isNotNull && tb.isNotNull)
      .agg(sum(when(ta && tb, 1L).otherwise(0L)).as("a"),
        sum(when(ta && !tb, 1L).otherwise(0L)).as("b"),
        sum(when(!ta && tb, 1L).otherwise(0L)).as("c"),
        sum(when(!ta && !tb, 1L).otherwise(0L)).as("d"))
      .withColumn("__n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("__r1", col("a") + col("b"))
      .withColumn("__c1", col("a") + col("c"))
      .withColumn("__kmin", greatest(lit(0L),
        col("__r1") + col("__c1") - col("__n")))
      .withColumn("__kmax", least(col("__r1"), col("__c1")))
    val grid = cm.select(col("a"), col("b"), col("c"), col("d"),
      col("__n"), col("__r1"), col("__c1"), col("__kmax"),
      explode(sequence(col("__kmin"), col("__kmax"))).as("__k"))
    // ln of the exact rational step k -> k+1 (products <= n^2, exact)
    val step = log(((col("__r1") - col("__k"))
      * (col("__c1") - col("__k"))).cast("double")
      / ((col("__k") + 1)
        * (col("__n") - col("__r1") - col("__c1") + col("__k") + 1))
        .cast("double"))
    val wPrev = Window.orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val withRatio = grid
      .withColumn("__step", when(col("__k") < col("__kmax"), step)
        .otherwise(lit(0.0)))
      .withColumn("__cum", coalesce(sum(col("__step")).over(wPrev),
        lit(0.0)))
      .withColumn("__anchor",
        max(when(col("__k") === col("a"), col("__cum"))).over(wAll))
      .withColumn("__ratio", exp(col("__cum") - col("__anchor")))
    val folded = withRatio
      .withColumn("__ct", sum(col("__ratio")).over(wCum))
      .withColumn("__ce", sum(when(col("__ratio") <= 1.0 + 1e-7,
        col("__ratio")).otherwise(lit(0.0))).over(wCum))
      .withColumn("__cr", sum(when(col("__k") >= col("a"),
        col("__ratio")).otherwise(lit(0.0))).over(wCum))
      .withColumn("__cl", sum(when(col("__k") <= col("a"),
        col("__ratio")).otherwise(lit(0.0))).over(wCum))
    folded.agg(max(col("a")).as("a"), max(col("b")).as("b"),
        max(col("c")).as("c"), max(col("d")).as("d"),
        max(col("__ct")).as("__t"), max(col("__ce")).as("__e"),
        max(col("__cr")).as("__r"), max(col("__cl")).as("__l"))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(when(col("b") * col("c") > 0,
          (col("a") * col("d")).cast("double")
            / (col("b") * col("c")).cast("double")), 6)
          .as("odds_ratio"),
        round(least(col("__e") / col("__t"), lit(1.0)), 6)
          .as("p_two_sided"),
        round(least(col("__r") / col("__t"), lit(1.0)), 6)
          .as("p_greater"),
        round(least(col("__l") / col("__t"), lit(1.0)), 6)
          .as("p_less"))
  }

  /** TOST equivalence bounds (public: Schuirmann '87, the two
    * one-sided-tests procedure every bioequivalence / A-B "no harm"
    * analysis runs): unlike a failed difference test — which proves
    * nothing — TOST actively tests |μ_a − μ_b| < δ by requiring BOTH
    * t₁ = (d̄ + δ)/se > t_crit and t₂ = (d̄ − δ)/se < −t_crit. Emits the
    * Welch-based t statistics, se and Welch–Satterthwaite df (the
    * critical value is a t-table lookup downstream, the [[tukeyHsd]]
    * convention), plus the plain mean difference.
    *
    * Scale shape: one exact cent-quantized moment aggregate per arm
    * (single hash agg with conditional sums), pure scalar algebra
    * after — the welchTTest shape with the shifted numerators. */
  def tostEquivalence(df: DataFrame, classCol: String, valCol: String,
                      armA: String, armB: String, delta: Double): DataFrame = {
    require(delta > 0, s"equivalence bound delta must be positive: $delta")
    val q = (col(valCol).cast("decimal(20,2)") * 100).cast("decimal(38,0)")
    val isA = col(classCol) === armA
    val isB = col(classCol) === armB
    val mom = df.filter(col(valCol).isNotNull && (isA || isB))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA, q)).as("__sa"), sum(when(isA, q * q)).as("__ssa"),
        sum(when(isB, 1L).otherwise(0L)).as("n_b"),
        sum(when(isB, q)).as("__sb"), sum(when(isB, q * q)).as("__ssb"))
    def mean(s: String, n: String) =
      (col(s).cast("double") / col(n).cast("double")) / 100.0
    def variance(s: String, ss: String, n: String) =
      ((col(n).cast("decimal(38,0)") * col(ss) - col(s) * col(s))
        .cast("double") /
        (col(n) * (col(n) - 1)).cast("double")) / 10000.0
    val d = mean("__sa", "n_a") - mean("__sb", "n_b")
    val va = variance("__sa", "__ssa", "n_a")
    val vb = variance("__sb", "__ssb", "n_b")
    val ra = va / col("n_a").cast("double")
    val rb = vb / col("n_b").cast("double")
    val se = sqrt(ra + rb)
    val dfw = (ra + rb) * (ra + rb) /
      (ra * ra / (col("n_a") - 1).cast("double")
        + rb * rb / (col("n_b") - 1).cast("double"))
    mom.select(col("n_a"), col("n_b"),
      round(d, 6).as("mean_diff"),
      lit(delta).as("delta"),
      round(se, 6).as("se"),
      round(when(se > 0, dfw), 6).as("df_welch"),
      round(when(se > 0, (d + lit(delta)) / se), 6).as("t_lower"),
      round(when(se > 0, (d - lit(delta)) / se), 6).as("t_upper"))
  }

  /** Cohen's h (public: Cohen '88) — the arcsine-stabilized effect size
    * for two proportions, h = 2·asin√p₁ − 2·asin√p₂: unlike the raw
    * difference, equal h means equal detectability at any baseline (the
    * power-analysis currency for "is this rate shift big"). One
    * aggregate; exact integer counts into two single-rounding asin
    * calls. */
  def cohensH(df: DataFrame, condCol: String, flagCol: String): DataFrame = {
    val cond = col(condCol).cast("boolean")
    val flag = col(flagCol).cast("boolean")
    val agg = df.filter(cond.isNotNull && flag.isNotNull)
      .agg(sum(when(cond, 1L).otherwise(0L)).as("n1"),
        sum(when(cond && flag, 1L).otherwise(0L)).as("__k1"),
        sum(when(!cond, 1L).otherwise(0L)).as("n2"),
        sum(when(!cond && flag, 1L).otherwise(0L)).as("__k2"))
    val p1 = col("__k1").cast("double") / col("n1").cast("double")
    val p2 = col("__k2").cast("double") / col("n2").cast("double")
    agg.select(col("n1"), col("n2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round(when(col("n1") > 0 && col("n2") > 0,
        lit(2.0) * asin(sqrt(p1)) - lit(2.0) * asin(sqrt(p2))),
        6).as("cohens_h"))
  }

  /** Quade test (public: Quade, JASA '79) — the block-weighted upgrade
    * of [[friedmanTest]]: blocks with a LARGER within-block range carry
    * more evidence about treatment differences, so each block's ranks
    * are weighted by the rank of its range. More powerful than Friedman
    * at small treatment counts (k ≤ 5, the classic guidance).
    *   S_ij = Q_b·(r_ij − (k+1)/2),  Q_b = midrank of block b's range;
    *   T = (b−1)·B/(A − B),  A = ΣS_ij²,  B = (Σ_j S_j²)/b.
    * Emits per-treatment weighted rank sums S_j plus the shared T (A=B,
    * the perfect-separation edge, → null T per the F-limit convention).
    *
    * Scale shape: [[completeBlockMidranks]]' bounded b×k cell grid, two
    * rank windows over it, one aggregate. Midranks step in
    * exact halves and every S term is a dyadic rational well inside
    * 2⁵³, so all sums are order-independent — the friedman exactness
    * contract. */
  def quadeTest(cells: DataFrame, blockCol: String, treatCol: String,
                valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // within-block midranks + per-block range, then range midranks Q_b
    val ranked = completeBlockMidranks(cells, blockCol, treatCol, valCol)
      .withColumn("__range", max(col("__v")).over(
        Window.partitionBy(col("__b")))
        - min(col("__v")).over(Window.partitionBy(col("__b"))))
    val withQ = ranked
      .withColumn("__qmin", rank().over(Window.orderBy(col("__range"))))
      .withColumn("__qties", count(lit(1)).over(
        Window.partitionBy(col("__range"))))
      // block-range ranks count ROWS (k per block): midrank over blocks
      // = ((row-min-rank - 1)/k + 1) + (row-ties/k - 1)/2 in block units
      .withColumn("__q", (col("__qmin") - 1).cast("double") / col("__k")
        + 1.0 + (col("__qties").cast("double") / col("__k") - 1.0) / 2.0)
      .withColumn("__sij", col("__q")
        * (col("__r") - (col("__k") + 1).cast("double") / 2.0))
      // bounded b×k grid feeds the per-treatment fold AND the global
      // dispersion fold (the friedmanTest cache contract)
      .cache()
    val perTreat = withQ.groupBy(col("__t"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__sij")).as("__sj"))
    val fit = withQ.agg(max(col("__k")).as("__kk"),
      countDistinct(col("__b")).as("__bb"),
      sum(col("__sij") * col("__sij")).as("__a"))
    val t = perTreat.agg(sum(col("__sj") * col("__sj")).as("__sj2"))
      .crossJoin(broadcast(fit))
      .select(col("__bb").as("n_blocks_used"),
        col("__kk").cast("long").as("k_treatments"),
        round(when(col("__a") - col("__sj2") / col("__bb") > 0,
          (col("__bb") - 1).cast("double")
            * (col("__sj2") / col("__bb"))
            / (col("__a") - col("__sj2") / col("__bb"))),
          6).as("quade_t"))
    perTreat
      .select(col("__t").as(treatCol), col("n_blocks"),
        round(col("__sj"), 6).as("s_j"))
      .crossJoin(broadcast(t))
  }
}
