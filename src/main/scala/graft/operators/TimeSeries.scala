package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization over event streams (SURVEY.md §2b): resample
  * an irregular event table onto a fixed grid and forward-fill the gaps —
  * the standard prep step before any per-entity sequence modeling (a model
  * wants one row per (entity, hour), not "whenever events happened").
  *
  * Scale shape: the bucket aggregate is one map-combined hash aggregate;
  * the grid is generated per entity with `sequence` + explode (rows ∝
  * entity's time span, no driver loop); the fill is a per-entity window —
  * entities are numerous and individually bounded, so the partitioning is
  * wide and no single task inherits the corpus (unlike a global window).
  */
object TimeSeries {

  /** Per-event rolling features over each entity's ordered series: previous
    * value (lag-1), trailing-k mean/stddev (the frame ENDS at the previous
    * row — features never leak the current value), and the rolling z-score
    * of the current value against that trailing window — the standard
    * online anomaly signal. Ordering is (ts, tiebreak) so runs are
    * deterministic under timestamp ties.
    *
    * Scale shape: one window pass partitioned by entity — no shuffle beyond
    * the partitionBy, no self-join per lag. Variance uses the sum-of-squares
    * identity clamped at 0 (floating cancellation can drive it epsilon-
    * negative); singleton/constant frames yield null z rather than NaN. */
  def rollingStats(series: DataFrame, entityCol: String, tsCol: String,
                   tieCol: String, valCol: String, k: Int): DataFrame = {
    require(k >= 2, s"rolling window must span >= 2 rows (got $k)")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val trail = w.rowsBetween(-k, -1)
    val n = count(col(valCol)).over(trail)
    val mean = avg(col(valCol)).over(trail)
    val sumsq = sum(col(valCol) * col(valCol)).over(trail)
    // sample variance from the trailing frame, clamped at 0
    val variance = greatest(
      (sumsq - n * mean * mean) / (n - lit(1)), lit(0.0))
    series.select(
      col(entityCol), col(tsCol), col(tieCol), col(valCol),
      lag(col(valCol), 1).over(w).as("prev_value"),
      when(n >= 1, mean).as("trail_mean"),
      when(n >= 2, sqrt(variance)).as("trail_sd"),
      when(n >= 2 && sqrt(variance) > 0,
        (col(valCol) - mean) / sqrt(variance)).as("rolling_z"))
  }

  /** Per-(entity, hour) activity on a DENSE hourly grid spanning each
    * entity's [first, last] event hour: `n` events (0 on gap hours) and
    * `v_filled` — the hour's sum carried forward through gaps (an entity's
    * "last known" value, the classic last-observation-carried-forward).
    * First grid row is always a real event hour, so `v_filled` never
    * starts null. */
  def resampleHourlyFill(events: DataFrame, entityCol: String, tsCol: String,
                         valCol: String): DataFrame = {
    val hours = events
      .groupBy(col(entityCol), date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("__v"))
    val grid = hours
      .groupBy(col(entityCol))
      .agg(min(col("hour")).as("__lo"), max(col("hour")).as("__hi"))
      .select(col(entityCol),
        explode(sequence(col("__lo"), col("__hi"), expr("INTERVAL 1 HOUR")))
          .as("hour"))
    val w = Window.partitionBy(col(entityCol)).orderBy(col("hour").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(hours, Seq(entityCol, "hour"), "left")
      .select(col(entityCol), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("__v"), ignoreNulls = true).over(w).as("v_filled"))
  }

  /** Linear interpolation of null gaps in a per-entity series — the
    * step up from forward-fill when the quantity is continuous (a sensor
    * reading, a rate) rather than a state (a status, a last-known
    * balance). Adds `v_interp`: the value itself where present, the
    * time-weighted blend `prev + (next−prev)·(t−t_prev)/(t_next−t_prev)`
    * on interior gaps, and null on leading/trailing gaps (interpolation
    * only — no extrapolation past the observed range).
    *
    * Scale shape: two window passes over the same per-entity ordering
    * (carry-forward of the previous observation, carry-backward of the
    * next) — the partitioning is reused, entities are numerous and
    * individually bounded, nothing global.
    *
    * `roundScale < 0` skips the output rounding entirely: when the input
    * values are exact (integer-quantized) doubles the blend is a fixed
    * IEEE expression over exact operands, so the UNROUNDED output is
    * bit-deterministic — whereas rounding near a decimal boundary is
    * engine-implementation-defined (Spark rounds the shortest decimal
    * representation, other engines round a scaled double). Hourly grids
    * make boundary-exact blends STRUCTURAL (time fractions are dyadic),
    * so exact-input-no-rounding is the hash-stable configuration. */
  def interpolateLinear(series: DataFrame, entityCol: String, tsCol: String,
                        valCol: String, roundScale: Int = 6): DataFrame = {
    val fwd = Window.partitionBy(col(entityCol)).orderBy(col(tsCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // "first observation AFTER this row" as a GROWING frame over the
    // REVERSED ordering: a literal (1, unboundedFollowing) frame shrinks,
    // and Spark recomputes shrinking frames from scratch per row — O(n²)
    // per entity, which at a year of hourly grid rows per entity turns
    // the fill into the query's dominant cost (measured 16s → 0.5s at
    // sf0.1). Growing frames update incrementally — O(n) after the sort.
    val bwd = Window.partitionBy(col(entityCol)).orderBy(col(tsCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col(tsCol).cast("double")
    val obsT = when(col(valCol).isNotNull, t)
    val prevV = last(col(valCol), ignoreNulls = true).over(fwd)
    val prevT = last(obsT, ignoreNulls = true).over(fwd)
    val nextV = last(col(valCol), ignoreNulls = true).over(bwd)
    val nextT = last(obsT, ignoreNulls = true).over(bwd)
    val blended = prevV +
      (nextV - prevV) * (t - prevT) / (nextT - prevT)
    val interp = when(col(valCol).isNotNull, col(valCol)).otherwise(blended)
    series.withColumn("v_interp",
      if (roundScale < 0) interp else round(interp, roundScale))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per entity
    * (the "current streak / longest streak" primitive — retention and
    * habit metrics want runs, not raw activity). Returns one row per
    * island: `(entity, start_day, end_day, n_days)`.
    *
    * The classic row_number trick: consecutive days share the constant
    * anchor `day − row_number` (public folklore, e.g. Ben-Gan's
    * gaps-and-islands chapters), so one window pass + one hash aggregate
    * — no self-join, no iteration.
    *
    * Scale shape: distinct (entity, day) first — the window then runs
    * over at most 365·years rows per entity regardless of raw event
    * volume; partitioning by entity keeps tasks bounded and parallel. */
  def islands(events: DataFrame, entityCol: String, tsCol: String): DataFrame = {
    val days = events
      .select(col(entityCol), to_date(col(tsCol)).as("day"))
      .distinct()
    val w = Window.partitionBy(col(entityCol)).orderBy(col("day").asc)
    days
      .withColumn("__anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col(entityCol), col("__anchor"))
      .agg(min(col("day")).as("start_day"),
        max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"))
      .drop("__anchor")
  }

  /** Exponentially weighted moving average (α = 1/2) over each entity's
    * ordered series, truncated to a `lookback`-row memory — the standard
    * smoothing/trend signal (per-user engagement level, per-source rate
    * baseline) without the unbounded recursion of textbook EWMA, which no
    * set-oriented engine (or cross-engine oracle) can evaluate exactly.
    *
    * α = 1/2 makes every weight 2^{-(j+1)} an exact dyadic rational, and
    * a double scaled by a power of two is EXACT — so each weighted term
    * is exact and the only inexact ops are the final sum and divide
    * (engine-portable at the 6dp round). The weight mass of a short head
    * window (1 − 2^{-len}, also exact) normalizes the average so series
    * heads are unbiased, not pulled toward 0. Truncation error vs the
    * infinite EWMA is < 2^{-lookback} of the value scale.
    *
    * Shape: ONE per-entity window pass; the frame buffers ≤ `lookback`
    * values per row (constant memory, like rollingStats' trailing
    * window). Null values are excluded up front — a null inside
    * collect_list would silently misalign the weight vector. */
  def ewmaHalving(series: DataFrame, entityCol: String, tsCol: String,
                  tieCol: String, valCol: String, lookback: Int = 16,
                  roundScale: Int = 6): DataFrame = {
    require(lookback > 0 && lookback <= 62,
      s"lookback must be in [1,62]: $lookback")
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(-(lookback - 1), 0)
    val weights = array(
      (0 until lookback).map(j => lit(1.0 / (1L << (j + 1)))): _*)
    // 1 − 2^{-len} for len = 1..lookback, all exact dyadic
    val denoms = array(
      (1 to lookback).map(k => lit(1.0 - 1.0 / (1L << k))): _*)
    series.filter(col(valCol).isNotNull)
      // newest-first so weights[0] (the heaviest) lines up with the
      // current row
      .withColumn("__hist",
        reverse(collect_list(col(valCol).cast("double")).over(w)))
      .withColumn("ewma", round(
        aggregate(
          zip_with(col("__hist"), slice(weights, lit(1), size(col("__hist"))),
            (x, wt) => x * wt),
          lit(0.0), (acc, x) => acc + x)
          / element_at(denoms, size(col("__hist"))), roundScale))
      .drop("__hist")
  }

  /** Exponential-decay weights 2^(−bucket/halfLife) for month buckets
    * 0..n−1, SNAPPED to multiples of 2⁻²⁰ — shipped as the same literals
    * to both engines, and every (integer count × weight) product stays an
    * exact dyadic rational, so decayed scores sum order-independently. */
  private[graft] def decayWeights(n: Int, halfLife: Double): Seq[Double] = {
    val scale = (1 << 20).toDouble
    (0 until n).map(b => math.rint(scale * math.pow(0.5, b / halfLife)) / scale)
  }

  /** Time-decayed popularity top-k — the freshness-weighted leaderboard
    * (recency-biased demand, trending detection): each row contributes
    * 2^(−age/halfLife) where age is its MONTH bucket (30-day) behind the
    * dataset's newest timestamp, so score = Σ_bucket count·weight with
    * [[decayWeights]] literals. Bucketing by month keeps the weight table
    * a literal array instead of a per-day expression, and makes every
    * contribution integer×dyadic = exact — the ranking is deterministic
    * with (score desc, id asc) tiebreak on the 6dp-rounded score.
    *
    * Scale shape: one 1-row max broadcast, ONE (id, bucket) hash
    * aggregate with map-side combine, one id-level aggregate, then
    * TakeOrdered — no window, no full sort. */
  def decayedTopK(df: DataFrame, idCol: String, tsCol: String,
                  halfLifeMonths: Double = 6.0, k: Int = 20,
                  maxBuckets: Int = 120): DataFrame = {
    require(halfLifeMonths > 0 && k >= 1 && maxBuckets >= 1,
      s"bad params: $halfLifeMonths/$k/$maxBuckets")
    val wArr = array(decayWeights(maxBuckets, halfLifeMonths).map(lit): _*)
    val mx = df.agg(max(col(tsCol)).as("__md"))
    df.crossJoin(broadcast(mx))
      .select(col(idCol),
        least(floor(datediff(col("__md"), col(tsCol)) / 30).cast("int"),
          lit(maxBuckets - 1)).as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__c").cast("double")
        * element_at(wArr, col("__b") + 1)), 6).as("decayed_score"))
      .orderBy(col("decayed_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** One-sided CUSUM change-point detection (Page, Biometrika'54) over the
    * daily event-count series — the drift alarm for pipeline throughput:
    * S_t = max(0, S_{t−1} + x_t − μ − k) with slack k = `slackSigmas`·σ,
    * alarm when S_t > `hSigmas`·σ. The recursion is re-expressed through
    * the prefix-sum identity S_t = P_t − min(0, min_{i≤t} P_i) with
    * P_t = Σ(x − μ − k), so it needs only a cumulative sum and a
    * cumulative min — no sequential state. The alarm compares the
    * 6dp-ROUNDED statistic against the 6dp-rounded threshold, so the flag
    * is as engine-stable as the printed numbers.
    *
    * Scale shape: one day-grain count aggregate (map-side combined), a
    * 1-row stats broadcast, then two cumulative windows over the
    * DAY GRID — bounded by the observation span, never event count. */
  def cusumDaily(events: DataFrame, tsCol: String,
                 slackSigmas: Double = 0.5,
                 hSigmas: Double = 4.0): DataFrame =
    cusumOverCounts(
      events.groupBy(date_trunc("day", col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n_events")),
      slackSigmas, hSigmas)

  /** [[cusumDaily]]'s finalizer over an ALREADY-AGGREGATED `(day,
    * n_events)` table — exposed so the streaming monitor
    * ([[graft.streaming.EventStreams.cusumMonitor]]) can run the
    * IDENTICAL evaluation over its accumulated day-count state, making
    * stream/batch parity a shared-code fact rather than a reimplementation
    * (the windowDrift finalizer contract). */
  def cusumOverCounts(counts: DataFrame,
                      slackSigmas: Double = 0.5,
                      hSigmas: Double = 4.0): DataFrame = {
    require(slackSigmas >= 0 && hSigmas > 0,
      s"need slackSigmas >= 0 and hSigmas > 0: $slackSigmas/$hSigmas")
    val stats = counts.agg(
      sum(col("n_events")).cast("double").as("__s"),
      sum(col("n_events") * col("n_events")).cast("double").as("__ss"),
      count(lit(1)).cast("double").as("__n"))
    val mu = col("__s") / col("__n")
    val sigma = sqrt(greatest(col("__ss") / col("__n") - mu * mu, lit(0.0)))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    counts.crossJoin(broadcast(stats))
      .withColumn("__p",
        sum(col("n_events").cast("double") - (mu + lit(slackSigmas) * sigma))
          .over(wCum))
      .withColumn("__s_t",
        col("__p") - least(lit(0.0), min(col("__p")).over(wCum)))
      .select(col("day"), col("n_events"),
        round(col("__s_t"), 6).as("cusum"),
        round(lit(hSigmas) * sigma, 6).as("threshold"))
      .withColumn("alarm", col("cusum") > col("threshold"))
  }

  /** Pettitt change-point test (Pettitt, JRSS-C'79) over the daily
    * event-count series: the rank-based (distribution-free) single
    * change-point locator — U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j), the
    * change day is argmax |U_t| and K = max |U_t| carries the
    * significance p ≈ 2·exp(−6K²/(T³+T²)). Complements [[cusumDaily]]:
    * CUSUM is a mean-shift ALARM tuned by σ-slack, Pettitt is the
    * assumption-free "WHERE did the level shift" locator, robust to
    * outlier days because only ranks enter.
    *
    * The double sum is re-expressed through midranks (tie-safe):
    * Σ_j sgn(x_i − x_j) = 2r_i − (T+1), so U_t is ONE cumulative sum of
    * (2·rank + (ties−1) − (T+1)) in day order — exact integers
    * end-to-end; the only float is the exp in the p-value (rounded).
    *
    * Scale shape: one day-grain count aggregate, then rank + cumsum
    * windows over the DAY GRID — bounded by the observation span,
    * never event count ([[cusumDaily]]'s contract). The last day's
    * U_T = 0 is excluded from the argmax (no "change after everything"
    * degenerate). */
  def pettittDaily(events: DataFrame, tsCol: String,
                   roundScale: Int = 6): DataFrame =
    pettittOverCounts(
      events.groupBy(date_trunc("day", col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n_events")), roundScale)

  /** [[pettittDaily]]'s finalizer over an already-aggregated
    * `(day, n_events)` grid — the shared-finalizer contract
    * ([[cusumOverCounts]]). */
  def pettittOverCounts(counts: DataFrame,
                        roundScale: Int = 6): DataFrame = {
    val byVal = Window.orderBy(col("n_events"))
    val byDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts
      // 2·midrank as an integer: 2·rank + (#equal − 1)
      .withColumn("__r2", lit(2L) * rank().over(byVal)
        + count(lit(1)).over(Window.partitionBy(col("n_events"))) - 1L)
      .withColumn("__t", count(lit(1)).over(entire))
      .withColumn("__u", sum(col("__r2") - (col("__t") + 1L)).over(byDay))
      .withColumn("__rn", row_number().over(Window.orderBy(col("day"))))
      .filter(col("__rn") < col("__t")) // drop U_T = 0
      .orderBy(abs(col("__u")).desc, col("day").asc)
      .limit(1)
      .select(col("day").as("change_day"), col("__t").as("n_days"),
        abs(col("__u")).as("k_stat"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0)
          * (abs(col("__u")).cast("double") * abs(col("__u")).cast("double"))
          / (col("__t").cast("double") * col("__t").cast("double")
            * col("__t").cast("double")
            + col("__t").cast("double") * col("__t").cast("double")))),
          roundScale).as("p_approx"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst, Trans.
    * ASCE'51; Mandelbrot & Wallis'69) over the daily event counts: for
    * each block size m the day series splits into ⌊T/m⌋ complete
    * blocks; per block R = range of the cumulative deviations from the
    * block mean and S = population σ; H is the log–log slope of the
    * mean R/S against m. H ≈ 0.5 says the day-to-day fluctuation is
    * memoryless; H → 1 flags long-range persistence (trends,
    * self-similar bursts) that [[acfDaily]]'s fixed lags can miss —
    * the long-memory companion to the burstiness/ACF readouts.
    *
    * Determinism: the cumulative deviation is computed as
    * (integer prefix sum) − t·mean — never a float cumsum, whose
    * engine-side association differs — so Z_t is bit-identical
    * cross-engine; per-m mean R/S is the one cross-block float sum and
    * is rounded BEFORE the slope regression, making the regression
    * input exactly reproducible. Zero-σ blocks (constant counts) are
    * excluded from the mean.
    *
    * Shape: one day-grain aggregate, then explode × |blockSizes| and
    * windows over the day grid — bounded by days × block sizes. Output:
    * one row per block size (m, n_blocks, mean_rs) with the fitted
    * `hurst` slope repeated (a 1-row regression over ≤|blockSizes|
    * points, broadcast back). */
  def hurstDaily(events: DataFrame, tsCol: String,
                 blockSizes: Seq[Int] = Seq(8, 16, 32),
                 roundScale: Int = 6): DataFrame = {
    require(blockSizes.nonEmpty && blockSizes.forall(_ >= 2),
      s"need block sizes >= 2: $blockSizes")
    val counts = events
      .groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("__rn", row_number().over(Window.orderBy(col("day"))))
      .withColumn("__m", explode(array(blockSizes.map(lit): _*)))
      .withColumn("__blk", ((col("__rn") - 1) / col("__m")).cast("long"))
    val wBlk = Window.partitionBy(col("__m"), col("__blk"))
    val wCum = wBlk.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val blocks = counts
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .filter(col("__cnt") === col("__m")) // complete blocks only
      .withColumn("__sx", sum(col("x")).over(wBlk))
      .withColumn("__sxx", sum(col("x") * col("x")).over(wBlk))
      .withColumn("__t", row_number().over(wBlk.orderBy(col("day"))))
      // Z_t = (exact integer prefix sum) − t · mean
      .withColumn("__z", sum(col("x")).over(wCum).cast("double")
        - col("__t").cast("double")
          * (col("__sx").cast("double") / col("__m").cast("double")))
      .groupBy(col("__m"), col("__blk"))
      .agg((max(col("__z")) - min(col("__z"))).as("__r"),
        sqrt(greatest(
          max(col("__sxx")).cast("double") / max(col("__m")).cast("double")
            - (max(col("__sx")).cast("double")
              / max(col("__m")).cast("double"))
            * (max(col("__sx")).cast("double")
              / max(col("__m")).cast("double")), lit(0.0))).as("__sd"))
      .filter(col("__sd") > 0.0)
    val perM = blocks.groupBy(col("__m").cast("long").as("block_size"))
      .agg(count(lit(1)).as("n_blocks"),
        round(avg(col("__r") / col("__sd")), roundScale).as("mean_rs"))
    // least-squares slope over (ln m, ln mean_rs) — ≤|blockSizes| points
    val fit = perM
      .select(log(col("block_size").cast("double")).as("__u"),
        log(col("mean_rs")).as("__v"))
      .agg(count(lit(1)).cast("double").as("__k"),
        sum(col("__u")).as("__su"), sum(col("__v")).as("__sv"),
        sum(col("__u") * col("__v")).as("__suv"),
        sum(col("__u") * col("__u")).as("__suu"))
      .select(round(
        when(col("__k") * col("__suu") - col("__su") * col("__su") > 0.0,
          (col("__k") * col("__suv") - col("__su") * col("__sv"))
            / (col("__k") * col("__suu") - col("__su") * col("__su"))),
        roundScale).as("hurst"))
    perM.crossJoin(broadcast(fit))
  }

  /** Schuster periodogram of the daily event counts at candidate
    * periods (Schuster, Terr. Mag.'1898; the classical DFT power
    * readout): for each period p, I(p) = [(Σ x_t cos ω t)² +
    * (Σ x_t sin ω t)²]/T with ω = 2π/p — the spectral companion to
    * [[acfDaily]]: ACF answers "is there memory at lag L", the
    * periodogram answers "HOW MUCH of the variance lives at cycle p"
    * and ranks candidate seasonalities (weekly vs biweekly vs monthly)
    * in one table. Mean-centered first so the DC component doesn't
    * drown the cycles.
    *
    * Shape: one day-grain aggregate, explode × |periods|, one per-period
    * aggregate — bounded by days × periods. cos/sin are the libm steps
    * and the projections are float sums → power is rounded. */
  def periodogramDaily(events: DataFrame, tsCol: String,
                       periods: Seq[Int] = Seq(7, 14, 30),
                       roundScale: Int = 6): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"need periods >= 2: $periods")
    val counts = events
      .groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("__t",
        row_number().over(Window.orderBy(col("day"))).cast("double"))
      .withColumn("__n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__mu", (sum(col("x")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing))).cast("double")
        / col("__n").cast("double"))
      .withColumn("period", explode(array(periods.map(lit): _*)))
    counts
      .withColumn("__w", lit(2.0) * lit(math.Pi) / col("period")
        .cast("double"))
      .withColumn("__xc", col("x").cast("double") - col("__mu"))
      .groupBy(col("period").cast("long").as("period"))
      .agg(max(col("__n")).as("n_days"),
        round((sum(col("__xc") * cos(col("__w") * col("__t")))
          * sum(col("__xc") * cos(col("__w") * col("__t")))
          + sum(col("__xc") * sin(col("__w") * col("__t")))
          * sum(col("__xc") * sin(col("__w") * col("__t"))))
          / max(col("__n")).cast("double"), roundScale).as("power"))
  }

  /** Ljung–Box portmanteau statistic over the daily event counts
    * (Ljung & Box, Biometrika '78): per lag k ≤ h, the BIASED global-mean
    * ACF estimate ρ̂_k = Σ_t (x_t−x̄)(x_{t−k}−x̄) / Σ_t (x_t−x̄)², and the
    * cumulative Q(h) = n(n+2) Σ_{k≤h} ρ̂_k²/(n−k) — the "is this series
    * white noise AT ALL" gate that [[autocorrelation]]'s per-lag view
    * doesn't answer (seven individually-insignificant ρ's can jointly
    * reject): run it before trusting i.i.d.-assuming monitors (CUSUM
    * thresholds, Poisson alarms) on the daily grid. Under H0, Q(h) ~ χ²_h;
    * emitted per lag so the whole profile Q(1..h) reads in one table.
    * Uses the canonical biased estimator (denominator n, global x̄), NOT
    * [[autocorrelation]]'s per-pair Pearson — the χ² calibration assumes
    * this form.
    *
    * Scale shape: events collapse to the DAY GRID in one hash aggregate;
    * the lag pairing is an equi-join on the dense row_number index bounded
    * by days × h, and Q's cumulative sum is a window over h rows. The
    * day-grid windows are the documented calendar-bounded exception. */
  def ljungBoxDaily(events: DataFrame, tsCol: String,
                    maxLag: Int, roundScale: Int = 6): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"maxLag must be in [1,60]: $maxLag")
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val days = events
      .groupBy(date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__x"))
      .withColumn("__t", row_number().over(Window.orderBy(col("__day"))))
      .withColumn("__n", count(lit(1)).over(entire))
      .withColumn("__mu", sum(col("__x")).over(entire).cast("double")
        / count(lit(1)).over(entire).cast("double"))
      .withColumn("__c", col("__x").cast("double") - col("__mu"))
    val lagged = days.select(col("__t"), col("__n"), col("__c"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val perLag = lagged
      .join(lagged.select((col("__t") - col("lag")).as("__t"), col("lag"),
        col("__c").as("__cl")), Seq("__t", "lag"))
      .groupBy(col("lag"))
      .agg(sum(col("__c") * col("__cl")).as("__num"))
    val denom = days.agg(sum(col("__c") * col("__c")).as("__den"),
      max(col("__n")).as("__n0"))
    val cum = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perLag.crossJoin(broadcast(denom))
      .withColumn("__rho", when(col("__den") > 0, col("__num") / col("__den")))
      .withColumn("__term", col("__rho") * col("__rho")
        / (col("__n0") - col("lag")).cast("double"))
      .select(col("lag").cast("long").as("lag"),
        col("__n0").cast("long").as("n_days"),
        round(col("__rho"), roundScale).as("rho"),
        round(col("__n0").cast("double") * (col("__n0") + 2).cast("double")
          * sum(col("__term")).over(cum), roundScale).as("q_cum"))
  }

  /** Wald–Wolfowitz runs test over the daily counts dichotomized at
    * the grand mean (Wald & Wolfowitz, AMS '40): R = number of runs of
    * consecutive above/below-mean days, E[R] = 1 + 2n₁n₂/N,
    * Var = 2n₁n₂(2n₁n₂−N)/(N²(N−1)), z = (R−E)/√Var — the
    * NONPARAMETRIC randomness screen: too FEW runs flags clustering/
    * regime persistence, too MANY flags oscillation, and unlike
    * [[durbinWatsonDaily]]/[[ljungBoxDaily]] it sees only the SIGN
    * pattern, so a single outlier day can't buy or hide a rejection.
    * Days exactly AT the mean carry no sign and are dropped (possible
    * only when the mean lands on an integer; reported via n_days vs
    * n_above+n_below).
    *
    * R/E are exact integers/rationals — UNROUNDED (rational-halves
    * rule); z mixes the √ and rounds.
    *
    * Shape: one day-grain aggregate, one mean window, one lag-1 window
    * over the day grid, one fold — the calendar-bounded exception. */
  def runsTestDaily(events: DataFrame, tsCol: String,
                    roundScale: Int = 6): DataFrame = {
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ord = Window.orderBy(col("__day"))
    events
      .groupBy(date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__x"))
      .withColumn("__mu", sum(col("__x")).over(entire).cast("double")
        / count(lit(1)).over(entire).cast("double"))
      .withColumn("__s", when(col("__x") > col("__mu"), 1)
        .when(col("__x") < col("__mu"), 0))
      .filter(col("__s").isNotNull)
      .withColumn("__chg", when(lag(col("__s"), 1).over(ord).isNull
        || lag(col("__s"), 1).over(ord) =!= col("__s"), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__s").cast("long")).as("n_above"),
        (count(lit(1)) - sum(col("__s").cast("long"))).as("n_below"),
        sum(col("__chg")).as("n_runs"))
      .withColumn("__nn", col("n_days").cast("double"))
      .withColumn("__p", lit(2.0) * col("n_above").cast("double")
        * col("n_below").cast("double"))
      .withColumn("__var", col("__p") * (col("__p") - col("__nn"))
        / (col("__nn") * col("__nn") * (col("__nn") - 1)))
      .select(col("n_days"), col("n_above"), col("n_below"), col("n_runs"),
        (lit(1.0) + col("__p") / col("__nn")).as("runs_expected"),
        round(when(col("__var") > 0,
          (col("n_runs").cast("double") - (lit(1.0) + col("__p")
            / col("__nn"))) / sqrt(col("__var"))), roundScale).as("z"))
  }

  /** Western Electric zone rules over the daily-count control chart
    * (Western Electric SQC Handbook '56; the classic four): per day,
    * z = (x−x̄)/s against the whole-series center line, then
    *   R1: |z| > 3 (a point outside the control limits),
    *   R2: ≥2 of the trailing 3 days beyond 2σ on the SAME side,
    *   R3: ≥4 of the trailing 5 days beyond 1σ on the SAME side,
    *   R4: all of the trailing 8 days on the same side of center.
    * The PATTERN alarms a 3σ rule misses: a process drifting 1.5σ never
    * trips R1 but lights R4 within a week — run them beside
    * [[TimeSeries.cusumOverCounts]]-style monitors as the
    * chart-reading layer. Each rule requires its FULL trailing window
    * (no vacuous early-day alarms); rules evaluate on the UNROUNDED z,
    * the emitted z rounds.
    *
    * Retrospective form: center/σ come from the charted series itself
    * (a live deployment freezes them from a reference window — swap the
    * mean/sd frame, the rule windows are unchanged).
    *
    * Shape: one day-grain aggregate, one mean/sd window, four bounded
    * trailing windows over the day grid — the calendar-bounded
    * exception. */
  def controlRulesDaily(events: DataFrame, tsCol: String,
                        roundScale: Int = 6): DataFrame = {
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def trail(n: Int) = Window.orderBy(col("day")).rowsBetween(-(n - 1), 0)
    val z = events
      .groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__mu", avg(col("n")).over(entire))
      .withColumn("__sd", stddev_samp(col("n")).over(entire))
      .withColumn("__z", when(col("__sd") > 0,
        (col("n").cast("double") - col("__mu")) / col("__sd")))
    z
      .withColumn("__c3", count(lit(1)).over(trail(3)))
      .withColumn("__c5", count(lit(1)).over(trail(5)))
      .withColumn("__c8", count(lit(1)).over(trail(8)))
      .withColumn("__hi2", sum(when(col("__z") > 2.0, 1).otherwise(0))
        .over(trail(3)))
      .withColumn("__lo2", sum(when(col("__z") < -2.0, 1).otherwise(0))
        .over(trail(3)))
      .withColumn("__hi1", sum(when(col("__z") > 1.0, 1).otherwise(0))
        .over(trail(5)))
      .withColumn("__lo1", sum(when(col("__z") < -1.0, 1).otherwise(0))
        .over(trail(5)))
      .withColumn("__hi0", sum(when(col("__z") > 0.0, 1).otherwise(0))
        .over(trail(8)))
      .withColumn("__lo0", sum(when(col("__z") < 0.0, 1).otherwise(0))
        .over(trail(8)))
      .select(col("day"), col("n"),
        round(col("__z"), roundScale).as("z"),
        (abs(col("__z")) > 3.0).as("r1_beyond_3s"),
        (col("__c3") === 3 && (col("__hi2") >= 2 || col("__lo2") >= 2))
          .as("r2_two_of_three_2s"),
        (col("__c5") === 5 && (col("__hi1") >= 4 || col("__lo1") >= 4))
          .as("r3_four_of_five_1s"),
        (col("__c8") === 8 && (col("__hi0") === 8 || col("__lo0") === 8))
          .as("r4_eight_one_side"))
  }

  /** Durbin–Watson statistic over the mean-centered daily counts
    * (Durbin & Watson, Biometrika '50): DW = Σ(e_t − e_{t−1})²/Σe_t² —
    * the one-number lag-1 serial-correlation screen (DW ≈ 2(1−ρ₁):
    * ≈2 independent, →0 positive persistence, →4 alternation) that
    * regression residual checks reach for first; cheaper than the full
    * [[ljungBoxDaily]] profile when only lag-1 matters. Residuals here
    * are deviations from the grand mean (the intercept-only model), the
    * right null for a count monitor.
    *
    * Shape: one day-grain aggregate, one lag-1 window over the day
    * grid, one fold — the documented calendar-bounded exception. */
  def durbinWatsonDaily(events: DataFrame, tsCol: String,
                        roundScale: Int = 6): DataFrame = {
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ord = Window.orderBy(col("__day"))
    events
      .groupBy(date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__x"))
      .withColumn("__e", col("__x").cast("double")
        - sum(col("__x")).over(entire).cast("double")
          / count(lit(1)).over(entire).cast("double"))
      .withColumn("__d", col("__e") - lag(col("__e"), 1).over(ord))
      .agg(count(lit(1)).as("n_days"),
        round(when(sum(col("__e") * col("__e")) > 0,
          sum(col("__d") * col("__d")) / sum(col("__e") * col("__e"))),
          roundScale).as("dw"))
  }

  /** Autocorrelation function of the daily event count at lags
    * 1..maxLag (the Box–Jenkins identification tool): per lag L, the
    * Pearson correlation of (n_d, n_{d+L}) over the overlapping day
    * pairs. THE seasonality/persistence readout before any forecasting
    * or anomaly model: a weekly cycle prints as a ρ spike at lag 7, a
    * trend as slow decay, white noise as ≈0 everywhere. ρ is composed
    * cov/√(vx·vy) in the [[Graph.assortativity]] tree (null at zero
    * variance, never ANSI-thrown); pairing uses an integer day index so
    * the lag join is a plain equi-join, portable across engines.
    *
    * Scale shape: events collapse to the DAY GRID in one hash
    * aggregate; everything after (lag explode, self-join, per-lag stats
    * aggregate) is bounded by days × maxLag, never rows. */
  def autocorrelation(events: DataFrame, tsCol: String,
                      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"maxLag must be in [1,60]: $maxLag")
    val days = events
      .groupBy(datediff(to_date(col(tsCol)), lit("2024-01-01").cast("date"))
        .as("__day"))
      .agg(count(lit(1)).cast("double").as("__n"))
    val lagged = days.select(col("__day"), col("__n"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"))
    lagged
      .join(lagged.select((col("__day") - col("lag")).as("__day"),
        col("lag"), col("__n").as("__n_lag")), Seq("__day", "lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        covar_samp(col("__n"), col("__n_lag")).as("__cov"),
        var_samp(col("__n")).as("__vx"), var_samp(col("__n_lag")).as("__vy"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("__vx") > 0 && col("__vy") > 0,
          round(col("__cov") / sqrt(col("__vx") * col("__vy")), 6))
          .as("acf"))
  }

  /** Hour-of-day multiplicative seasonal index per key (the classical
    * ratio-to-moving-average seasonality readout, reduced to the fixed
    * 24-slot diurnal cycle): for each key, index(h) = 24·n_h/N — how
    * far hour h runs above (>1) or below (<1) the key's flat-rate
    * expectation. THE sanity profile for event-time data: ingestion
    * gaps show as craters, bot traffic as a flat line at 1.0, and a
    * drifted timezone as a shifted curve. Every (key, hour) cell of the
    * full 24-slot grid is emitted — silent hours carry n=0, index=0,
    * which IS the signal (an absent row would read as "no data" rather
    * than "no traffic").
    *
    * Scale shape: one (key, hour) hash aggregate over the events (24
    * cells per key — map-side combine collapses the stream), one
    * key-level roll-up of those CELLS (not the raw events), a
    * sequence-literal explode to build the 24-slot grid, and a
    * key-equi-joined fill. No window, no iteration; shuffle keys are
    * (key, hour) then key. Index arithmetic is exact-integer ratios
    * rounded at 6dp. */
  def seasonalIndex(events: DataFrame, tsCol: String,
                    keyCol: String): DataFrame = {
    val cells = events
      .groupBy(col(keyCol), hour(col(tsCol)).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col(keyCol)).agg(sum(col("n")).as("__tot"))
    val grid = totals.select(col(keyCol), col("__tot"),
      explode(sequence(lit(0), lit(23))).as("hour_of_day"))
    grid.join(cells, Seq(keyCol, "hour_of_day"), "left")
      .select(col(keyCol), col("hour_of_day"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(lit(24.0) * coalesce(col("n"), lit(0L)) / col("__tot"), 6)
          .as("seasonal_index"))
  }

  /** Cross-correlation function (Box & Jenkins '70 ch. 11): Pearson
    * correlation between TYPE A's and TYPE B's daily counts at every
    * lead/lag in [−maxLag, maxLag] — does one event stream LEAD the
    * other (marketing clicks today → purchases in two days), and by how
    * many days? `lag > 0` means A(t) is compared against B(t + lag),
    * i.e. A leads B by `lag` days; the lag-0 row is the plain
    * contemporaneous correlation and the argmax row is the lead-time
    * estimate. The two-series sibling of [[autocorrelation]], sharing
    * its contract exactly: pairs are formed over OBSERVED days (a day
    * with no events on a side is absent, not zero — resample with a
    * zero-filled grid first if silence should count, as
    * [[seasonalNaiveEval]] does).
    *
    * Scale shape: two day-grain hash aggregates collapse the corpus;
    * everything after is bounded by days × (2·maxLag+1) — the
    * calendar-bounded join + one per-lag stats aggregate. Degenerate
    * lags (< 2 pairs or zero variance) yield null, never NaN. */
  def crossCorrelation(events: DataFrame, tsCol: String, typeCol: String,
                       typeA: String, typeB: String,
                       maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"maxLag must be in [1,60]: $maxLag")
    def daily(t: String) = events.filter(col(typeCol) === t)
      .groupBy(datediff(to_date(col(tsCol)), lit("2024-01-01").cast("date"))
        .as("__day"))
      .agg(count(lit(1)).cast("double").as("__n"))
    val a = daily(typeA).select(col("__day"), col("__n").as("__na"),
      explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
    val b = daily(typeB)
    a.join(b.select(col("__day").as("__dayB"), col("__n").as("__nb")),
        col("__dayB") === col("__day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        covar_samp(col("__na"), col("__nb")).as("__cov"),
        var_samp(col("__na")).as("__vx"), var_samp(col("__nb")).as("__vy"))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("__vx") > 0 && col("__vy") > 0,
          round(col("__cov") / sqrt(col("__vx") * col("__vy")), 6))
          .as("ccf"))
  }

  /** Seasonal-naive forecast evaluation (the MASE denominator family,
    * Hyndman & Koehler IJF'06): over the ZERO-FILLED daily total count
    * series, the in-sample MAE of the naive forecast (ŷ_t = y_{t−1})
    * and of the seasonal-naive forecast (ŷ_t = y_{t−period}), plus
    * their ratio — the scale-free baseline every fancier forecast must
    * beat, and by itself the cleanest "is there real weekly structure"
    * readout (ratio < 1 ⟺ last-week beats yesterday as a predictor).
    * Unlike the correlation family this FILLS silent days with zero:
    * a forecast line has to predict quiet days too.
    *
    * Scale shape: one day-grain hash aggregate collapses the corpus;
    * the zero-filled grid comes from a 1-row min/max aggregate +
    * `sequence` explode; the two lag comparisons run over the
    * calendar-bounded grid (the cusumDaily window contract). Absolute
    * errors are exact integers; the MAEs and ratio are the only
    * divisions, 6dp-rounded. Needs > `period` days of span; otherwise
    * the seasonal MAE (and ratio) are null. */
  def seasonalNaiveEval(events: DataFrame, tsCol: String,
                        period: Int = 7): DataFrame = {
    require(period >= 2 && period <= 366, s"period must be in [2,366]: $period")
    val daily = events
      .groupBy(datediff(to_date(col(tsCol)), lit("2024-01-01").cast("date"))
        .as("__day"))
      .agg(count(lit(1)).as("__n"))
    val span = daily.agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"))
    val grid = span
      .select(explode(sequence(col("__lo"), col("__hi"))).as("__day"))
      .join(daily, Seq("__day"), "left")
      .select(col("__day"), coalesce(col("__n"), lit(0L)).as("__y"))
    val w = Window.orderBy(col("__day"))
    val errs = grid.select(col("__y"),
      abs(col("__y") - lag(col("__y"), 1).over(w)).as("__e1"),
      abs(col("__y") - lag(col("__y"), period).over(w)).as("__eS"))
    errs.agg(count(lit(1)).as("n_days"),
        count(col("__e1")).as("__n1"), sum(col("__e1")).as("__s1"),
        count(col("__eS")).as("__nS"), sum(col("__eS")).as("__sS"))
      .select(col("n_days"),
        round(when(col("__n1") > 0,
          col("__s1").cast("double") / col("__n1").cast("double")), 6)
          .as("naive_mae"),
        round(when(col("__nS") > 0,
          col("__sS").cast("double") / col("__nS").cast("double")), 6)
          .as("seasonal_mae"),
        round(when(col("__n1") > 0 && col("__nS") > 0 && col("__s1") > 0,
          (col("__sS").cast("double") / col("__nS").cast("double"))
            / (col("__s1").cast("double") / col("__n1").cast("double"))), 6)
          .as("mase_ratio"))
  }

  /** The daily-grid prologue of the per-key daily-count operators:
    * (`__g` = key, `__day` = day of `tsCol`, `__y` = events that day) over
    * the rows with a timestamp. Days without events are absent rows. */
  private def dailyCounts(events: DataFrame, keyCol: String,
                          tsCol: String): DataFrame =
    events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__g"),
        date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))

  /** Normalized permutation entropy of order 3 per group (public: Bandt
    * & Pompe PRL'02): the entropy of ORDINAL PATTERNS — which of the 6
    * rank orders each consecutive day-count triple takes — over the
    * daily series. 1.0 = pattern-free noise, low values = strong
    * temporal structure (monotone drifts, strict cycles); the
    * model-free complexity dial beside [[acfDaily]]'s linear lags
    * (ordinal patterns see nonlinear structure autocorrelation can't).
    * Ties take the Bandt–Pompe earlier-index-first convention, so the
    * pattern of a triple is an exact integer function of two-way
    * comparisons — no ranks, no floats until the closing entropy.
    *
    * Scale shape: the calendar-bounded daily grid (one map-combined
    * aggregate), two lead windows over it, ONE ≤6-row-per-group pattern
    * aggregate; the entropy folds 6 bounded terms. */
  def permutationEntropyDaily(events: DataFrame, keyCol: String,
                              tsCol: String, roundScale: Int = 6)
      : DataFrame = {
    val daily = dailyCounts(events, keyCol, tsCol)
    val w = Window.partitionBy(col("__g")).orderBy(col("__day"))
    val tri = daily
      .withColumn("__b", lead(col("__y"), 1).over(w))
      .withColumn("__c", lead(col("__y"), 2).over(w))
      .filter(col("__c").isNotNull)
    val ab = col("__y") <= col("__b")
    val ac = col("__y") <= col("__c")
    val bc = col("__b") <= col("__c")
    // the three pairwise order bits determine the permutation (ties →
    // earlier index first, so "before" is <= along the index order)
    val pat = when(ab && bc, 0)
      .when(ab && !bc && ac, 1)
      .when(ab && !bc && !ac, 2)
      .when(!ab && bc && ac, 3)
      .when(!ab && bc && !ac, 4)
      .otherwise(5)
    val counts = tri.groupBy(col("__g"), pat.as("__p"))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col("__g").as(keyCol))
      .agg(sum(col("__c")).as("n_windows"),
        count(lit(1)).as("n_patterns"),
        sum(col("__c").cast("double")
          * log(col("__c").cast("double"))).as("__clogc"))
      .select(col(keyCol), col("n_windows"), col("n_patterns"),
        // H = ln n − (Σ c·ln c)/n, normalized by ln 6; the single-log
        // form folds exactly the same way on both engines
        round(when(col("n_windows") > 0,
          (log(col("n_windows").cast("double"))
            - col("__clogc") / col("n_windows")) / log(lit(6.0))),
          roundScale).as("perm_entropy"))
  }

  /** Holt's linear (double-exponential) smoothing over each group's
    * daily count series (public: Holt '57 / Winters '60, the
    * trend-aware upgrade of the EWMA): level and trend update as
    * ℓ' = α·y + (1−α)(ℓ+b), b' = β(ℓ'−ℓ) + (1−β)b, seeded with
    * ℓ = y₂, b = y₂−y₁. Emits the final state, the one-step-ahead
    * forecast ℓ+b and the in-sample RMSE of the one-step forecasts —
    * the capacity-planning readout beside [[pageHinkleyDaily]]'s alarm.
    *
    * Scale shape: the inherently SEQUENTIAL recursion never becomes a
    * driver loop — each group's day series collects into one ordered
    * array (bounded by the calendar span) and `functions.aggregate`
    * folds the state through it inside codegen; one hash aggregate,
    * one map-side fold, no shuffle beyond the grouping. The fold's
    * float ops replay identically in the oracle's recursive CTE (same
    * order, correctly-rounded ops), the ks/ewma ordered-fold contract
    * extended to a recurrence. */
  def holtLinear(events: DataFrame, keyCol: String, tsCol: String,
                 alpha: Double = 0.5, beta: Double = 0.25,
                 roundScale: Int = 6): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(beta > 0 && beta < 1, s"beta must be in (0,1): $beta")
    val series = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__g"),
        date_trunc("day", col(tsCol)).as("__day"))
      .agg(count(lit(1)).as("__y"))
      .groupBy(col("__g"))
      .agg(array_sort(collect_list(struct(col("__day").as("d"),
        col("__y").cast("double").as("y")))).as("__s"))
      .withColumn("__n", size(col("__s")))
    // seed consumes the first two points: l = y2, b = y2 - y1 (one of
    // the standard Holt initializations; pinned by the oracle mirror)
    val init = struct(
      element_at(col("__s"), 2).getField("y").as("l"),
      (element_at(col("__s"), 2).getField("y")
        - element_at(col("__s"), 1).getField("y")).as("b"),
      lit(0.0).as("sse"))
    val folded = aggregate(
      slice(col("__s"), lit(3), greatest(col("__n") - 2, lit(0))),
      init,
      (acc, x) => {
        val f = acc.getField("l") + acc.getField("b")
        val e = x.getField("y") - f
        val l2 = lit(alpha) * x.getField("y") + lit(1.0 - alpha) * f
        struct(
          l2.as("l"),
          (lit(beta) * (l2 - acc.getField("l"))
            + lit(1.0 - beta) * acc.getField("b")).as("b"),
          (acc.getField("sse") + e * e).as("sse"))
      })
    series
      .withColumn("__f", when(col("__n") >= 2, folded))
      .select(col("__g").as(keyCol), col("__n").cast("long").as("n_days"),
        round(col("__f").getField("l"), roundScale).as("level"),
        round(col("__f").getField("b"), roundScale).as("trend"),
        round(col("__f").getField("l") + col("__f").getField("b"),
          roundScale).as("forecast_next"),
        round(when(col("__n") > 2,
          sqrt(col("__f").getField("sse") / (col("__n") - 2)
            .cast("double"))), roundScale).as("rmse"))
  }

  /** Pinball (quantile) loss of the week-over-week seasonal-naive
    * forecast (public: the quantile-regression loss, Koenker & Bassett
    * '78; the M5/forecast-eval standard): forecast each day's count by
    * the SAME WEEKDAY one week earlier, scored at τ ∈ {0.1, 0.5, 0.9} —
    * under-forecasting hurts τ·(y−f), over-forecasting (1−τ)(f−y), so
    * the three rows read as the cost profile of planning low, median
    * and high.
    *
    * Scale shape: one (group, day) count aggregate, one calendar
    * self-join on day−7 (equi-join, no window), a 3-row τ explode, one
    * final aggregate. EXACT arithmetic throughout: τ is carried in
    * tenths so every per-day loss is the integer (10τ)·|y−f| or
    * (10−10τ)·|f−y| — the mean divides the exact integer sum by 10·n
    * once. */
  def pinballEval(events: DataFrame, keyCol: String, tsCol: String,
                  roundScale: Int = 6): DataFrame = {
    val daily = dailyCounts(events, keyCol, tsCol)
    val joined = daily.as("cur")
      .join(daily.as("prev"),
        col("cur.__g") === col("prev.__g") &&
          col("cur.__day") === col("prev.__day") + expr("INTERVAL 7 DAYS"))
      .select(col("cur.__g").as("__g"), col("cur.__y").as("__y"),
        col("prev.__y").as("__f"))
    val tau = explode(array(lit(1L), lit(5L), lit(9L)))
    joined.select(col("__g"), col("__y"), col("__f"), tau.as("__t10"))
      .withColumn("__loss10", when(col("__y") >= col("__f"),
        col("__t10") * (col("__y") - col("__f")))
        .otherwise((lit(10L) - col("__t10"))
          * (col("__f") - col("__y"))))
      .groupBy(col("__g").as(keyCol), col("__t10"))
      .agg(count(lit(1)).as("n_days"), sum(col("__loss10")).as("__s"))
      .select(col(keyCol), (col("__t10").cast("double") / 10.0).as("tau"),
        col("n_days"),
        round(col("__s").cast("double")
          / (lit(10L) * col("n_days")).cast("double"), roundScale)
          .as("mean_pinball"))
  }

  /** Hampel outlier filter over each group's daily count series
    * (public: Hampel '74 / the Pearson '02 process-data form every
    * signal-cleaning library ships): a day is flagged when it sits more
    * than 3 robust sigmas (1.4826·MAD) from the MEDIAN of its ±3-day
    * window — the median/MAD pair survives the very outliers a rolling
    * mean/σ would absorb. Emits flagged interior days with the local
    * median, MAD and robust z.
    *
    * Scale shape: one (group, day) count aggregate, ONE 7-row sliding
    * window collecting the neighborhood per day (bounded by the window
    * width, partitioned by group), array sort + element picks — medians
    * of ≤7 integers are dyadic-exact, so flag decisions are
    * bit-portable; only full windows are judged (the standard interior
    * convention). Every interior day is emitted with its flag (output
    * bounded by the calendar grid); callers filter `is_outlier` for the
    * alarm stream. */
  def hampelFilter(events: DataFrame, keyCol: String, tsCol: String,
                   windowRadius: Int = 3, nSigma: Double = 3.0,
                   roundScale: Int = 6): DataFrame = {
    require(windowRadius >= 1 && windowRadius <= 30,
      s"windowRadius must be in [1, 30]: $windowRadius")
    val width = 2 * windowRadius + 1
    val daily = dailyCounts(events, keyCol, tsCol)
    val w = Window.partitionBy(col("__g")).orderBy(col("__day"))
      .rowsBetween(-windowRadius, windowRadius)
    // lower/upper element average = exact dyadic median; indices are
    // Scala-side ints (every judged window has exactly `width` rows)
    val loIdx = (width + 1) / 2
    val hiIdx = width / 2 + 1
    def medianOf(arr: Column): Column =
      (element_at(arr, loIdx).cast("double")
        + element_at(arr, hiIdx).cast("double")) / 2.0
    val withMed = daily
      .withColumn("__win", sort_array(collect_list(col("__y")).over(w)))
      .filter(size(col("__win")) === width)
      .withColumn("__med", medianOf(col("__win")))
      .withColumn("__mad", medianOf(sort_array(
        transform(col("__win"),
          v => abs(v.cast("double") - col("__med"))))))
    withMed
      .withColumn("__dev", abs(col("__y").cast("double") - col("__med")))
      .select(col("__g").as(keyCol), col("__day").as("day"),
        col("__y").as("n_events"),
        round(col("__med"), roundScale).as("local_median"),
        round(col("__mad"), roundScale).as("local_mad"),
        round(when(col("__mad") > 0,
          col("__dev") / (lit(1.4826) * col("__mad"))), roundScale)
          .as("robust_z"),
        (col("__dev") > lit(nSigma) * lit(1.4826) * col("__mad"))
          .as("is_outlier"))
  }

  /** Gumbel fit of weekly block maxima by method of moments (public:
    * Gumbel '58; the Fisher–Tippett type-I EVT limit for maxima of
    * light-tailed series): weekly maxima of the daily counts per group,
    * fitted as β = σ√6/π, μ = x̄ − γβ, with the 1-in-100-week return
    * level μ − β·ln(−ln(0.99)) — "how big a daily spike should capacity
    * planning expect", the maxima-side EVT view beside the q_gpd_tail
    * exceedance fit.
    *
    * Scale shape: two bounded grid aggregates (daily → weekly max →
    * exact integer moments over the block-maxima grid); the three
    * transcendental constants (√6/π, Euler γ, ln(−ln .99)) are
    * DRIVER-side literals serialized identically into the plan and the
    * oracle SQL (the JL/IVF literal contract), so the fit is exact
    * integer moments × shared constants. */
  def gumbelBlockMax(events: DataFrame, keyCol: String, tsCol: String,
                     roundScale: Int = 6): DataFrame = {
    val daily = dailyCounts(events, keyCol, tsCol)
    val weekly = daily
      .groupBy(col("__g"), date_trunc("week", col("__day")).as("__wk"))
      .agg(max(col("__y")).as("__m"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mom = weekly.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_blocks"), sum(dec(col("__m"))).as("__s"),
        sum(dec(col("__m")) * dec(col("__m"))).as("__ss"))
      .filter(col("n_blocks") > 1)
    val mean = col("__s").cast("double") / col("n_blocks").cast("double")
    val sd = sqrt((dec(col("n_blocks")) * col("__ss")
      - col("__s") * col("__s")).cast("double") /
      (col("n_blocks") * (col("n_blocks") - 1)).cast("double"))
    val beta = sd * lit(GumbelC.sqrt6OverPi)
    val mu = mean - lit(GumbelC.eulerGamma) * beta
    mom.select(col("__g").as(keyCol), col("n_blocks"),
      round(mean, roundScale).as("block_mean"),
      round(sd, roundScale).as("block_sd"),
      round(beta, roundScale).as("gumbel_beta"),
      round(mu, roundScale).as("gumbel_mu"),
      round(mu - beta * lit(GumbelC.lnln99), roundScale)
        .as("return_level_100"))
  }

  /** Driver-side Gumbel constants, shared verbatim with the oracle SQL
    * (shortest-round-trip double printing parses back bit-identical). */
  private[graft] object GumbelC {
    val sqrt6OverPi: Double = math.sqrt(6.0) / math.Pi
    val eulerGamma: Double = 0.5772156649015329
    val lnln99: Double = math.log(-math.log(0.99))
  }

  /** Seasonal-strength decomposition (public: the STL-based strength
    * measure of Wang, Smith & Hyndman '06, on the weekday-means
    * seasonal component): 1 − var(y − s_dow)/var(y) per group — how
    * much of the daily-count variance the weekly cycle explains; ≈0
    * reads "no weekly seasonality", ≈1 "all cycle". The one-number
    * screen in front of q_seasonality's per-weekday table.
    *
    * Scale shape: one daily aggregate, one weekday-mean aggregate
    * joined back (broadcast — 7·groups rows), then BOTH variance folds
    * as ordered prefix cumsums over the per-group day grid (residuals
    * are floats; unordered sums would flap — the cochranC contract). */
  def seasonalStrength(events: DataFrame, keyCol: String, tsCol: String,
                       roundScale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyCounts(events, keyCol, tsCol)
    val dow = daily
      .groupBy(col("__g"), dayofweek(col("__day")).as("__dow"))
      .agg(sum(col("__y")).as("__sd"), count(lit(1)).as("__nd"))
      .select(col("__g"), col("__dow"),
        (col("__sd").cast("double") / col("__nd").cast("double"))
          .as("__smean"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastOf = (c: Column) => max(struct(col("__day").as("d"),
      c.as("c"))).getField("c")
    val folded = daily.as("dl")
      .join(dow.hint("broadcast").as("dw"),
        col("dl.__g") === col("dw.__g")
          && dayofweek(col("dl.__day")) === col("dw.__dow"))
      .select(col("dl.__g").as("__g"), col("dl.__day").as("__day"),
        col("dl.__y").cast("double").as("__yd"),
        (col("dl.__y").cast("double") - col("dw.__smean")).as("__r"))
      .withColumn("__cn", count(lit(1)).over(wCum))
      .withColumn("__cy", sum(col("__yd")).over(wCum))
      .withColumn("__cyy", sum(col("__yd") * col("__yd")).over(wCum))
      .withColumn("__crr", sum(col("__r") * col("__r")).over(wCum))
    val agg = folded.groupBy(col("__g").as(keyCol))
      .agg(lastOf(col("__cn")).as("n_days"),
        lastOf(col("__cy")).as("__sy"), lastOf(col("__cyy")).as("__syy"),
        lastOf(col("__crr")).as("__srr"))
    val nD = col("n_days").cast("double")
    val varY = (col("__syy") - col("__sy") * col("__sy") / nD) / nD
    val varR = col("__srr") / nD
    agg.select(col(keyCol), col("n_days"),
      round(varY, roundScale).as("var_total"),
      round(varR, roundScale).as("var_residual"),
      round(when(varY > 0, greatest(lit(0.0), lit(1.0) - varR / varY)),
        roundScale).as("seasonal_strength"))
  }

  /** Circular statistics of event time-of-day (public: Mardia & Jupp,
    * Directional Statistics '00): hours map to angles 2πh/24, the
    * resultant R̄ = |Σe^{iθ}|/n measures CONCENTRATION (R̄→1: all
    * activity at one hour; →0: uniform around the clock), with the
    * circular mean hour and circular variance 1−R̄ — the readout a
    * linear mean-of-hours gets wrong at the midnight wrap (23:00 and
    * 01:00 average to noon linearly, to midnight circularly).
    *
    * Scale shape: ONE (group, hour) count aggregate; cos/sin of the 24
    * angles are DRIVER-side constants snapped to 2⁻²⁰ dyadics, so the
    * S/C sums are exact integer×dyadic in ANY order (the PORTABILITY
    * snap contract — no ordered-fold needed); one atan2 + sqrt at the
    * end. */
  /** 2⁻²⁰-snapped hour-angle constants, shared verbatim with the oracle
    * SQL (dyadics print and parse exactly). */
  private[graft] val circularCos24: Seq[Double] = {
    val snap = (x: Double) => math.round(x * (1 << 20)).toDouble / (1 << 20)
    (0 until 24).map(h => snap(math.cos(2 * math.Pi * h / 24)))
  }
  private[graft] val circularSin24: Seq[Double] = {
    val snap = (x: Double) => math.round(x * (1 << 20)).toDouble / (1 << 20)
    (0 until 24).map(h => snap(math.sin(2 * math.Pi * h / 24)))
  }
  private[graft] val twelveOverPi: Double = 12.0 / math.Pi

  def circularHours(events: DataFrame, keyCol: String, tsCol: String,
                    roundScale: Int = 6): DataFrame = {
    val cosA = circularCos24
    val sinA = circularSin24
    val counts = events
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__g"), hour(col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__c"))
    val agg = counts
      .select(col("__g"), col("__c"),
        element_at(typedLit(cosA), col("__h") + 1).as("__cos"),
        element_at(typedLit(sinA), col("__h") + 1).as("__sin"))
      .groupBy(col("__g").as(keyCol))
      .agg(sum(col("__c")).as("n_events"),
        sum(col("__c") * col("__cos")).as("__sumc"),
        sum(col("__c") * col("__sin")).as("__sums"))
    val r = sqrt(col("__sumc") * col("__sumc")
      + col("__sums") * col("__sums")) / col("n_events").cast("double")
    agg.select(col(keyCol), col("n_events"),
      round(r, roundScale).as("resultant"),
      round(lit(1.0) - r, roundScale).as("circular_variance"),
      round(atan2(col("__sums"), col("__sumc")) * lit(twelveOverPi),
        roundScale).as("mean_hour_signed"))
  }

  /** Theil's U₂ forecast-quality ratio (public: Theil '66, the
    * forecast-eval standard): RMSE(candidate)/RMSE(naive last-value) —
    * U₂ < 1 means the candidate beats "predict yesterday", ≥ 1 means
    * the model adds nothing; here the candidate is the week-over-week
    * seasonal naive (the [[pinballEval]] forecaster), so the number
    * reads "is there exploitable weekly structure". Scored only on
    * days where BOTH forecasts exist.
    *
    * Scale shape: one daily aggregate + two calendar equi-joins
    * (day−7 and day−1); squared errors of integer counts are exact
    * integers, folded per group in one hash aggregate; two sqrt + one
    * division at the end. */
  def theilsU2(events: DataFrame, keyCol: String, tsCol: String,
               roundScale: Int = 6): DataFrame = {
    val daily = dailyCounts(events, keyCol, tsCol)
    val joined = daily.as("cur")
      .join(daily.as("wk"), col("cur.__g") === col("wk.__g") &&
        col("cur.__day") === col("wk.__day") + expr("INTERVAL 7 DAYS"))
      .join(daily.as("pv"), col("cur.__g") === col("pv.__g") &&
        col("cur.__day") === col("pv.__day") + expr("INTERVAL 1 DAYS"))
      .select(col("cur.__g").as("__g"), col("cur.__y").as("__y"),
        col("wk.__y").as("__fm"), col("pv.__y").as("__fn"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val em = dec(col("__fm") - col("__y"))
    val en = dec(col("__fn") - col("__y"))
    val agg = joined.groupBy(col("__g").as(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(em * em).as("__sm"), sum(en * en).as("__sn"))
    val nD = col("n_days").cast("double")
    val rm = sqrt(col("__sm").cast("double") / nD)
    val rn = sqrt(col("__sn").cast("double") / nD)
    agg.select(col(keyCol), col("n_days"),
      round(rm, roundScale).as("rmse_seasonal"),
      round(rn, roundScale).as("rmse_naive"),
      round(when(rn > 0, rm / rn), roundScale).as("theils_u2"))
  }

  /** Page–Hinkley change detector (public: Page, Biometrika '54; the
    * Hinkley '71 running-mean form every stream-drift library ships)
    * over each group's daily count series: mₜ = Σᵢ(yᵢ − ȳᵢ) accumulates
    * deviations from the RUNNING mean, and PH = max(mₜ − min m) is the
    * largest upward excursion — a mean shift shows as a ramp, noise
    * cancels. The batch twin of the streaming CUSUM monitors
    * (EventStreams), reporting the alarm day beside the statistic.
    *
    * Scale shape: one hash aggregate to the (group, day) grid, then
    * three ordered prefix windows over that calendar-bounded grid
    * (running mean, deviation cumsum, running min) — the ks/ewma
    * ordered-prefix contract; the arg-max ties break to the EARLIEST
    * day. Gap days are absent rows, not zeros (the pre-densify
    * adfDaily convention, documented). */
  def pageHinkleyDaily(events: DataFrame, keyCol: String, tsCol: String,
                       roundScale: Int = 6): DataFrame = {
    val daily = dailyCounts(events, keyCol, tsCol)
    val w = Window.partitionBy(col("__g")).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val m = daily
      .withColumn("__i", count(lit(1)).over(w))
      .withColumn("__cum", sum(col("__y")).over(w))
      .withColumn("__dev", col("__y").cast("double")
        - col("__cum").cast("double") / col("__i").cast("double"))
      .withColumn("__m", sum(col("__dev")).over(w))
      .withColumn("__mmin", min(col("__m")).over(w))
      .withColumn("__ph", col("__m") - col("__mmin"))
    m.groupBy(col("__g").as(keyCol))
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("__ph").as("ph"),
          (lit(0L) - unix_micros(col("__day"))).as("nt"),
          col("__day").as("d"))).as("__top"))
      .select(col(keyCol), col("n_days"),
        round(col("__top").getField("ph"), roundScale).as("ph_stat"),
        col("__top").getField("d").as("alarm_day"))
  }
}
