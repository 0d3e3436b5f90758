package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch event-behavior analytics over an event stream table (SURVEY.md
  * §2b): transition matrices, ordered funnels, cohort retention — the
  * product-analytics trio every event warehouse serves.
  *
  * Scale shape: everything is keyed by the entity (user) — per-user
  * windows over individually-bounded series, or hash aggregates with
  * map-side combine. Nothing materializes a per-user unbounded state and
  * no operation is quadratic in events.
  */
object EventAnalytics {

  /** First-order (Markov) transition counts: for each consecutive event
    * pair in a user's (ts, tiebreak)-ordered stream, count (prev_type →
    * type). Row-normalizing the counts gives the empirical transition
    * matrix; a user's first event has no predecessor and contributes
    * nothing.
    *
    * Scale shape: one per-user window pass (lag-1), one map-combined hash
    * aggregate over |types|² keys. */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    events
      .select(col(userCol), col(typeCol),
        lag(col(typeCol), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(typeCol))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Ordered funnel: how far each user progresses through `steps`, where
    * step i+1 must occur STRICTLY AFTER the user's earliest qualifying
    * step-i time (the standard unordered-events/ordered-funnel
    * semantics). Returns (steps_completed, n_users) — users with no
    * step-1 event are out of the funnel entirely (the conventional
    * base is step-1 reachers).
    *
    * Scale shape: one filtered aggregate for step 1, then per additional
    * step one left-join + conditional min aggregate — every phase keyed
    * on the user, so after the first exchange the partitioning is reused
    * (ENSURE_REQUIREMENTS inserts no further shuffles on the same key).
    * Steps is a small literal list; cost ∝ steps × events-of-that-type. */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate funnel step: $steps")
    val ev = events.select(col(userCol), col(tsCol), col(typeCol))
    var reached = ev.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t1"))
    steps.tail.zipWithIndex.foreach { case (step, idx) =>
      val prev = s"__t${idx + 1}"
      val cur = s"__t${idx + 2}"
      val keep = (1 to idx + 1).map(j => first(col(s"__t$j")).as(s"__t$j"))
      val nextT = min(when(col(typeCol) === step && col(tsCol) > col(prev),
        col(tsCol))).as(cur)
      reached = reached.join(ev, Seq(userCol), "left")
        .groupBy(col(userCol))
        .agg(keep.head, (keep.tail :+ nextT).toIndexedSeq: _*)
    }
    // steps_completed = count of non-null step times (monotone: __t(i+1)
    // non-null implies __t(i) non-null by construction)
    val nNonNull = steps.indices
      .map(i => when(col(s"__t${i + 1}").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    reached
      .select(col(userCol), nNonNull.cast("long").as("steps_completed"))
      .groupBy(col("steps_completed"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort retention: users bucketed by the day of their FIRST event;
    * for each (cohort_day, day_offset) the count of distinct cohort users
    * active that day — the retention-curve matrix.
    *
    * Scale shape: first-seen is one min-aggregate on the user; activity
    * days deduplicate in the same aggregate that counts them (distinct
    * user per cell); both shuffles are on bounded keys. */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val first = events.groupBy(col(userCol))
      .agg(date_trunc("day", min(col(tsCol))).as("cohort_day"))
    events
      .select(col(userCol), date_trunc("day", col(tsCol)).as("__day"))
      .join(first, Seq(userCol))
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  /** Frequent event-type sequences of length `n` (behavior motifs): per
    * user, the ordered event stream's consecutive n-grams, counted
    * corpus-wide, top-k. [[transitionCounts]] is the n=2 special case;
    * longer motifs separate funnel-like behavior ("view>click>purchase")
    * from loops ("click>view>click") that a transition matrix blurs
    * together.
    *
    * Shape: one lag-chain window per user ((ts, id)-ordered, the
    * deterministic-ordering contract), ONE map-combined hash aggregate
    * over the bounded type^n key space, TakeOrdered top-k with the
    * (count desc, sequence asc) portable ranking. */
  def eventSequences(events: DataFrame, userCol: String, tsCol: String,
                     idCol: String, typeCol: String, n: Int,
                     topK: Int): DataFrame = {
    require(n >= 2 && n <= 5, s"sequence length must be in [2, 5]: $n")
    require(topK > 0, s"topK must be positive: $topK")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val parts = (n - 1 to 0 by -1).map(i =>
      if (i == 0) col(typeCol) else lag(col(typeCol), i).over(w))
    events
      // a full window exists only when EVERY part is non-null — testing
      // just the oldest lag would let concat_ws silently skip a null
      // mid-window and count the truncated (n−1)-token string as a full
      // n-gram. Parts are staged as columns (window expressions can't
      // sit in a filter); SQL `||` NULL-propagation is the oracle twin.
      .withColumns(
        parts.zipWithIndex.map { case (p, i) => s"__p$i" -> p }.toMap)
      .filter((0 until n).map(i => col(s"__p$i").isNotNull).reduce(_ && _))
      .withColumn("__seq",
        concat_ws(">", (0 until n).map(i => col(s"__p$i")): _*))
      .groupBy(col("__seq").as("sequence"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("sequence").asc)
      .limit(topK)
  }

  /** Time-decay multi-touch attribution: each conversion's credit is
    * split over the user's touch events inside the lookback window,
    * weighted by a half-life decay and NORMALIZED per conversion (credits
    * sum to 1 per conversion — the standard marketing multi-touch model;
    * time-decay per e.g. the Shao & Li KDD'11 data-driven-attribution
    * framing's baseline).
    *
    * The decay is STEPPED: weight = 2^(−⌊Δt/halfLife⌋) — halving per
    * whole half-life elapsed rather than continuously. Dyadic weights
    * make every credit an exact ratio of small powers of two, so results
    * are bit-reproducible across engines (a continuous 0.5^(Δt/h) runs
    * through libm `pow`, whose rounding differs); floor-bucketed decay is
    * also what you can precompute at 100 TB. Exponents clamp at 62 so the
    * bit-shift stays in Long range (beyond ~62 half-lives the weight is 0
    * at double precision anyway). While lookback/halfLife ≤ ~50, the
    * per-conversion weight SUM is also exact (dyadics within 53 bits of
    * precision add exactly in any order), so normalized credits are
    * bit-reproducible regardless of aggregation order.
    *
    * Scale shape: one equi-join of conversions against touches on the
    * USER key with the time-range predicate as a post-join filter (the
    * state-bounded interval-join shape — the streaming twin is
    * [[graft.streaming.EventStreams.attributedPurchases]]), then one
    * per-conversion window sum to normalize. Join fan-out is bounded by
    * touches-per-user-per-window, never the corpus. */
  def timeDecayAttribution(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, convType: String,
                           touchTypes: Seq[String], lookbackMinutes: Int,
                           halfLifeMinutes: Int): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    require(!touchTypes.contains(convType),
      s"conversion type $convType cannot also be a touch type")
    require(lookbackMinutes > 0 && halfLifeMinutes > 0,
      s"lookback/halfLife must be positive: $lookbackMinutes/$halfLifeMinutes")
    // a conversion's identity is (user, ts): both sides deduplicate, so
    // an at-least-once feed (replayed batches, duplicate deliveries)
    // yields the same credits as exactly-once input. Two REAL conversions
    // sharing one timestamp therefore merge into one credit pool — carry
    // a distinct event id into tsCol's role if that distinction matters.
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol), col(tsCol).as("conv_ts")).distinct()
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(tsCol).as("touch_ts"),
        col(typeCol).as("touch_type")).distinct()
    // Δt in exact integer microseconds (timestamps carry sub-second
    // precision; second-truncation semantics differ across engines), one
    // explicit double division, floor — the same IEEE ops everywhere
    val halfMicros = halfLifeMinutes * 60000000.0
    val dt = (unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")))
      .cast("double")
    val halved = least(floor(dt / lit(halfMicros)).cast("long"), lit(62L))
    val w = Window.partitionBy(col(userCol), col("conv_ts"))
    conv.join(touches, Seq(userCol))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $lookbackMinutes MINUTES"))
      .withColumn("__halved", halved)
      // the Scala shiftleft wrapper only takes a literal shift — the SQL
      // function accepts a column
      .withColumn("__w", expr(
        "1.0 / cast(shiftleft(cast(1 as bigint), cast(__halved as int)) as double)"))
      .withColumn("credit", round(col("__w") / sum(col("__w")).over(w), 6))
      .select(col(userCol), col("conv_ts"), col("touch_ts"),
        col("touch_type"), col("credit"))
  }

  /** The lifetime at-risk grid behind [[kaplanMeier]] and
    * [[nelsonAalen]]: a user's duration runs first-event-day →
    * last-event-day, and the lifetime is an EVENT when the user's final
    * event (by the (ts, id) deterministic ordering) is `terminalType`,
    * right-CENSORED otherwise. One row per distinct duration `dur` with
    * `n_events`, `n_censored` and the users still at risk `__n_risk`.
    *
    * Scale shape: two user-level aggregates (map-side combined), one
    * duration-level aggregate, then cumulative windows over the
    * DISTINCT-DURATION grid — bounded by the observation span in days,
    * never user count; the single-partition window is over that tiny
    * grid only. */
  private def lifetimeAtRisk(events: DataFrame, userCol: String,
                             tsCol: String, idCol: String, typeCol: String,
                             terminalType: String): DataFrame = {
    val perUser = events.groupBy(col(userCol)).agg(
      date_trunc("day", min(col(tsCol))).as("__first"),
      date_trunc("day", max(col(tsCol))).as("__last"),
      max(struct(col(tsCol), col(idCol), col(typeCol))).getField(typeCol)
        .as("__lastType"))
    val grid = perUser
      .select(datediff(col("__last"), col("__first")).cast("long").as("dur"),
        (col("__lastType") === terminalType).as("__ev"))
      .groupBy(col("dur"))
      .agg(sum(when(col("__ev"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("__ev"), 0L).otherwise(1L)).as("n_censored"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    grid
      .withColumn("__n_risk",
        sum(col("n_events") + col("n_censored")).over(wAll)
          - coalesce(sum(col("n_events") + col("n_censored")).over(wPrev),
            lit(0L)))
  }

  /** Kaplan-Meier survival curve (Kaplan & Meier, JASA'58) over the
    * per-user observation lifetimes of [[lifetimeAtRisk]] — the
    * product-limit estimator reads S(t) = Π_{t_i ≤ t, d_i > 0} (1 − d_i/n_i),
    * reported at event times only (the standard step points). When some
    * d_i = n_i the curve hits exactly 0 and stays there (guarded — Spark
    * ln(0) is null while DuckDB's is -inf, so the zero is tracked as a
    * flag, not through the log).
    *
    * Scale shape: [[lifetimeAtRisk]]'s grid, then cumulative windows over
    * it; ln-sums accumulate in dur order in both engines (the ks/ewma
    * ordered-prefix contract). */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String,
                  terminalType: String): DataFrame = {
    val atRisk = lifetimeAtRisk(events, userCol, tsCol, idCol, typeCol,
      terminalType)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = col("n_events")
    atRisk
      .withColumn("__zeros",
        sum(when(d > 0 && d === col("__n_risk"), 1L).otherwise(0L))
          .over(wCum))
      .withColumn("__lnsum",
        sum(when(d > 0 && d < col("__n_risk"),
          log(lit(1.0) - d.cast("double") / col("__n_risk")))
          .otherwise(lit(0.0))).over(wCum))
      .filter(d > 0)
      .select(col("dur").as("duration_days"), col("__n_risk").as("n_risk"),
        col("n_events"), col("n_censored"),
        round(when(col("__zeros") > 0, lit(0.0))
          .otherwise(exp(col("__lnsum"))), 6).as("survival"))
  }

  /** Nelson–Aalen cumulative-hazard estimator (public: Nelson '72,
    * Aalen '78) over the same observation lifetimes as [[kaplanMeier]]:
    * Ĥ(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² (the Poisson-count
    * form), plus the Breslow survival exp(−Ĥ) — the hazard-side view KM
    * does not give: a straightening Ĥ(t) reads directly as a constant
    * event rate, and Ĥ is the additive quantity hazard models consume.
    * Both read the one [[lifetimeAtRisk]] grid, so lifetimes and
    * censoring match kaplanMeier's and the two curves are comparable row
    * for row. The float cumsum accumulates in dur order on both engines
    * (the ks/ewma ordered-prefix contract). */
  def nelsonAalen(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String,
                  terminalType: String): DataFrame = {
    val atRisk = lifetimeAtRisk(events, userCol, tsCol, idCol, typeCol,
      terminalType)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = col("n_events").cast("double")
    val nr = col("__n_risk").cast("double")
    atRisk
      .withColumn("__h", sum(d / nr).over(wCum))
      .withColumn("__v", sum(d / (nr * nr)).over(wCum))
      .filter(col("n_events") > 0)
      .select(col("dur").as("duration_days"), col("__n_risk").as("n_risk"),
        col("n_events"), col("n_censored"),
        round(col("__h"), 6).as("cum_hazard"),
        round(col("__v"), 6).as("hazard_var"),
        round(exp(lit(0.0) - col("__h")), 6).as("breslow_survival"))
  }

  /** Pairwise association rules over per-user item baskets (the classic
    * market-basket support/confidence/lift readout, Agrawal et al.
    * SIGMOD'93 measures): for every ordered pair A→B of co-occurring
    * items, support = P(A,B), confidence = P(B|A), lift =
    * P(A,B)/(P(A)·P(B)) — lift > 1 marks genuinely associated behaviors,
    * the segmentation signal behind "users who X also Y". All
    * probabilities are over distinct users.
    *
    * Scale shape: baskets are a distinct (user, item) projection (one
    * aggregate); the pair expansion is a self-equi-join ON USER, so each
    * user fans out to at most |itemset|² rows — bounded by the item
    * vocabulary, never user-count-quadratic; then one (a,b) aggregate
    * with map-side combine and two broadcast joins against the per-item
    * counts. Integer counts, divisions forced to double, 6dp. */
  def associationRules(events: DataFrame, userCol: String,
                       itemCol: String): DataFrame = {
    val baskets = events.select(col(userCol).as("__u"),
      col(itemCol).as("__i")).distinct()
    val nUsers = baskets.select(countDistinct(col("__u")).as("__n"))
    val perItem = baskets.groupBy(col("__i")).agg(count(lit(1)).as("__cnt"))
    val pairCounts = baskets.as("x")
      .join(baskets.as("y"), col("x.__u") === col("y.__u")
        && col("x.__i") =!= col("y.__i"))
      .groupBy(col("x.__i").as("item_a"), col("y.__i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairCounts
      .join(broadcast(perItem.select(col("__i").as("item_a"),
        col("__cnt").as("n_a"))), Seq("item_a"))
      .join(broadcast(perItem.select(col("__i").as("item_b"),
        col("__cnt").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        round(col("n_ab").cast("double") / col("__n"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
        round((col("n_ab").cast("double") / col("__n"))
          / ((col("n_a").cast("double") / col("__n"))
            * (col("n_b").cast("double") / col("__n"))), 6).as("lift"))
  }

  /** RFM segmentation (Hughes '94, the classic direct-marketing triad):
    * per user, Recency = days since their last event relative to the
    * corpus's newest day, Frequency = event count, Monetary = value sum —
    * each scored 1..5 against the POPULATION's quantile thresholds
    * (score 5 = most recent / most frequent / biggest spender), plus the
    * concatenated "RFM cell" code the campaign tooling keys on.
    *
    * Scores are QUANTILE-THRESHOLD scores, not equal-count ntiles: the
    * four exact 20/40/60/80% cuts of each metric are computed once,
    * broadcast, and every user is scored MAP-SIDE by three
    * threshold-comparison sums — no global sort, no unpartitioned
    * window, any user count. Ties sitting exactly on a cut share the
    * lower score (deterministic both engines; thresholds are 6dp-rounded
    * before comparison so interpolation ulps can't flip a boundary).
    *
    * Scale shape: one (user) hash aggregate, then per-metric VALUE
    * HISTOGRAMS feeding frequency-weighted exact percentiles — the cut
    * aggregate buffers one pair per distinct metric value (days span /
    * max event count / distinct 6dp spend sums), never one entry per
    * user, so there is no buffer-the-user-grain final task at any user
    * count; interpolation is bit-identical to the plain exact
    * percentile (spec-pinned). The anchor day rides the same broadcast
    * chain, so nothing shuffles twice. */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
          valCol: String): DataFrame = {
    // cached: the user-grain aggregate feeds THREE consumers (the anchor
    // 1-row max, the quantile-cut 1-row aggregate, and the scored
    // output) — uncached, the corpus-sized events aggregate would run
    // once per consumer (the plan showed exactly that). User grain is
    // orders of magnitude smaller than event grain, so caching it beats
    // re-aggregating the corpus even when it spills.
    val perUser = events
      .groupBy(col(userCol))
      .agg(max(date_trunc("day", col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        round(sum(col(valCol)), 6).as("monetary"))
      .cache()
    val anchor = perUser.agg(max(col("__last")).as("__anchor"))
    val withRec = perUser.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("__anchor"), col("__last")).cast("long"))
    // cuts via FREQUENCY-WEIGHTED percentile over per-metric value
    // HISTOGRAMS: percentile(v, p, cnt) interpolates bit-identically to
    // the plain exact form but its ObjectHashAggregate buffers one
    // (value, count) pair per DISTINCT value instead of one entry per
    // user — recency is bounded by the corpus day span and frequency by
    // the max event count, so the former buffer-the-whole-user-grain
    // final task (the real 100×-scale memory cliff here) becomes a
    // histogram reduce; the histogram aggregates themselves are
    // map-side-combinable hash aggregates over the cached user grain.
    def cuts4(d: DataFrame, metric: String, tag: String): DataFrame = {
      val h = d.groupBy(col(metric)).agg(count(lit(1)).as("__cnt"))
      h.agg(
        round(expr(s"percentile($metric, 0.2D, __cnt)"), 6)
          .as(s"__${tag}20"),
        round(expr(s"percentile($metric, 0.4D, __cnt)"), 6)
          .as(s"__${tag}40"),
        round(expr(s"percentile($metric, 0.6D, __cnt)"), 6)
          .as(s"__${tag}60"),
        round(expr(s"percentile($metric, 0.8D, __cnt)"), 6)
          .as(s"__${tag}80"))
    }
    val cuts = cuts4(withRec, "recency_days", "r")
      .crossJoin(cuts4(perUser, "frequency", "f"))
      .crossJoin(cuts4(perUser, "monetary", "m"))
    def up(c: Column, t: String*) : Column =
      t.map(q => when(c > col(q), 1).otherwise(0)).reduce(_ + _) + 1
    def down(c: Column, t: String*) : Column =
      t.map(q => when(c < col(q), 1).otherwise(0)).reduce(_ + _) + 1
    withRec.crossJoin(broadcast(cuts))
      .withColumn("r_score",
        down(col("recency_days").cast("double"),
          "__r80", "__r60", "__r40", "__r20"))
      .withColumn("f_score",
        up(col("frequency").cast("double"),
          "__f20", "__f40", "__f60", "__f80"))
      .withColumn("m_score",
        up(col("monetary"), "__m20", "__m40", "__m60", "__m80"))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score"))
          .as("rfm_code"))
  }

  /** Per-user inter-arrival gap statistics: count, mean, median and max
    * of the second-gaps between consecutive events in each user's
    * (ts, tiebreak)-ordered stream — the cadence fingerprint that
    * separates organic users (heavy-tailed gaps) from schedulers and
    * replayed traffic (near-constant gaps), the per-entity complement of
    * [[Stats.burstiness]]'s daily-count dispersion.
    *
    * Scale shape: one per-user lag window (each user's series is
    * individually bounded — the analysis unit) + ONE (user) hash
    * aggregate. The exact per-user median buffers only that user's gaps,
    * the same bounded-group contract as the window. Gaps are exact
    * micro-second longs divided by 10⁶ once; users with a single event
    * have no gaps and are dropped (join the output back against the
    * user list if their absence is itself the signal). */
  def interArrivalStats(events: DataFrame, userCol: String, tsCol: String,
                        tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    events
      .select(col(userCol),
        (unix_micros(col(tsCol))
          - lag(unix_micros(col(tsCol)), 1).over(w)).as("__gapUs"))
      .filter(col("__gapUs").isNotNull)
      .groupBy(col(userCol))
      // aggregate on the exact micro-second LONGS and divide by 10⁶
      // LAST: integer sums/midpoints are exact in doubles, so the one
      // closing division is correctly rounded — dividing per row first
      // makes the median interpolate on dividing-error doubles, which
      // flipped a 6dp boundary in practice
      // NOTHING here is rounded, deliberately: every statistic is an
      // exact-integer-derived double (integer sums/midpoints of micros,
      // then one or two IEEE divisions — bit-identical cross-engine),
      // while ROUNDING is not: micro means/medians routinely terminate
      // at a .xxxxxx5 shortest rep, exactly where Spark's
      // decimal-string HALF_UP and a binary-value round disagree (both
      // the mean and the median hit that boundary on the harness data)
      .agg(count(lit(1)).as("n_gaps"),
        (avg(col("__gapUs")) / 1000000.0).as("mean_gap_s"),
        (expr("percentile(__gapUs, 0.5)") / 1000000.0)
          .as("median_gap_s"),
        (max(col("__gapUs")).cast("double") / 1000000.0)
          .as("max_gap_s"))
  }

  /** Conversion latency: per group, how MANY of the users who did
    * `fromType` went on to do `toType` strictly after their first
    * `fromType`, and how LONG that took — conversion rate plus the
    * p50/p90/mean of first-touch→first-conversion seconds. The latency
    * distribution [[funnelSteps]]' depth counts don't give (two funnels
    * with identical conversion can have hour-vs-week lags — the lag IS
    * the product signal), using the funnel's own strictly-after
    * semantics.
    *
    * Scale shape: two filtered (group, user) min-aggregates + one
    * conditional-min join keyed on the user (cached — two consumers),
    * then one group aggregate for counts/rate/mean and one
    * (group, latency) HISTOGRAM feeding frequency-weighted exact
    * percentiles — the per-group percentile buffer holds distinct
    * latencies, never the converted-user list, and interpolates
    * bit-identically to the plain exact form (spec-pinned).
    * Latency stats are exact-micro-derived and deliberately UNROUNDED
    * (PORTABILITY.md rational-half rule); the conversion rate is an
    * exact integer ratio, 6dp. */
  def conversionLatency(events: DataFrame, groupCol: String,
                        userCol: String, tsCol: String,
                        fromType: String, toType: String): DataFrame = {
    val first = events.filter(col("event_type") === fromType)
      .groupBy(col(groupCol), col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("__t0"))
    val conv = events.filter(col("event_type") === toType)
      .select(col(groupCol), col(userCol),
        unix_micros(col(tsCol)).as("__t1"))
    // cached: the (group, user) conversion frame feeds TWO consumers
    // (the base rate/mean aggregate and the latency histogram) —
    // uncached, the events scan + join would run once per consumer;
    // user grain is orders smaller than event grain (rfm precedent)
    val joined = first
      .join(conv, Seq(groupCol, userCol), "left")
      .groupBy(col(groupCol), col(userCol), col("__t0"))
      .agg(min(when(col("__t1") > col("__t0"), col("__t1"))).as("__tc"))
      .cache()
    val base = joined.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_from_users"),
        count(col("__tc")).as("n_converted"),
        round(count(col("__tc")).cast("double")
          / count(lit(1)).cast("double"), 6).as("conversion_rate"),
        (avg(col("__tc") - col("__t0")) / 1000000.0).as("mean_latency_s"))
    // latency percentiles via the frequency-weighted exact form over a
    // (group, latency) histogram: interpolation is bit-identical to
    // percentile(lat, p) (spec-pinned) but the per-group buffer holds
    // one pair per DISTINCT latency, never the converted-user list —
    // micro latencies rarely tie, so ALSO bucket consciously upstream
    // (or use percentile_approx) when a single group's converted-user
    // count is itself unbounded; groups here are the analysis unit.
    val lat = joined.filter(col("__tc").isNotNull)
      .select(col(groupCol), (col("__tc") - col("__t0")).as("__lat"))
      .groupBy(col(groupCol), col("__lat"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(groupCol))
      .agg((expr("percentile(__lat, 0.5D, __cnt)") / 1000000.0)
          .as("p50_latency_s"),
        (expr("percentile(__lat, 0.9D, __cnt)") / 1000000.0)
          .as("p90_latency_s"))
    base.join(lat, Seq(groupCol), "left")
      .select(col(groupCol), col("n_from_users"), col("n_converted"),
        col("conversion_rate"), col("p50_latency_s"),
        col("p90_latency_s"), col("mean_latency_s"))
  }

  /** Stationary distribution of the empirical first-order Markov chain
    * (power iteration, `iters` UNROLLED rounds from the uniform vector):
    * where the event process settles if today's transition behavior
    * holds — emitted beside each type's raw EMPIRICAL share, so the
    * readout is the gap between "where traffic is" and "where the
    * dynamics push it" (a type whose π exceeds its current share is
    * accumulating). The chain is the row-normalized
    * [[transitionCounts]] matrix.
    *
    * The state set is the OBSERVED TYPE UNIVERSE (the shares table's
    * keys), not just transition endpoints — a type seen only as
    * single-event users' sole event still holds empirical share, and pi
    * must cover the same support. States with no outgoing transitions
    * (absorbing last-types, or those transition-less types) keep their
    * mass via an implicit self-loop — the standard absorbing-state
    * convention, and the choice that preserves Σπ = 1 exactly.
    *
    * Scale shape: the corpus is touched exactly twice (the transition
    * window+aggregate, and the share aggregate); every iteration after
    * that joins k-row vectors with the k²-row matrix — bounded by the
    * type vocabulary, never the event count. Fixed iteration count, no
    * convergence test (the deterministic-plan contract shared with
    * pageRank/hits). */
  def stationaryDistribution(events: DataFrame, userCol: String,
                             tsCol: String, tieCol: String, typeCol: String,
                             iters: Int = 8): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    // tc/shares/states/p are all ≤ types²-row frames referenced by EVERY
    // unrolled power iteration (and by each other) — cache them or the
    // full events scan + transition aggregate re-runs once per reference
    // (the plan audit counted 40 event scans in the uncached plan; at
    // 100 TB that is 40 corpus passes for a k×k matrix)
    val tc = transitionCounts(events, userCol, tsCol, tieCol, typeCol)
      .withColumnRenamed(typeCol, "__dst").cache()
    // shares first: its k-row key set IS the observed type universe, so
    // the state set can include transition-less types (a type appearing
    // only as single-event users' sole event has no endpoint in tc but
    // holds empirical share — dropping it would make pi and
    // empirical_share describe different supports) without a third
    // corpus scan. Such types get the absorbing self-loop below and
    // keep their uniform-start mass.
    val shares = events.groupBy(col(typeCol).as("__s"))
      .agg(count(lit(1)).as("__n")).cache()
    val states = tc.select(col("prev_type").as("__s"))
      .union(tc.select(col("__dst").as("__s")))
      .union(shares.select(col("__s"))).distinct().cache()
    val outTot = tc.groupBy(col("prev_type"))
      .agg(sum(col("n_transitions")).as("__tot"))
    val pReal = tc.join(outTot, Seq("prev_type"))
      .select(col("prev_type").as("__src"), col("__dst"),
        (col("n_transitions").cast("double")
          / col("__tot").cast("double")).as("__p"))
    // absorbing states (no out-edges) hold their mass: self-loop p = 1
    val pSelf = states.join(outTot,
        states("__s") === outTot("prev_type"), "left_anti")
      .select(col("__s").as("__src"), col("__s").as("__dst"),
        lit(1.0).as("__p"))
    val p = pReal.unionByName(pSelf).cache()
    val k = states.count()
    var v = states.select(col("__s"), (lit(1.0) / k).as("__v"))
    for (_ <- 1 to iters) {
      v = v.join(p, v("__s") === p("__src"))
        .groupBy(col("__dst"))
        .agg(sum(col("__v") * col("__p")).as("__v"))
        .withColumnRenamed("__dst", "__s")
    }
    // re-anchor on the full state set: a state whose mass hit exact 0
    // produces no aggregate row, but its π = 0 IS the readout
    val vAll = states.join(v, Seq("__s"), "left")
      .select(col("__s"), coalesce(col("__v"), lit(0.0)).as("__v"))
    val total = shares.agg(sum(col("__n")).as("__t"))
    vAll.join(shares.crossJoin(broadcast(total))
        .select(col("__s"), (col("__n").cast("double")
          / col("__t").cast("double")).as("__emp")), Seq("__s"), "left")
      .select(col("__s").as(typeCol),
        round(col("__v"), 6).as("pi"),
        round(col("__emp"), 6).as("empirical_share"),
        round(col("__v") - col("__emp"), 6).as("pi_minus_share"))
  }

  /** Two-group log-rank test (Mantel, Cancer Chemother. Rep. '66; Peto
    * & Peto, JRSS-A '72) over per-subject (group, duration, event)
    * rows: at each distinct event time, observed group-A deaths vs the
    * hypergeometric expectation E = d·n_A/n given the at-risk sets,
    * pooled into z = Σ(O−E)/√ΣV and χ² = z² — THE test for "do these
    * two survival curves differ", weighting every event time by its
    * risk set (so early-time differences with full cohorts count more
    * than tail noise). Run it beside [[kaplanMeier]]: KM draws the
    * curves, log-rank says whether the gap is real. Censored subjects
    * leave the risk set at their duration without contributing an
    * event — exactly the KM convention.
    *
    * Sign: z > 0 ⇔ group A dies MORE than expected (worse survival).
    *
    * Scale shape: subjects collapse to the (group, duration) grid in
    * one hash aggregate; risk sets are suffix sums over the
    * calendar-bounded duration grid and the O/E/V folds are one closing
    * reduce. Observed/expected are float-summed rationals → rounded;
    * χ² degenerate (zero variance) → null. */
  def logRank(units: DataFrame, groupCol: String, durCol: String,
              eventCol: Column, sideA: String, sideB: String): DataFrame = {
    val perDur = units
      .filter(col(groupCol).isin(sideA, sideB) && col(durCol).isNotNull)
      .groupBy(col(durCol).cast("long").as("__t"))
      .agg(sum(when(col(groupCol) === sideA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === sideB, 1L).otherwise(0L)).as("__cb"),
        sum(when(col(groupCol) === sideA && eventCol, 1L).otherwise(0L))
          .as("__da"),
        sum(when(col(groupCol) === sideB && eventCol, 1L).otherwise(0L))
          .as("__db"))
    val atRisk = Window.orderBy(col("__t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    perDur
      .withColumn("__na", sum(col("__ca")).over(atRisk))
      .withColumn("__nb", sum(col("__cb")).over(atRisk))
      .withColumn("__n", col("__na") + col("__nb"))
      .withColumn("__d", col("__da") + col("__db"))
      .withColumn("__pa", col("__na").cast("double") / col("__n"))
      .withColumn("__e", col("__d").cast("double") * col("__pa"))
      .withColumn("__v", when(col("__n") > 1,
        col("__d").cast("double") * col("__pa") * (lit(1.0) - col("__pa"))
          * (col("__n") - col("__d")).cast("double")
          / (col("__n") - 1).cast("double")).otherwise(lit(0.0)))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum(col("__da")).as("observed_a"),
        round(sum(when(col("__d") > 0, col("__e")).otherwise(lit(0.0))),
          6).as("expected_a"),
        sum(when(col("__d") > 0, col("__da").cast("double") - col("__e"))
          .otherwise(lit(0.0))).as("__oe"),
        sum(when(col("__d") > 0, col("__v")).otherwise(lit(0.0)))
          .as("__sv"))
      .select(col("n_a"), col("n_b"), col("observed_a"), col("expected_a"),
        round(when(col("__sv") > 0, col("__oe") / sqrt(col("__sv"))),
          6).as("z"),
        round(when(col("__sv") > 0,
          col("__oe") * col("__oe") / col("__sv")), 6)
          .as("chi2"))
  }

  /** Entropy of the empirical first-order Markov chain (Shannon, BSTJ
    * '48 §6's "entropy of the source"): per state s, the conditional
    * next-type entropy h(s) = −Σ_d P(d|s) ln P(d|s), the chain entropy
    * rate H = Σ_s w_s h(s) with w_s = state s's share of observed
    * transitions, the zeroth-order marginal H₀ = −Σ_d m_d ln m_d over
    * next-event shares, and the predictability gain H₀ − H — how many
    * nats of next-event uncertainty knowing the CURRENT type removes.
    * The information-theoretic readout on [[transitionCounts]]'s matrix:
    * gain ≈ 0 says the process is memoryless (sequence features are
    * worthless), h(s) ≈ 0 flags deterministic states (bot loops,
    * forced navigation).
    *
    * Scale shape: the corpus is touched ONCE (the transition
    * window+aggregate, cached — the types²-row matrix feeds both the
    * per-state fold and the destination marginal); everything after is
    * ≤ types² rows. Entropies fold from (Σn, Σ n ln n) partials —
    * h = ln N − (Σ n ln n)/N — one pass, no per-share division. */
  def markovEntropy(events: DataFrame, userCol: String, tsCol: String,
                    tieCol: String, typeCol: String): DataFrame = {
    val tc = transitionCounts(events, userCol, tsCol, tieCol, typeCol)
      .withColumnRenamed(typeCol, "__dst").cache()
    val perState = tc.groupBy(col("prev_type"))
      .agg(sum(col("n_transitions")).as("n_out"),
        sum(col("n_transitions").cast("double")
          * log(col("n_transitions"))).as("__snl"))
      .withColumn("__h", log(col("n_out"))
        - col("__snl") / col("n_out").cast("double"))
    val marg = tc.groupBy(col("__dst"))
      .agg(sum(col("n_transitions")).as("__m"))
      .agg(sum(col("__m")).as("__nt"),
        sum(col("__m").cast("double") * log(col("__m"))).as("__sml"))
      .select((log(col("__nt"))
        - col("__sml") / col("__nt").cast("double")).as("__hm"))
    val rate = perState
      .agg(sum(col("n_out")).as("__n2"),
        sum(col("n_out").cast("double") * col("__h")).as("__sh"))
      .select((col("__sh") / col("__n2").cast("double")).as("__hr"))
    // every output rounds independently from the UNROUNDED folds —
    // info_gain from rounded h values would re-round a near-boundary
    // decimal difference, which is engine-divergent
    perState
      .select(col("prev_type"), col("n_out"),
        round(col("__h"), 6).as("h_state"))
      .crossJoin(broadcast(rate))
      .crossJoin(broadcast(marg))
      .select(col("prev_type"), col("n_out"), col("h_state"),
        round(col("__hr"), 6).as("h_rate"),
        round(col("__hm"), 6).as("h_marginal"),
        round(col("__hm") - col("__hr"), 6).as("info_gain"))
  }

  /** Lincoln–Petersen capture–recapture population estimate with the
    * Chapman '51 bias correction: treat two observation windows as
    * capture occasions — n₁ users seen before the split, n₂ after,
    * m in both — and estimate the TOTAL user population
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1, with Seber's SE. The "how many did we
    * NOT see" estimator: observed distinct counts only lower-bound a
    * population (users, near-dup clusters, crawl hosts); two
    * independent-ish samples + overlap turn the bound into an estimate
    * — the same mark-recapture logic ecologists use, applied to
    * coverage auditing ("our crawl window saw 80k users; capture
    * overlap says the reachable population is ~110k").
    *
    * Assumes closure (no arrivals/departures between windows) and
    * independent capture — report beside, not instead of, the raw
    * distincts. N̂ is an exact-integer ratio — deliberately UNROUNDED
    * (rational-halves rule); the √-carrying SE rounds.
    *
    * Scale shape: ONE per-user aggregate (two conditional max flags),
    * then one fold to the 2×2 capture table — shuffle ∝ users, no
    * window, no join. */
  def captureRecapture(events: DataFrame, userCol: String, tsCol: String,
                       splitTs: String): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(max(when(col(tsCol) < lit(splitTs).cast("timestamp"), 1L)
          .otherwise(0L)).as("__c1"),
        max(when(col(tsCol) >= lit(splitTs).cast("timestamp"), 1L)
          .otherwise(0L)).as("__c2"))
    perUser.agg(sum(col("__c1")).as("n1"), sum(col("__c2")).as("n2"),
        sum(col("__c1") * col("__c2")).as("m_both"))
      .select(col("n1"), col("n2"), col("m_both"),
        ((col("n1") + 1).cast("double") * (col("n2") + 1).cast("double")
          / (col("m_both") + 1).cast("double") - 1.0).as("n_hat"),
        round(sqrt((col("n1") + 1).cast("double")
          * (col("n2") + 1).cast("double")
          * (col("n1") - col("m_both")).cast("double")
          * (col("n2") - col("m_both")).cast("double")
          / ((col("m_both") + 1).cast("double")
            * (col("m_both") + 1).cast("double")
            * (col("m_both") + 2).cast("double"))), 6)
          .as("se_hat"))
  }
}
