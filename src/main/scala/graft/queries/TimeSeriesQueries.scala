package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._

/** Time-series queries over the events table: resampling, rolling and
  * decayed features, change points, seasonality and forecast checks. */
object TimeSeriesQueries {

  /** Generated decayed-popularity oracle: the same 2⁻²⁰-snapped decay
    * weight literals as [[operators.TimeSeries.decayWeights]] as a
    * DOUBLE[] literal indexed by the month bucket. */
  private def decayedTopkOracleSql(halfLife: Double, k: Int,
                                   maxBuckets: Int): String = {
    val ws = operators.TimeSeries.decayWeights(maxBuckets, halfLife)
      .map(w => s"CAST(${new java.math.BigDecimal(w).toPlainString} AS DOUBLE)")
      .mkString(", ")
    s"""WITH mx AS (SELECT max(o_orderdate) AS md FROM orders),
            ag AS (SELECT l.l_partkey AS part_id,
                          least(CAST(date_diff('day', o.o_orderdate, mx.md)
                                     // 30 AS INT), ${maxBuckets - 1}) AS b,
                          CAST(count(*) AS BIGINT) AS c
                   FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey, mx
                   GROUP BY 1, 2)
       SELECT part_id, round(sum(c * ([$ws])[b + 1]), 6) AS decayed_score
       FROM ag GROUP BY part_id
       ORDER BY decayed_score DESC, part_id ASC LIMIT $k"""
  }

  val all: Seq[Q] = Seq(
    /** §2b time-series regularization: irregular events → dense per-user
      * hourly grid with forward-filled activity value (the sequence-model
      * prep step — one row per (entity, hour), gaps carried forward). */
    Q("q_resample_fill",
      """WITH hours AS (SELECT user_id, date_trunc('hour', ts) AS hour,
                               count(*) AS n, sum(value) AS v
                        FROM events GROUP BY 1, 2),
              span AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
                       FROM hours GROUP BY 1),
              grid AS (SELECT user_id,
                              UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                       FROM span)
         SELECT g.user_id, g.hour, coalesce(h.n, 0) AS n,
                round(last_value(h.v IGNORE NULLS) OVER (
                        PARTITION BY g.user_id ORDER BY g.hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      2) AS v_filled
         FROM grid g LEFT JOIN hours h
           ON g.user_id = h.user_id AND g.hour = h.hour""") { (s, d) =>
      TimeSeries.resampleHourlyFill(Tables.events(s, d), "user_id", "ts", "value")
        .withColumn("v_filled", round(col("v_filled"), 2))
    },

    /** §2b per-event rolling features: lag-1, trailing-5 mean/sd (frame ends
      * BEFORE the current row — no label leakage), rolling z-score. */
    Q("q_rolling_stats",
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
                  lag(value) OVER w AS prev_value,
                  count(value) OVER wt AS n,
                  avg(value) OVER wt AS m,
                  sum(value * value) OVER wt AS ssq
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                  wt AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
         SELECT user_id, ts, event_id, value, prev_value,
                round(CASE WHEN n >= 1 THEN m END, 6) AS trail_mean,
                round(CASE WHEN n >= 2
                      THEN sqrt(greatest((ssq - n * m * m) / (n - 1), 0.0))
                      END, 6) AS trail_sd,
                round(CASE WHEN n >= 2
                        AND sqrt(greatest((ssq - n * m * m) / (n - 1), 0.0)) > 0
                      THEN (value - m)
                           / sqrt(greatest((ssq - n * m * m) / (n - 1), 0.0))
                      END, 6) AS rolling_z
         FROM b""") { (s, d) =>
      TimeSeries.rollingStats(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value", 5)
        .withColumn("trail_mean", round(col("trail_mean"), 6))
        .withColumn("trail_sd", round(col("trail_sd"), 6))
        .withColumn("rolling_z", round(col("rolling_z"), 6))
    },

    /** §2b time-decayed popularity: top-20 parts by 6-month-half-life
      * decayed order volume — the freshness-weighted leaderboard, with
      * integer×dyadic exact contributions. */
    Q("q_decayed_topk", decayedTopkOracleSql(6.0, 20, 120)) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey").as("part_id"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      TimeSeries.decayedTopK(
        li.join(o, col("l_orderkey") === col("o_orderkey")),
        "part_id", "o_orderdate")
    },

    /** §2b CUSUM change-point alarm: one-sided Page statistic over the
      * daily event-count series (slack 0.5σ, threshold 4σ) — the pipeline
      * throughput drift detector, windows only over the day grid. */
    Q("q_cusum",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                           CAST(count(*) AS BIGINT) AS n_events
                    FROM events GROUP BY 1),
              st AS (SELECT CAST(sum(n_events) AS DOUBLE) AS s,
                            CAST(sum(n_events * n_events) AS DOUBLE) AS ss,
                            CAST(count(*) AS DOUBLE) AS n FROM c),
              p AS (SELECT day, n_events,
                           sum(CAST(n_events AS DOUBLE)
                               - (s / n + 0.5 * sqrt(greatest(ss / n
                                    - (s / n) * (s / n), 0.0))))
                             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS pt,
                           4.0 * sqrt(greatest(ss / n - (s / n) * (s / n),
                                      0.0)) AS h
                    FROM c, st),
              s2 AS (SELECT day, n_events,
                            pt - least(0.0, min(pt) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)) AS s_t,
                            h
                     FROM p)
         SELECT day, n_events, round(s_t, 6) AS cusum,
                round(h, 6) AS threshold,
                round(s_t, 6) > round(h, 6) AS alarm
         FROM s2""") { (s, d) =>
      TimeSeries.cusumDaily(Tables.events(s, d), "ts")
    },

    /** §2b hour-of-day seasonal index per event type
      * ([[TimeSeries.seasonalIndex]]): the full 24-slot multiplicative
      * diurnal profile (silent hours emitted as index 0) — the
      * ingestion-gap / bot-traffic / timezone-drift sanity readout over
      * the events stream. Two hash aggregates + a 24-slot grid join. */
    Q("q_seasonality",
      """WITH cells AS (SELECT event_type,
                          CAST(hour(ts) AS BIGINT) AS hour_of_day,
                          count(*) AS n
                        FROM events GROUP BY 1, 2),
              totals AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
                         FROM cells GROUP BY 1),
              grid AS (SELECT event_type, tot,
                         UNNEST(generate_series(0, 23)) AS hour_of_day
                       FROM totals)
         SELECT g.event_type, g.hour_of_day,
                CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
                round(24.0 * COALESCE(c.n, 0) / g.tot, 6) AS seasonal_index
         FROM grid g LEFT JOIN cells c
           ON g.event_type = c.event_type AND g.hour_of_day = c.hour_of_day""") { (s, d) =>
      TimeSeries.seasonalIndex(Tables.events(s, d), "ts", "event_type")
        .withColumn("hour_of_day", col("hour_of_day").cast("long"))
    },

    /** §2b daily-count autocorrelation ([[TimeSeries.autocorrelation]]):
      * ACF at lags 1..7 — the Box–Jenkins persistence/weekly-cycle readout
      * before any forecast or anomaly model; day-grid work only. */
    Q("q_autocorr",
      """WITH days AS (SELECT datediff('day', DATE '2024-01-01',
                         CAST(ts AS DATE)) AS day,
                         CAST(count(*) AS DOUBLE) AS n
                       FROM events GROUP BY 1),
              lagged AS (SELECT day, n, UNNEST(generate_series(1, 7)) AS lag
                         FROM days),
              pairs AS (SELECT a.lag, a.n AS x, b.n AS y
                        FROM lagged a JOIN lagged b
                          ON a.day = b.day - b.lag AND a.lag = b.lag)
         SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                CASE WHEN var_samp(x) > 0 AND var_samp(y) > 0 THEN
                  round(covar_samp(x, y)
                    / sqrt(var_samp(x) * var_samp(y)), 6) END AS acf
         FROM pairs GROUP BY 1""") { (s, d) =>
      TimeSeries.autocorrelation(Tables.events(s, d), "ts", maxLag = 7)
    },

    /** §2b linear interpolation over the hourly grid (the continuous-value
      * sibling of q_resample_fill's carry-forward): gap hours get the
      * time-weighted blend of the bracketing observed hourly sums. */
    Q("q_interp",
      """WITH hours AS (SELECT user_id, date_trunc('hour', ts) AS hour,
                               CAST(round(sum(value) * 100, 0) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
              span AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi
                       FROM hours GROUP BY 1),
              grid AS (SELECT user_id,
                              UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                       FROM span),
              sparse AS (SELECT g.user_id, g.hour,
                                CAST(h.c AS DOUBLE) AS v
                         FROM grid g LEFT JOIN hours h
                           ON g.user_id = h.user_id AND g.hour = h.hour),
              ctx AS (SELECT user_id, hour, v, epoch(hour) AS t,
                        last_value(v IGNORE NULLS) OVER wp AS pv,
                        last_value(CASE WHEN v IS NOT NULL
                          THEN epoch(hour) END IGNORE NULLS) OVER wp AS pt,
                        first_value(v IGNORE NULLS) OVER wn AS nv,
                        first_value(CASE WHEN v IS NOT NULL
                          THEN epoch(hour) END IGNORE NULLS) OVER wn AS nt
                      FROM sparse
                      WINDOW wp AS (PARTITION BY user_id ORDER BY hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             wn AS (PARTITION BY user_id ORDER BY hour
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT user_id, hour,
                (CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END) / 100.0
                  AS v_interp
         FROM ctx""") { (s, d) =>
      // bit-exact pipeline: hourly sums snapped to integer CENTS (value is
      // cent-quantized, so round-to-integer is never near its boundary),
      // then the blend runs UNROUNDED over exact operands — identical IEEE
      // expression in both engines → bit-identical doubles, no dependence
      // on either engine's decimal-rounding implementation (hour fractions
      // are dyadic, so rounded output would sit ON boundaries structurally)
      val hours = Tables.events(s, d)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(round(sum(col("value")) * 100, 0).cast("long").as("c"))
      val grid = hours.groupBy(col("user_id"))
        .agg(min(col("hour")).as("__lo"), max(col("hour")).as("__hi"))
        .select(col("user_id"),
          explode(sequence(col("__lo"), col("__hi"), expr("INTERVAL 1 HOUR")))
            .as("hour"))
      val sparse = grid.join(hours, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"), col("c").cast("double").as("v"))
      TimeSeries.interpolateLinear(sparse, "user_id", "hour", "v")
        .select(col("user_id"), col("hour"),
          (col("v_interp") / 100.0).as("v_interp"))
    },

    /** §2b gaps-and-islands: consecutive-active-day streaks per user — one
      * window pass + one aggregate, no self-join. */
    Q("q_islands",
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                       FROM events),
              r AS (SELECT user_id, day,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY day) AS rn
                    FROM days)
         SELECT user_id, CAST(min(day) AS TIMESTAMP) AS start_day,
                CAST(max(day) AS TIMESTAMP) AS end_day,
                CAST(COUNT(*) AS BIGINT) AS n_days
         FROM r GROUP BY user_id, day - CAST(rn AS INTEGER)""") { (s, d) =>
      TimeSeries.islands(Tables.events(s, d), "user_id", "ts")
        // DATE → TIMESTAMP for the dump: parquet DATE round-trips as a
        // python date object while DuckDB's comes back datetime64 — same
        // day, different canon string in the comparator
        .select(col("user_id"),
          col("start_day").cast("timestamp").as("start_day"),
          col("end_day").cast("timestamp").as("end_day"),
          col("n_days"))
    },

    /** §2b EWMA smoothing: α=1/2 with a 16-row memory over each user's
      * event values — dyadic weights keep every term exact; one bounded
      * window pass per entity. */
    Q("q_ewma",
      """WITH s AS (SELECT user_id, ts, event_id, value,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC) AS rn
                    FROM events WHERE value IS NOT NULL),
              p AS (SELECT a.user_id, a.rn, a.ts, a.event_id, a.value AS v0,
                           b.value AS v, a.rn - b.rn AS j
                    FROM s a JOIN s b ON a.user_id = b.user_id
                      AND b.rn BETWEEN a.rn - 15 AND a.rn)
         SELECT user_id, ts, event_id, v0 AS value,
                round(sum(v / CAST(1::BIGINT << (j + 1) AS DOUBLE))
                  / (1.0 - 1.0 / CAST(1::BIGINT << least(rn, 16) AS DOUBLE)),
                  6) AS ewma
         FROM p GROUP BY user_id, rn, ts, event_id, v0""") { (s, d) =>
      TimeSeries.ewmaHalving(Tables.events(s, d), "user_id", "ts",
          "event_id", "value")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          col("ewma"))
    },

    /** §2b cross-correlation lead/lag scan: click vs purchase daily
      * counts at every lead/lag in [−7, +7] — does click activity LEAD
      * purchases, and by how many days (argmax lag)? */
    Q("q_ccf",
      """WITH da AS (SELECT datediff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS day,
                            CAST(count(*) AS DOUBLE) AS n
                     FROM events WHERE event_type = 'click' GROUP BY 1),
              db AS (SELECT datediff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS day,
                            CAST(count(*) AS DOUBLE) AS n
                     FROM events WHERE event_type = 'purchase' GROUP BY 1),
              lagged AS (SELECT day, n,
                           UNNEST(generate_series(-7, 7)) AS lag
                         FROM da),
              pairs AS (SELECT a.lag, a.n AS x, b.n AS y
                        FROM lagged a JOIN db b ON b.day = a.day + a.lag)
         SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                CASE WHEN var_samp(x) > 0 AND var_samp(y) > 0 THEN
                  round(covar_samp(x, y)
                    / sqrt(var_samp(x) * var_samp(y)), 6) END AS ccf
         FROM pairs GROUP BY 1""") { (s, d) =>
      TimeSeries.crossCorrelation(Tables.events(s, d), "ts", "event_type",
        typeA = "click", typeB = "purchase", maxLag = 7)
    },

    /** §2b seasonal-naive forecast baseline: MAE of yesterday-predicts-
      * today vs last-week-predicts-today over the zero-filled daily
      * series + their MASE-style ratio — the is-there-weekly-structure
      * readout every forecast must beat. */
    Q("q_seasonal_naive",
      """WITH days AS (SELECT datediff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) AS day,
                              count(*) AS n
                       FROM events GROUP BY 1),
              span AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
              grid AS (SELECT g.day, COALESCE(d.n, 0) AS y
                       FROM (SELECT UNNEST(generate_series(lo, hi)) AS day
                             FROM span) g
                       LEFT JOIN days d USING (day)),
              e AS (SELECT y,
                      abs(y - LAG(y, 1) OVER (ORDER BY day)) AS e1,
                      abs(y - LAG(y, 7) OVER (ORDER BY day)) AS eS
                    FROM grid),
              agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                             CAST(COUNT(e1) AS BIGINT) AS n1,
                             CAST(SUM(e1) AS BIGINT) AS s1,
                             CAST(COUNT(eS) AS BIGINT) AS nS,
                             CAST(SUM(eS) AS BIGINT) AS sS
                      FROM e)
         SELECT n_days,
                round(CASE WHEN n1 > 0
                  THEN CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) END, 6)
                  AS naive_mae,
                round(CASE WHEN nS > 0
                  THEN CAST(sS AS DOUBLE) / CAST(nS AS DOUBLE) END, 6)
                  AS seasonal_mae,
                round(CASE WHEN n1 > 0 AND nS > 0 AND s1 > 0
                  THEN (CAST(sS AS DOUBLE) / CAST(nS AS DOUBLE))
                     / (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) END, 6)
                  AS mase_ratio
         FROM agg""") { (s, d) =>
      TimeSeries.seasonalNaiveEval(Tables.events(s, d), "ts", period = 7)
    },

    /** §2b Pettitt rank change-point over the daily event counts — the
      * distribution-free "where did the level shift" locator beside
      * q_cusum's σ-tuned alarm. */
    Q("q_pettitt",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS n_events
                    FROM events GROUP BY 1),
              r AS (SELECT day, n_events,
                      2 * RANK() OVER (ORDER BY n_events)
                        + COUNT(*) OVER (PARTITION BY n_events) - 1 AS r2,
                      COUNT(*) OVER () AS t
                    FROM c),
              u AS (SELECT day, t,
                      SUM(r2 - (t + 1)) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS ut,
                      ROW_NUMBER() OVER (ORDER BY day) AS rn
                    FROM r)
         SELECT day AS change_day, CAST(t AS BIGINT) AS n_days,
                CAST(abs(ut) AS BIGINT) AS k_stat,
                round(least(1.0, 2.0 * exp(-6.0
                  * (CAST(abs(ut) AS DOUBLE) * CAST(abs(ut) AS DOUBLE))
                  / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                      * CAST(t AS DOUBLE)
                    + CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))), 6)
                  AS p_approx
         FROM u WHERE rn < t
         ORDER BY abs(ut) DESC, day ASC LIMIT 1""") { (s, d) =>
      TimeSeries.pettittDaily(Tables.events(s, d), "ts")
    },

    /** §2b Hurst exponent of the daily event-count series by R/S analysis
      * (block sizes 5/10/15 over the 30-day grid) — long-memory /
      * self-similarity beside q_autocorr's fixed lags and q_burstiness. */
    Q("q_hurst",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              idx AS (SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn
                      FROM c),
              e AS (SELECT day, x, rn, m,
                      CAST(floor((rn - 1) / m) AS BIGINT) AS blk
                    FROM idx, UNNEST([5, 10, 15]) AS u(m)),
              f AS (SELECT day, x, m, blk,
                      COUNT(*) OVER (PARTITION BY m, blk) AS cnt,
                      SUM(x) OVER (PARTITION BY m, blk) AS sx,
                      SUM(x * x) OVER (PARTITION BY m, blk) AS sxx,
                      SUM(x) OVER (PARTITION BY m, blk ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cx,
                      ROW_NUMBER() OVER (PARTITION BY m, blk ORDER BY day)
                        AS t
                    FROM e),
              g AS (SELECT m, blk,
                      max(CAST(cx AS DOUBLE) - CAST(t AS DOUBLE)
                        * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
                      - min(CAST(cx AS DOUBLE) - CAST(t AS DOUBLE)
                        * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))) AS r,
                      sqrt(greatest(CAST(max(sxx) AS DOUBLE)
                          / CAST(m AS DOUBLE)
                        - (CAST(max(sx) AS DOUBLE) / CAST(m AS DOUBLE))
                          * (CAST(max(sx) AS DOUBLE) / CAST(m AS DOUBLE)),
                        0.0)) AS sd
                    FROM f WHERE cnt = m GROUP BY m, blk),
              h AS (SELECT CAST(m AS BIGINT) AS block_size,
                      CAST(count(*) AS BIGINT) AS n_blocks,
                      round(avg(r / sd), 6) AS mean_rs
                    FROM g WHERE sd > 0.0 GROUP BY 1),
              fit AS (SELECT CASE WHEN k * suu - su * su > 0.0
                          THEN round((k * suv - su * sv)
                            / (k * suu - su * su), 6) END AS hurst
                      FROM (SELECT CAST(count(*) AS DOUBLE) AS k,
                              sum(u) AS su, sum(v) AS sv,
                              sum(u * v) AS suv, sum(u * u) AS suu
                            FROM (SELECT ln(CAST(block_size AS DOUBLE)) AS u,
                                    ln(mean_rs) AS v FROM h)))
         SELECT h.block_size, h.n_blocks, h.mean_rs, fit.hurst
         FROM h, fit""") { (s, d) =>
      TimeSeries.hurstDaily(Tables.events(s, d), "ts",
        blockSizes = Seq(5, 10, 15))
    },

    /** §2b Schuster periodogram of the daily counts at candidate periods
      * 7/10/15 over the 30-day grid — ranks candidate seasonalities by
      * variance share beside q_autocorr's per-lag memory. */
    Q("q_periodogram",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              i AS (SELECT x,
                      CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t,
                      COUNT(*) OVER () AS n,
                      CAST(SUM(x) OVER () AS DOUBLE)
                        / CAST(COUNT(*) OVER () AS DOUBLE) AS mu
                    FROM c),
              p AS (SELECT x, t, n, mu, period
                    FROM i, UNNEST([7, 10, 15]) AS u(period))
         SELECT CAST(period AS BIGINT) AS period,
                CAST(max(n) AS BIGINT) AS n_days,
                round((sum((CAST(x AS DOUBLE) - mu)
                    * cos(2.0 * pi() / CAST(period AS DOUBLE) * t))
                  * sum((CAST(x AS DOUBLE) - mu)
                    * cos(2.0 * pi() / CAST(period AS DOUBLE) * t))
                  + sum((CAST(x AS DOUBLE) - mu)
                    * sin(2.0 * pi() / CAST(period AS DOUBLE) * t))
                  * sum((CAST(x AS DOUBLE) - mu)
                    * sin(2.0 * pi() / CAST(period AS DOUBLE) * t)))
                  / CAST(max(n) AS DOUBLE), 6) AS power
         FROM p GROUP BY period""") { (s, d) =>
      TimeSeries.periodogramDaily(Tables.events(s, d), "ts",
        periods = Seq(7, 10, 15))
    },

    /** §2b Ljung–Box portmanteau over daily counts at lags 1..7 — the
      * joint "white noise at all?" gate (cumulative Q(h) ~ χ²_h) that
      * calibrates how far the i.i.d.-assuming daily monitors can be
      * trusted; biased global-mean ACF per the canonical form. */
    Q("q_ljung_box",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              i AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
                        AS t,
                      COUNT(*) OVER () AS n,
                      CAST(x AS DOUBLE) - CAST(SUM(x) OVER () AS DOUBLE)
                        / CAST(COUNT(*) OVER () AS DOUBLE) AS cv
                    FROM c),
              l AS (SELECT t, n, cv, UNNEST(generate_series(1, 7)) AS lag
                    FROM i),
              p AS (SELECT a.lag AS lag, sum(a.cv * b.cv) AS num
                    FROM l a JOIN l b
                      ON b.t = a.t - a.lag AND b.lag = a.lag
                    GROUP BY 1),
              d AS (SELECT sum(cv * cv) AS den, max(n) AS n0 FROM i),
              r AS (SELECT lag, n0,
                      CASE WHEN den > 0 THEN num / den END AS rho,
                      CASE WHEN den > 0 THEN (num / den) * (num / den)
                        / CAST(n0 - lag AS DOUBLE) END AS term
                    FROM p, d)
         SELECT CAST(lag AS BIGINT) AS lag, CAST(n0 AS BIGINT) AS n_days,
                round(rho, 6) AS rho,
                round(CAST(n0 AS DOUBLE) * CAST(n0 + 2 AS DOUBLE)
                  * SUM(term) OVER (ORDER BY lag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  6) AS q_cum
         FROM r""") { (s, d) =>
      TimeSeries.ljungBoxDaily(Tables.events(s, d), "ts", maxLag = 7)
    },

    /** §2b Durbin–Watson lag-1 serial-correlation screen over the daily
      * counts (≈2 independent, →0 persistent, →4 alternating) — the
      * one-number companion to q_ljung_box's joint profile. */
    Q("q_durbin_watson",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              e AS (SELECT day, CAST(x AS DOUBLE)
                        - CAST(SUM(x) OVER () AS DOUBLE)
                          / CAST(COUNT(*) OVER () AS DOUBLE) AS ev
                    FROM c),
              d AS (SELECT ev, ev - LAG(ev) OVER (ORDER BY day) AS de
                    FROM e)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
                CASE WHEN sum(ev * ev) > 0
                  THEN round(sum(de * de) / sum(ev * ev), 6) END AS dw
         FROM d""") { (s, d) =>
      TimeSeries.durbinWatsonDaily(Tables.events(s, d), "ts")
    },

    /** §2b Wald–Wolfowitz runs test on the above/below-mean sign pattern
      * of daily counts — the outlier-immune randomness screen (too few
      * runs = regime persistence, too many = oscillation). */
    Q("q_runs_test",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              s AS (SELECT day,
                      CASE WHEN CAST(x AS DOUBLE) > mu THEN 1
                           WHEN CAST(x AS DOUBLE) < mu THEN 0 END AS sg
                    FROM (SELECT day, x,
                            CAST(SUM(x) OVER () AS DOUBLE)
                              / CAST(COUNT(*) OVER () AS DOUBLE) AS mu
                          FROM c)),
              f AS (SELECT sg,
                      CASE WHEN LAG(sg) OVER (ORDER BY day) IS NULL
                             OR LAG(sg) OVER (ORDER BY day) <> sg
                        THEN 1 ELSE 0 END AS chg
                    FROM s WHERE sg IS NOT NULL),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(sg) AS BIGINT) AS n_above,
                      CAST(count(*) - sum(sg) AS BIGINT) AS n_below,
                      CAST(sum(chg) AS BIGINT) AS n_runs
                    FROM f),
              g AS (SELECT *, CAST(n_days AS DOUBLE) AS nn,
                      2.0 * CAST(n_above AS DOUBLE)
                        * CAST(n_below AS DOUBLE) AS p
                    FROM a),
              h AS (SELECT *, p * (p - nn) / (nn * nn * (nn - 1)) AS vr
                    FROM g)
         SELECT n_days, n_above, n_below, n_runs,
                1.0 + p / nn AS runs_expected,
                CASE WHEN vr > 0 THEN round((CAST(n_runs AS DOUBLE)
                  - (1.0 + p / nn)) / sqrt(vr), 6) END AS z
         FROM h""") { (s, d) =>
      TimeSeries.runsTestDaily(Tables.events(s, d), "ts")
    },

    /** §2b Western Electric zone rules over the daily-count control
      * chart — the pattern alarms (2-of-3 beyond 2σ, 4-of-5 beyond 1σ,
      * 8 one side) that catch drifts a lone 3σ rule misses. */
    Q("q_control_rules",
      """WITH c AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1),
              z AS (SELECT day, n,
                      CASE WHEN stddev_samp(n) OVER () > 0
                        THEN (CAST(n AS DOUBLE) - avg(n) OVER ())
                          / stddev_samp(n) OVER () END AS z
                    FROM c),
              w AS (SELECT day, n, z,
                      COUNT(*) OVER w3 AS c3, COUNT(*) OVER w5 AS c5,
                      COUNT(*) OVER w8 AS c8,
                      SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3
                        AS hi2,
                      SUM(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3
                        AS lo2,
                      SUM(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5
                        AS hi1,
                      SUM(CASE WHEN z < -1.0 THEN 1 ELSE 0 END) OVER w5
                        AS lo1,
                      SUM(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8
                        AS hi0,
                      SUM(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8
                        AS lo0
                    FROM z
                    WINDOW
                      w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW),
                      w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING
                        AND CURRENT ROW),
                      w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                        AND CURRENT ROW))
         SELECT day, n, round(z, 6) AS z,
                abs(z) > 3.0 AS r1_beyond_3s,
                c3 = 3 AND (hi2 >= 2 OR lo2 >= 2) AS r2_two_of_three_2s,
                c5 = 5 AND (hi1 >= 4 OR lo1 >= 4) AS r3_four_of_five_1s,
                c8 = 8 AND (hi0 = 8 OR lo0 = 8) AS r4_eight_one_side
         FROM w""") { (s, d) =>
      TimeSeries.controlRulesDaily(Tables.events(s, d), "ts")
    },

    /** §2b order-3 permutation entropy of the daily series per event type
      * ([[TimeSeries.permutationEntropyDaily]]): ordinal-pattern
      * complexity — exact integer patterns, bounded entropy fold. */
    Q("q_perm_entropy",
      // Exact integer OLS moments over the calendar-bounded daily grid;
      // the closing algebra mirrors adfDaily term for term.
      // Exact integer ordinal patterns (ties: earlier index first);
      // entropy in the single-log fold form on both engines.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS d,
                               CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              tri AS (SELECT g, y AS a,
                             lead(y, 1) OVER (PARTITION BY g ORDER BY d) AS b,
                             lead(y, 2) OVER (PARTITION BY g ORDER BY d) AS c
                      FROM daily),
              pat AS (SELECT g, CASE WHEN a <= b AND b <= c THEN 0
                                     WHEN a <= b AND b > c AND a <= c THEN 1
                                     WHEN a <= b AND b > c AND a > c THEN 2
                                     WHEN a > b AND b <= c AND a <= c THEN 3
                                     WHEN a > b AND b <= c AND a > c THEN 4
                                     ELSE 5 END AS p
                      FROM tri WHERE c IS NOT NULL),
              cnt AS (SELECT g, p, CAST(count(*) AS BIGINT) AS c
                      FROM pat GROUP BY 1, 2),
              ag AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_windows,
                            CAST(count(*) AS BIGINT) AS n_patterns,
                            SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                              AS clogc
                     FROM cnt GROUP BY 1)
         SELECT g AS event_type, n_windows, n_patterns,
                round(CASE WHEN n_windows > 0 THEN
                  (ln(CAST(n_windows AS DOUBLE)) - clogc / n_windows)
                    / ln(6.0) END, 6) AS perm_entropy
         FROM ag""") { (s, d) =>
      TimeSeries.permutationEntropyDaily(Tables.events(s, d),
        "event_type", "ts")
    },

    /** §2b Page–Hinkley drift detector per event type over daily counts
      * ([[TimeSeries.pageHinkleyDaily]]) — the running-mean excursion
      * statistic beside q_cusum/q_pettitt, with the alarm day. */
    Q("q_page_hinkley",
      // Running mean -> deviation cumsum -> running min, all ordered
      // prefix folds on the (group, day) grid; arg-max ties break to the
      // earliest day.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS d,
                               CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              r AS (SELECT g, d, y,
                      count(*) OVER w AS i, sum(y) OVER w AS cum
                    FROM daily
                    WINDOW w AS (PARTITION BY g ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              dv AS (SELECT g, d,
                       CAST(y AS DOUBLE)
                         - CAST(cum AS DOUBLE) / CAST(i AS DOUBLE) AS dev
                     FROM r),
              mm AS (SELECT g, d, sum(dev) OVER (PARTITION BY g ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS m
                     FROM dv),
              ph AS (SELECT g, d,
                       m - min(m) OVER (PARTITION BY g ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS ph
                     FROM mm),
              pick AS (SELECT g, d, ph,
                         CAST(count(*) OVER (PARTITION BY g) AS BIGINT)
                           AS n_days,
                         row_number() OVER (PARTITION BY g
                           ORDER BY ph DESC, d ASC) AS rn
                       FROM ph)
         SELECT g AS event_type, n_days, round(ph, 6) AS ph_stat,
                d AS alarm_day
         FROM pick WHERE rn = 1""") { (s, d) =>
      TimeSeries.pageHinkleyDaily(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Holt linear smoothing of daily counts per event type
      * ([[TimeSeries.holtLinear]]) — the sequential recurrence as an
      * in-codegen array fold; forecast + in-sample RMSE. */
    Q("q_holt_linear",
      // The engine's in-codegen array fold replayed as a recursive CTE:
      // identical seed (l = y2, b = y2 - y1), identical update order.
      """WITH RECURSIVE daily AS (SELECT event_type AS g,
                          date_trunc('day', ts) AS d,
                          CAST(count(*) AS DOUBLE) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              s AS (SELECT g, y, row_number() OVER (PARTITION BY g
                      ORDER BY d) AS rn
                    FROM daily),
              gn AS (SELECT g, CAST(count(*) AS BIGINT) AS n
                     FROM s GROUP BY 1),
              init AS (SELECT a.g, b.y AS l, b.y - a.y AS b
                       FROM s a JOIN s b
                         ON b.g = a.g AND a.rn = 1 AND b.rn = 2),
              st(g, rn, l, b, sse) AS (
                SELECT g, CAST(2 AS BIGINT), l, b,
                       CAST(0.0 AS DOUBLE) FROM init
                UNION ALL
                SELECT st.g, st.rn + 1,
                       0.5 * s.y + 0.5 * (st.l + st.b),
                       0.25 * ((0.5 * s.y + 0.5 * (st.l + st.b)) - st.l)
                         + 0.75 * st.b,
                       st.sse + (s.y - (st.l + st.b))
                         * (s.y - (st.l + st.b))
                FROM st JOIN s ON s.g = st.g AND s.rn = st.rn + 1),
              fin AS (SELECT st.g, st.l, st.b, st.sse
                      FROM st JOIN gn ON gn.g = st.g AND st.rn = gn.n)
         SELECT gn.g AS event_type, gn.n AS n_days,
                round(fin.l, 6) AS level, round(fin.b, 6) AS trend,
                round(fin.l + fin.b, 6) AS forecast_next,
                round(CASE WHEN gn.n > 2 THEN
                  sqrt(fin.sse / CAST(gn.n - 2 AS DOUBLE)) END, 6)
                  AS rmse
         FROM gn LEFT JOIN fin ON fin.g = gn.g""") { (s, d) =>
      TimeSeries.holtLinear(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b pinball-loss eval of the week-over-week seasonal-naive
      * forecast at τ ∈ {0.1, 0.5, 0.9}
      * ([[TimeSeries.pinballEval]]) — exact tenth-scaled integer
      * losses. */
    Q("q_pinball",
      // Calendar self-join on day-7, tenth-scaled integer losses, one
      // exact division per (group, tau).
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts)
                          AS d, CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              j AS (SELECT c.g, c.y, p.y AS f
                    FROM daily c JOIN daily p
                      ON p.g = c.g AND c.d = p.d + INTERVAL 7 DAY),
              t AS (SELECT g, y, f, unnest([1, 5, 9]) AS t10 FROM j),
              l AS (SELECT g, t10,
                      CASE WHEN y >= f THEN t10 * (y - f)
                           ELSE (10 - t10) * (f - y) END AS loss10
                    FROM t)
         SELECT g AS event_type,
                CAST(t10 AS DOUBLE) / 10.0 AS tau,
                CAST(count(*) AS BIGINT) AS n_days,
                round(CAST(SUM(loss10) AS DOUBLE)
                  / CAST(10 * count(*) AS DOUBLE), 6) AS mean_pinball
         FROM l GROUP BY 1, t10""") { (s, d) =>
      TimeSeries.pinballEval(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Hampel robust outlier filter over daily counts per event type
      * ([[TimeSeries.hampelFilter]]) — rolling median/MAD flags with
      * dyadic-exact medians; every interior day emitted with its flag. */
    Q("q_hampel",
      // 7-row sliding list windows, sorted element picks (dyadic medians
      // of ints), flag constant folded identically.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts)
                          AS d, CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              wn AS (SELECT g, d, y,
                       list_sort(list(y) OVER (PARTITION BY g ORDER BY d
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
                         AS win
                     FROM daily),
              f AS (SELECT * FROM wn WHERE len(win) = 7),
              m AS (SELECT *,
                      (CAST(win[(len(win) + 1) // 2] AS DOUBLE)
                        + CAST(win[len(win) // 2 + 1] AS DOUBLE)) / 2.0
                        AS med
                    FROM f),
              m2 AS (SELECT *, list_sort(list_transform(win,
                       v -> abs(CAST(v AS DOUBLE) - med))) AS dv
                     FROM m),
              m3 AS (SELECT *,
                       (dv[(len(dv) + 1) // 2]
                         + dv[len(dv) // 2 + 1]) / 2.0 AS mad
                     FROM m2)
         SELECT g AS event_type, d AS day, y AS n_events,
                round(med, 6) AS local_median,
                round(mad, 6) AS local_mad,
                round(CASE WHEN mad > 0 THEN
                  abs(CAST(y AS DOUBLE) - med) / (1.4826 * mad) END, 6)
                  AS robust_z,
                abs(CAST(y AS DOUBLE) - med) > 3.0 * 1.4826 * mad
                  AS is_outlier
         FROM m3""") { (s, d) =>
      TimeSeries.hampelFilter(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Gumbel block-maxima fit of weekly daily-count peaks per event
      * type ([[TimeSeries.gumbelBlockMax]]) — EVT capacity planning with
      * the 1-in-100-week return level; maxima-side beside q_gpd_tail. */
    Q("q_gumbel_fit",
      // Weekly block maxima -> exact integer moments; the three
      // transcendental constants are the SAME driver-side doubles
      // interpolated into both plans (shortest-round-trip printing).
      s"""WITH daily AS (SELECT event_type AS g, date_trunc('day', ts)
                           AS d, CAST(count(*) AS BIGINT) AS y
                         FROM events WHERE ts IS NOT NULL
                         GROUP BY 1, 2),
              weekly AS (SELECT g, date_trunc('week', d) AS wk,
                           max(y) AS m
                         FROM daily GROUP BY 1, 2),
              mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n_blocks,
                        SUM(CAST(m AS HUGEINT)) AS s,
                        SUM(CAST(m AS HUGEINT) * m) AS ss
                      FROM weekly GROUP BY 1 HAVING count(*) > 1),
              alg AS (SELECT g, n_blocks,
                        CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                          AS mean,
                        sqrt(CAST(n_blocks * ss - s * s AS DOUBLE)
                          / CAST(n_blocks * (n_blocks - 1) AS DOUBLE))
                          AS sd
                      FROM mom),
              fit AS (SELECT *, sd * ${TimeSeries.GumbelC.sqrt6OverPi}
                        AS beta
                      FROM alg),
              fit2 AS (SELECT *, mean
                         - ${TimeSeries.GumbelC.eulerGamma} * beta AS mu
                       FROM fit)
         SELECT g AS event_type, n_blocks,
                round(mean, 6) AS block_mean, round(sd, 6) AS block_sd,
                round(beta, 6) AS gumbel_beta, round(mu, 6) AS gumbel_mu,
                round(mu - beta * ${TimeSeries.GumbelC.lnln99}, 6)
                  AS return_level_100
         FROM fit2""") { (s, d) =>
      TimeSeries.gumbelBlockMax(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b weekly seasonal strength per event type
      * ([[TimeSeries.seasonalStrength]]) — how much daily-count variance
      * the weekday cycle explains; the one-number screen before
      * q_seasonality's table. */
    Q("q_seasonal_strength",
      // Weekday-mean residuals; BOTH variance folds are ordered prefix
      // cumsums over the per-group day grid, read at the last day.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts)
                          AS d, CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              dw AS (SELECT g, dayofweek(d) AS w, SUM(y) AS sd,
                       CAST(count(*) AS BIGINT) AS nd
                     FROM daily GROUP BY 1, 2),
              j AS (SELECT daily.g, daily.d, CAST(y AS DOUBLE) AS yd,
                      CAST(y AS DOUBLE)
                        - CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE) AS r
                    FROM daily JOIN dw
                      ON dw.g = daily.g AND dw.w = dayofweek(daily.d)),
              f AS (SELECT g, d,
                      count(*) OVER w AS cn, sum(yd) OVER w AS cy,
                      sum(yd * yd) OVER w AS cyy, sum(r * r) OVER w AS crr
                    FROM j
                    WINDOW w AS (PARTITION BY g ORDER BY d ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW)),
              last AS (SELECT * FROM (SELECT *, row_number() OVER
                         (PARTITION BY g ORDER BY d DESC) AS rn FROM f)
                       WHERE rn = 1),
              alg AS (SELECT g, CAST(cn AS BIGINT) AS n_days,
                        (cyy - cy * cy / CAST(cn AS DOUBLE))
                          / CAST(cn AS DOUBLE) AS vy,
                        crr / CAST(cn AS DOUBLE) AS vr
                      FROM last)
         SELECT g AS event_type, n_days,
                round(vy, 6) AS var_total, round(vr, 6) AS var_residual,
                round(CASE WHEN vy > 0 THEN
                  greatest(0.0, 1.0 - vr / vy) END, 6)
                  AS seasonal_strength
         FROM alg""") { (s, d) =>
      TimeSeries.seasonalStrength(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b circular time-of-day statistics per event type
      * ([[TimeSeries.circularHours]]) — resultant concentration + mean
      * hour, correct across the midnight wrap; snapped-dyadic hour
      * angles keep the sums exact in any order. */
    Q("q_circular_hours",
      // Snapped-dyadic hour angles (exact integer x dyadic sums in any
      // order); one atan2 + sqrt, constants interpolated.
      s"""WITH cnt AS (SELECT event_type AS g, hour(ts) AS h,
                         CAST(count(*) AS BIGINT) AS c
                       FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
              m AS (SELECT g, c,
                      (CAST([${TimeSeries.circularCos24.mkString(", ")}]
                        AS DOUBLE[]))[h + 1] AS cs,
                      (CAST([${TimeSeries.circularSin24.mkString(", ")}]
                        AS DOUBLE[]))[h + 1] AS sn
                    FROM cnt),
              a AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_events,
                      SUM(c * cs) AS sc, SUM(c * sn) AS ss
                    FROM m GROUP BY 1)
         SELECT g AS event_type, n_events,
                round(sqrt(sc * sc + ss * ss)
                  / CAST(n_events AS DOUBLE), 6) AS resultant,
                round(1.0 - sqrt(sc * sc + ss * ss)
                  / CAST(n_events AS DOUBLE), 6) AS circular_variance,
                round(atan2(ss, sc) * ${TimeSeries.twelveOverPi}, 6)
                  AS mean_hour_signed
         FROM a""") { (s, d) =>
      TimeSeries.circularHours(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Theil's U₂ of the week-over-week seasonal naive vs the
      * last-value naive per event type ([[TimeSeries.theilsU2]]) — "is
      * there exploitable weekly structure" as one ratio. */
    Q("q_theils_u2",
      // Two calendar equi-joins (day-7, day-1); exact integer squared
      // errors; two sqrt + one division.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts)
                          AS d, CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              j AS (SELECT c.g, c.y, w.y AS fm, p.y AS fn
                    FROM daily c
                    JOIN daily w ON w.g = c.g
                      AND c.d = w.d + INTERVAL 7 DAY
                    JOIN daily p ON p.g = c.g
                      AND c.d = p.d + INTERVAL 1 DAY),
              a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                      SUM(CAST(fm - y AS HUGEINT) * (fm - y)) AS sm,
                      SUM(CAST(fn - y AS HUGEINT) * (fn - y)) AS sn2
                    FROM j GROUP BY 1)
         SELECT g AS event_type, n_days,
                round(sqrt(CAST(sm AS DOUBLE)
                  / CAST(n_days AS DOUBLE)), 6) AS rmse_seasonal,
                round(sqrt(CAST(sn2 AS DOUBLE)
                  / CAST(n_days AS DOUBLE)), 6) AS rmse_naive,
                round(CASE WHEN sqrt(CAST(sn2 AS DOUBLE)
                    / CAST(n_days AS DOUBLE)) > 0 THEN
                  sqrt(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE))
                    / sqrt(CAST(sn2 AS DOUBLE)
                      / CAST(n_days AS DOUBLE)) END, 6) AS theils_u2
         FROM a""") { (s, d) =>
      TimeSeries.theilsU2(Tables.events(s, d), "event_type", "ts")
    },
  )
}
