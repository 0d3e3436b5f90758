package graft
package queries

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event analytics and event-stream queries: sessions, funnels, Markov
  * chains, survival, cohorts and the batch twins of the streaming
  * transforms. */
object EventQueries {

  /** `flagged`: every event with `new_sess` = 1 where the gap to the
    * user's previous event exceeds 30 minutes — the sessionization CTE. */
  private val sessionFlagsSql: String =
    """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN prev_us IS NULL
                         OR (epoch_us(ts) - prev_us) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, event_id, ts, value,
                        LAG(epoch_us(ts), 1) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                 FROM events)),"""

  /** Each `flagged` event's session number: the running `new_sess` sum. */
  private val sessionIdSql: String =
    """CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT)"""

  /** `cte(user_id, as)`: each user's first (`order` ascending) or last
    * (descending) event type by the (ts, event_id) order. */
  private def edgeEventSql(cte: String, as: String, order: String): String =
    s"""$cte AS (SELECT user_id, event_type AS $as FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY $order) AS rn
                FROM events) WHERE rn = 1)"""

  /** `lastev` … `w`: per-user first→last event-day lifetimes (an event
    * when the final action is a purchase, else right-censored), grouped
    * per duration with the users at risk — the oracle twin of
    * [[EventAnalytics]]' lifetime at-risk grid. */
  private val lifetimeAtRiskSql: String =
    s"""WITH ${edgeEventSql("lastev", "last_type", "ts DESC, event_id DESC")},
              u AS (SELECT e.user_id,
                           CAST(date_diff('day', date_trunc('day', min(e.ts)),
                                date_trunc('day', max(e.ts))) AS BIGINT) AS dur,
                           max(l.last_type) = 'purchase' AS ev
                    FROM events e JOIN lastev l USING (user_id)
                    GROUP BY e.user_id),
              g AS (SELECT dur,
                           CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_events,
                           CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                             AS n_censored
                    FROM u GROUP BY 1),
              w AS (SELECT dur, n_events, n_censored,
                           sum(n_events + n_censored) OVER ()
                             - COALESCE(sum(n_events + n_censored) OVER
                                 (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_risk
                    FROM g),"""

  /** The running window in duration order. */
  private val durPrefixSql: String =
    "(ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

  val all: Seq[Q] = Seq(
    /** §2b custom-state sessionization (flatMapGroupsWithState), batch twin:
      * bounded input ⇒ end-of-data closes every session (emitOpen=true). */
    Q("q_stateful_sessions",
      s"""$sessionFlagsSql
              sess AS (
           SELECT user_id, epoch_us(ts) AS us, value,
                  $sessionIdSql AS sid
           FROM flagged)
         SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
                count(*) AS n_events, round(sum(value), 2) AS session_value
         FROM sess GROUP BY user_id, sid""") { (s, d) =>
      graft.streaming.EventStreams
        .statefulSessions(Tables.events(s, d), 30, emitOpen = true)
        .toDF()
        .withColumn("session_value", round(col("session_value"), 2))
    },

    /** §2b tumbling-window aggregate (batch twin of the streaming query). */
    Q("q_event_hourly",
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
                count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
    },

    /** §2b sessionization: gap>30min splits, via lag + running sum. */
    Q("q_sessionize",
      s"""$sessionFlagsSql
              sess AS (
           SELECT user_id, value,
                  $sessionIdSql
                    AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                round(sum(value), 2) AS session_value
         FROM sess GROUP BY user_id, session_id""") { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gapUs = lit(30L * 60 * 1000000)
      val withFlag = Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > gapUs, 1L).otherwise(0L))
      withFlag
        .withColumn("session_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("session_value"))
    },

    /** §2b Markov transition counts over each user's ordered event stream. */
    Q("q_transitions",
      """SELECT prev_type, event_type, count(*) AS n_transitions
         FROM (SELECT event_type,
                 LAG(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
               FROM events)
         WHERE prev_type IS NOT NULL
         GROUP BY 1, 2""") { (s, d) =>
      EventAnalytics.transitionCounts(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type")
    },

    /** §2b ordered funnel view → click → purchase: users per depth reached
      * (each step strictly after the previous step's earliest time). */
    Q("q_funnel",
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
                     FROM events WHERE event_type = 'view' GROUP BY 1),
              s2 AS (SELECT s1.user_id, t1,
                       min(CASE WHEN e.event_type = 'click'
                                 AND epoch_us(e.ts) > t1
                                THEN epoch_us(e.ts) END) AS t2
                     FROM s1 LEFT JOIN events e USING (user_id)
                     GROUP BY s1.user_id, t1),
              s3 AS (SELECT s2.user_id, t1, t2,
                       min(CASE WHEN e.event_type = 'purchase'
                                 AND epoch_us(e.ts) > t2
                                THEN epoch_us(e.ts) END) AS t3
                     FROM s2 LEFT JOIN events e USING (user_id)
                     GROUP BY s2.user_id, t1, t2)
         SELECT steps_completed, count(*) AS n_users
         FROM (SELECT CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
                         + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                         + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END
                       AS BIGINT) AS steps_completed
               FROM s3)
         GROUP BY 1""") { (s, d) =>
      EventAnalytics.funnelSteps(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    },

    /** §2b market-basket association rules: support/confidence/lift over
      * per-user distinct event-type baskets — the "users who X also Y"
      * segmentation readout. */
    Q("q_assoc_rules",
      """WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
              n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM b),
              it AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
                     FROM b GROUP BY 1),
              p AS (SELECT x.event_type AS item_a, y.event_type AS item_b,
                           CAST(count(*) AS BIGINT) AS n_ab
                    FROM b x JOIN b y ON x.user_id = y.user_id
                                     AND x.event_type <> y.event_type
                    GROUP BY 1, 2)
         SELECT item_a, item_b, a.cnt AS n_a, c.cnt AS n_b, n_ab,
                round(CAST(n_ab AS DOUBLE) / nu, 6) AS support,
                round(CAST(n_ab AS DOUBLE) / a.cnt, 6) AS confidence,
                round((CAST(n_ab AS DOUBLE) / nu)
                      / ((CAST(a.cnt AS DOUBLE) / nu)
                         * (CAST(c.cnt AS DOUBLE) / nu)), 6) AS lift
         FROM p JOIN it a ON p.item_a = a.event_type
                JOIN it c ON p.item_b = c.event_type, n""") { (s, d) =>
      EventAnalytics.associationRules(Tables.events(s, d),
        "user_id", "event_type")
    },

    /** §2b Kaplan-Meier survival: product-limit curve over per-user
      * first→last event-day lifetimes, a lifetime counting as an event when
      * the user's final action is a purchase (else right-censored). */
    Q("q_survival",
      s"""$lifetimeAtRiskSql
              s AS (SELECT dur, n_events, n_censored, n_risk,
                           sum(CASE WHEN n_events > 0 AND n_events = n_risk
                                THEN 1 ELSE 0 END) OVER
                             $durPrefixSql AS zeros,
                           sum(CASE WHEN n_events > 0 AND n_events < n_risk
                                THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                                ELSE 0.0 END) OVER
                             $durPrefixSql AS lnsum
                    FROM w)
         SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
                n_events, n_censored,
                round(CASE WHEN zeros > 0 THEN 0.0 ELSE exp(lnsum) END, 6)
                  AS survival
         FROM s WHERE n_events > 0""") { (s, d) =>
      EventAnalytics.kaplanMeier(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", "purchase")
    },

    /** §2b cohort retention matrix: first-event-day cohorts × active-day
      * offset → distinct active users. */
    Q("q_cohort_retention",
      """WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
                    FROM events GROUP BY 1)
         SELECT cohort_day,
                CAST(date_diff('day', cohort_day,
                  date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
                count(DISTINCT e.user_id) AS n_active
         FROM events e JOIN f USING (user_id)
         GROUP BY 1, 2""") { (s, d) =>
      EventAnalytics.cohortRetention(Tables.events(s, d), "user_id", "ts")
    },

    /** §2b sliding-window aggregate (batch twin of EventStreams.slidingCounts:
      * 1-hour windows sliding every 15 min — each event lands in 4 windows). */
    Q("q_event_sliding",
      """SELECT CAST(to_timestamp((epoch_us(ts) // 900000000) * 900 - j * 900)
                     AS TIMESTAMP) AS window_start,
                event_type, count(*) AS n
         FROM events, UNNEST(generate_series(0, 3)) AS t(j)
         GROUP BY 1, 2""") { (s, d) =>
      graft.streaming.EventStreams.slidingCounts(Tables.events(s, d))
    },

    /** §2b session windows via Spark's native session_window (batch twin of
      * the streaming query; stream/batch parity in StreamingSpec). */
    Q("q_session_window",
      """WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN prev_us IS NULL
                         OR (epoch_us(ts) - prev_us) >= 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, ts, value,
                        LAG(epoch_us(ts), 1) OVER
                          (PARTITION BY user_id ORDER BY ts) AS prev_us
                 FROM events)),
              sess AS (
           SELECT user_id, ts, value,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
           FROM flagged)
         SELECT min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                user_id, count(*) AS n_events,
                round(sum(value), 2) AS session_value
         FROM sess GROUP BY user_id, session_id""") { (s, d) =>
      graft.streaming.EventStreams.sessionSpans(Tables.events(s, d))
    },

    /** §2b stream-static enrichment (batch twin): events left-joined to the
      * broadcast customer dimension — the no-state streaming join shape;
      * stream/batch parity is pinned in StreamingSpec. */
    Q("q_stream_enrich",
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""") { (s, d) =>
      graft.streaming.EventStreams.enrichedStream(
          Tables.events(s, d), Tables.customer(s, d), "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("value"))
    },

    /** §2b interval join (batch twin of EventStreams.attributedPurchases):
      * purchases attributed to same-user clicks within the prior 30 minutes —
      * equi-join on user_id with the time range as a post-filter, never a
      * nested loop. */
    Q("q_interval_join",
      """SELECT c.user_id, c.click_id, c.click_ts,
                p.purchase_id, p.purchase_ts, p.value
         FROM (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click') c
         JOIN (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
               FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.purchase_ts >= c.click_ts
          AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE""") { (s, d) =>
      graft.streaming.EventStreams.attributedPurchases(Tables.events(s, d))
    },

    /** §2b windowed drift monitor (batch twin of the streaming
      * composition): per 1-day tumbling window, JSD of the event-type mix
      * vs the corpus-wide reference distribution
      * ([[streaming.EventStreams.windowDrift]] over
      * [[streaming.EventStreams.tumblingCounts]]-shaped counts). */
    Q("q_drift_monitor",
      """WITH c AS (SELECT date_trunc('day', ts) AS window_start,
                           event_type, CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type,
                           CAST(count(*) AS DOUBLE)
                             / (SELECT count(*) FROM events) AS p_ref
                    FROM events GROUP BY 1),
              wt AS (SELECT window_start, CAST(sum(n) AS BIGINT) AS wt
                     FROM c GROUP BY 1),
              grid AS (SELECT w.window_start, r.event_type, r.p_ref,
                              wt.wt, COALESCE(c.n, 0) AS n
                       FROM (SELECT DISTINCT window_start FROM c) w
                       CROSS JOIN r
                       JOIN wt ON wt.window_start = w.window_start
                       LEFT JOIN c ON c.window_start = w.window_start
                                  AND c.event_type = r.event_type),
              t AS (SELECT window_start, wt,
                           CAST(n AS DOUBLE) / wt AS pw, p_ref
                    FROM grid)
         SELECT window_start, max(wt) AS n_events,
                round(sum(
                  CASE WHEN pw > 0.0
                       THEN pw * ln(pw / ((pw + p_ref) / 2.0)) / 2.0
                       ELSE 0.0 END
                + CASE WHEN p_ref > 0.0
                       THEN p_ref * ln(p_ref / ((pw + p_ref) / 2.0)) / 2.0
                       ELSE 0.0 END), 6) AS jsd
         FROM t GROUP BY 1""") { (s, d) =>
      val ev = Tables.events(s, d)
      val counts = ev
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"))
      val tot = ev.agg(count(lit(1)).as("__t"))
      val ref = ev.groupBy(col("event_type")).agg(count(lit(1)).as("__c"))
        .crossJoin(broadcast(tot))
        .select(col("event_type"),
          (col("__c").cast("double") / col("__t")).as("p_ref"))
      streaming.EventStreams.windowDrift(counts, ref)
    },

    /** §2b time-decay multi-touch attribution: each purchase's credit split
      * over the user's click/view touches in a 4-hour lookback, halving per
      * elapsed hour (stepped dyadic decay → exact credits); equi-join on
      * user + range post-filter + one per-conversion window sum. */
    Q("q_attribution",
      """WITH conv AS (SELECT DISTINCT user_id, ts AS conv_ts FROM events
                       WHERE event_type = 'purchase'),
              touches AS (SELECT DISTINCT user_id, ts AS touch_ts,
                                 event_type AS touch_type
                          FROM events
                          WHERE event_type IN ('click', 'view')),
              j AS (SELECT c.user_id, c.conv_ts, t.touch_ts, t.touch_type,
                           1.0 / CAST(1::BIGINT << CAST(least(
                               floor(CAST(epoch_us(c.conv_ts)
                                       - epoch_us(t.touch_ts) AS DOUBLE)
                                     / 3600000000.0), 62) AS INTEGER)
                             AS DOUBLE) AS w
                    FROM conv c JOIN touches t USING (user_id)
                    WHERE t.touch_ts < c.conv_ts
                      AND t.touch_ts >= c.conv_ts - INTERVAL 240 MINUTES)
         SELECT user_id, conv_ts, touch_ts, touch_type,
                round(w / sum(w) OVER (PARTITION BY user_id, conv_ts), 6)
                  AS credit
         FROM j""") { (s, d) =>
      EventAnalytics.timeDecayAttribution(Tables.events(s, d),
        "user_id", "ts", "event_type", convType = "purchase",
        touchTypes = Seq("click", "view"),
        lookbackMinutes = 240, halfLifeMinutes = 60)
    },

    /** §2b behavior motifs: top-20 length-3 event-type sequences — the
      * n=3 generalization of q_transitions; one lag-chain window + one
      * hash aggregate over the bounded type³ space. */
    Q("q_event_seqs",
      """WITH s AS (SELECT event_type,
                           lag(event_type, 1) OVER w AS p1,
                           lag(event_type, 2) OVER w AS p2
                    FROM events
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC))
         SELECT p2 || '>' || p1 || '>' || event_type AS sequence,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM s WHERE p2 IS NOT NULL AND p1 IS NOT NULL
                  AND event_type IS NOT NULL
         GROUP BY 1
         ORDER BY cnt DESC, sequence ASC
         LIMIT 20""") { (s, d) =>
      EventAnalytics.eventSequences(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", n = 3, topK = 20)
    },

    /** §2b RFM segmentation: recency/frequency/monetary per user, scored
      * 1..5 against broadcast population quantile cuts — map-side scoring,
      * no global sort; the campaign-tooling cell code included. */
    Q("q_rfm",
      """WITH pu AS (SELECT user_id, max(date_trunc('day', ts)) AS last_d,
                            COUNT(*) AS frequency,
                            round(SUM(value), 6) AS monetary
                     FROM events GROUP BY 1),
              anc AS (SELECT max(last_d) AS anchor FROM pu),
              wr AS (SELECT user_id, frequency, monetary,
                            CAST(date_diff('day', last_d, anchor) AS BIGINT)
                              AS recency_days
                     FROM pu CROSS JOIN anc),
              cuts AS (SELECT
                round(quantile_cont(recency_days, 0.2), 6) AS r20,
                round(quantile_cont(recency_days, 0.4), 6) AS r40,
                round(quantile_cont(recency_days, 0.6), 6) AS r60,
                round(quantile_cont(recency_days, 0.8), 6) AS r80,
                round(quantile_cont(frequency, 0.2), 6) AS f20,
                round(quantile_cont(frequency, 0.4), 6) AS f40,
                round(quantile_cont(frequency, 0.6), 6) AS f60,
                round(quantile_cont(frequency, 0.8), 6) AS f80,
                round(quantile_cont(monetary, 0.2), 6) AS m20,
                round(quantile_cont(monetary, 0.4), 6) AS m40,
                round(quantile_cont(monetary, 0.6), 6) AS m60,
                round(quantile_cont(monetary, 0.8), 6) AS m80
                FROM wr),
              sc AS (SELECT user_id, recency_days, frequency, monetary,
                       1 + (CASE WHEN recency_days < r80 THEN 1 ELSE 0 END)
                         + (CASE WHEN recency_days < r60 THEN 1 ELSE 0 END)
                         + (CASE WHEN recency_days < r40 THEN 1 ELSE 0 END)
                         + (CASE WHEN recency_days < r20 THEN 1 ELSE 0 END)
                         AS r_score,
                       1 + (CASE WHEN frequency > f20 THEN 1 ELSE 0 END)
                         + (CASE WHEN frequency > f40 THEN 1 ELSE 0 END)
                         + (CASE WHEN frequency > f60 THEN 1 ELSE 0 END)
                         + (CASE WHEN frequency > f80 THEN 1 ELSE 0 END)
                         AS f_score,
                       1 + (CASE WHEN monetary > m20 THEN 1 ELSE 0 END)
                         + (CASE WHEN monetary > m40 THEN 1 ELSE 0 END)
                         + (CASE WHEN monetary > m60 THEN 1 ELSE 0 END)
                         + (CASE WHEN monetary > m80 THEN 1 ELSE 0 END)
                         AS m_score
                     FROM wr CROSS JOIN cuts)
         SELECT user_id, recency_days, frequency, monetary,
                r_score, f_score, m_score,
                CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                  || CAST(m_score AS VARCHAR) AS rfm_code
         FROM sc""") { (s, d) =>
      EventAnalytics.rfm(Tables.events(s, d), "user_id", "ts", "value")
    },

    /** §2b inter-arrival cadence fingerprint: per-user count/mean/median/
      * max of consecutive-event second-gaps — the organic-vs-scripted
      * traffic screen beside q_burstiness's daily dispersion. */
    Q("q_inter_arrival",
      """WITH g AS (SELECT user_id,
                           epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id)
                             AS gap_us
                    FROM events)
         SELECT user_id, COUNT(*) AS n_gaps,
                avg(gap_us) / 1000000.0 AS mean_gap_s,
                quantile_cont(gap_us, 0.5) / 1000000.0 AS median_gap_s,
                CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
         FROM g WHERE gap_us IS NOT NULL GROUP BY 1""") { (s, d) =>
      EventAnalytics.interArrivalStats(Tables.events(s, d), "user_id",
        "ts", "event_id")
    },

    /** §2b Markov stationary distribution (4 unrolled power-iteration
      * rounds): where the event mix settles under today's transition
      * dynamics, beside each type's raw empirical share — the
      * accumulating-vs-draining readout per type. */
    Q("q_stationary_dist",
      """WITH tc AS (SELECT prev_type, event_type AS dst, COUNT(*) AS n
                     FROM (SELECT event_type,
                             LAG(event_type, 1) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
                           FROM events)
                     WHERE prev_type IS NOT NULL GROUP BY 1, 2),
              states AS (SELECT DISTINCT prev_type AS s FROM tc
                         UNION SELECT DISTINCT dst FROM tc
                         UNION SELECT DISTINCT event_type FROM events),
              tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS t
                      FROM tc GROUP BY 1),
              p AS (SELECT tc.prev_type AS src, tc.dst,
                           CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
                    FROM tc JOIN tot USING (prev_type)
                    UNION ALL
                    SELECT s, s, 1.0 FROM states
                    WHERE s NOT IN (SELECT prev_type FROM tot)),
              kk AS (SELECT COUNT(*) AS kn FROM states),
              v0 AS (SELECT s, 1.0 / kn AS v FROM states CROSS JOIN kk),
              v1 AS (SELECT dst AS s, SUM(v * p) AS v FROM v0
                     JOIN p ON v0.s = p.src GROUP BY 1),
              v2 AS (SELECT dst AS s, SUM(v * p) AS v FROM v1
                     JOIN p ON v1.s = p.src GROUP BY 1),
              v3 AS (SELECT dst AS s, SUM(v * p) AS v FROM v2
                     JOIN p ON v2.s = p.src GROUP BY 1),
              v4 AS (SELECT dst AS s, SUM(v * p) AS v FROM v3
                     JOIN p ON v3.s = p.src GROUP BY 1),
              sh AS (SELECT event_type AS s, COUNT(*) AS n
                     FROM events GROUP BY 1),
              t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM sh),
              va AS (SELECT states.s, COALESCE(v4.v, 0.0) AS v
                     FROM states LEFT JOIN v4 USING (s))
         SELECT va.s AS event_type, round(va.v, 6) AS pi,
                round(CAST(sh.n AS DOUBLE) / CAST(t2.t AS DOUBLE), 6)
                  AS empirical_share,
                round(va.v - CAST(sh.n AS DOUBLE) / CAST(t2.t AS DOUBLE), 6)
                  AS pi_minus_share
         FROM va LEFT JOIN sh USING (s) CROSS JOIN t2""") { (s, d) =>
      EventAnalytics.stationaryDistribution(Tables.events(s, d), "user_id",
        "ts", "event_id", "event_type", iters = 4)
    },

    /** §2b conversion latency: per segment, view→purchase conversion
      * rate plus p50/p90/mean first-touch→first-conversion seconds — the
      * lag distribution funnel depth counts can't show. */
    Q("q_conversion_latency",
      """WITH e AS (SELECT c.c_mktsegment AS g, ev.user_id AS u,
                           ev.event_type AS t, epoch_us(ev.ts) AS us
                    FROM events ev
                    JOIN customer c ON ev.user_id = c.c_custkey),
              f AS (SELECT g, u, min(us) AS t0
                    FROM e WHERE t = 'view' GROUP BY 1, 2),
              j AS (SELECT f.g, f.u, f.t0,
                           min(CASE WHEN p.us > f.t0 THEN p.us END) AS tc
                    FROM f LEFT JOIN (SELECT g, u, us FROM e
                                      WHERE t = 'purchase') p
                      ON f.g = p.g AND f.u = p.u
                    GROUP BY 1, 2, 3)
         SELECT g AS c_mktsegment,
                CAST(COUNT(*) AS BIGINT) AS n_from_users,
                CAST(COUNT(tc) AS BIGINT) AS n_converted,
                round(CAST(COUNT(tc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
                  6) AS conversion_rate,
                quantile_cont(tc - t0, 0.5) / 1000000.0 AS p50_latency_s,
                quantile_cont(tc - t0, 0.9) / 1000000.0 AS p90_latency_s,
                avg(tc - t0) / 1000000.0 AS mean_latency_s
         FROM j GROUP BY 1""") { (s, d) =>
      val e = Tables.events(s, d)
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      EventAnalytics.conversionLatency(e, "c_mktsegment", "user_id", "ts",
        fromType = "view", toType = "purchase")
    },

    /** §2b Markov-chain entropy: per-state conditional next-type entropy,
      * the chain entropy rate, zeroth-order marginal, and the
      * predictability gain H₀−H — how much knowing the current event type
      * tells you about the next (≈0 ⇒ memoryless, sequence features
      * worthless). */
    Q("q_markov_entropy",
      """WITH tc AS (SELECT prev_type, event_type AS dst,
                       CAST(count(*) AS BIGINT) AS n
                     FROM (SELECT event_type,
                             LAG(event_type, 1) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
                           FROM events)
                     WHERE prev_type IS NOT NULL GROUP BY 1, 2),
              ps AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out,
                       sum(CAST(n AS DOUBLE) * ln(n)) AS snl
                     FROM tc GROUP BY 1),
              ps2 AS (SELECT prev_type, n_out,
                        ln(n_out) - snl / CAST(n_out AS DOUBLE) AS h
                      FROM ps),
              mg AS (SELECT CAST(sum(m) AS BIGINT) AS nt,
                       sum(CAST(m AS DOUBLE) * ln(m)) AS sml
                     FROM (SELECT dst, CAST(sum(n) AS BIGINT) AS m
                           FROM tc GROUP BY 1)),
              hm AS (SELECT ln(nt) - sml / CAST(nt AS DOUBLE) AS hmv
                     FROM mg),
              hr AS (SELECT sum(CAST(n_out AS DOUBLE) * h)
                         / CAST(sum(n_out) AS DOUBLE) AS hrv
                     FROM ps2)
         SELECT prev_type, n_out, round(h, 6) AS h_state,
                round(hrv, 6) AS h_rate, round(hmv, 6) AS h_marginal,
                round(hmv - hrv, 6) AS info_gain
         FROM ps2, hr, hm""") { (s, d) =>
      EventAnalytics.markovEntropy(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type")
    },

    /** §2b Chapman capture–recapture estimate of the total user
      * population from the two half-month observation windows — the
      * coverage audit turning two distinct-counts + overlap into a "how
      * many users exist that we never saw" estimate. */
    Q("q_capture_recapture",
      """WITH pu AS (SELECT user_id,
                      max(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS c1,
                      max(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS c2
                    FROM events GROUP BY 1),
              t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                      CAST(sum(c2) AS BIGINT) AS n2,
                      CAST(sum(c1 * c2) AS BIGINT) AS m_both
                    FROM pu)
         SELECT n1, n2, m_both,
                CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
                  / CAST(m_both + 1 AS DOUBLE) - 1.0 AS n_hat,
                round(sqrt(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
                  * CAST(n1 - m_both AS DOUBLE)
                  * CAST(n2 - m_both AS DOUBLE)
                  / (CAST(m_both + 1 AS DOUBLE) * CAST(m_both + 1 AS DOUBLE)
                    * CAST(m_both + 2 AS DOUBLE))), 6) AS se_hat
         FROM t""") { (s, d) =>
      EventAnalytics.captureRecapture(Tables.events(s, d), "user_id", "ts",
        splitTs = "2024-01-16 00:00:00")
    },

    /** §2b log-rank test: do signup-first users convert (terminal
      * purchase) on a different survival curve than the rest — the
      * KM companion that says whether the curve gap is real, risk-set
      * weighted per event time. */
    Q("q_log_rank",
      s"""WITH ${edgeEventSql("fe", "first_type", "ts, event_id")},
              ${edgeEventSql("le", "last_type", "ts DESC, event_id DESC")},
              u AS (SELECT e.user_id,
                      CAST(date_diff('day', date_trunc('day', min(e.ts)),
                        date_trunc('day', max(e.ts))) AS BIGINT) AS dur,
                      max(l.last_type) = 'purchase' AS ev,
                      CASE WHEN max(f.first_type) = 'signup'
                        THEN 'signup_first' ELSE 'other' END AS grp
                    FROM events e
                    JOIN le l USING (user_id) JOIN fe f USING (user_id)
                    GROUP BY e.user_id),
              pd AS (SELECT dur AS t,
                       CAST(SUM(CASE WHEN grp = 'signup_first'
                         THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                       CAST(SUM(CASE WHEN grp = 'other'
                         THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                       CAST(SUM(CASE WHEN grp = 'signup_first' AND ev
                         THEN 1 ELSE 0 END) AS BIGINT) AS da,
                       CAST(SUM(CASE WHEN grp = 'other' AND ev
                         THEN 1 ELSE 0 END) AS BIGINT) AS db
                     FROM u GROUP BY 1),
              rk AS (SELECT *,
                       SUM(ca) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS na,
                       SUM(cb) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS nb
                     FROM pd),
              x AS (SELECT *, na + nb AS n, da + db AS d,
                      CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pa
                    FROM rk),
              y AS (SELECT *, CAST(d AS DOUBLE) * pa AS e,
                      CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * pa
                        * (1.0 - pa) * CAST(n - d AS DOUBLE)
                        / CAST(n - 1 AS DOUBLE) ELSE 0.0 END AS v
                    FROM x),
              f2 AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                       CAST(sum(cb) AS BIGINT) AS n_b,
                       CAST(sum(da) AS BIGINT) AS observed_a,
                       round(sum(CASE WHEN d > 0 THEN e ELSE 0.0 END), 6)
                         AS expected_a,
                       sum(CASE WHEN d > 0 THEN CAST(da AS DOUBLE) - e
                         ELSE 0.0 END) AS oe,
                       sum(CASE WHEN d > 0 THEN v ELSE 0.0 END) AS sv
                     FROM y)
         SELECT n_a, n_b, observed_a, expected_a,
                CASE WHEN sv > 0 THEN round(oe / sqrt(sv), 6) END AS z,
                CASE WHEN sv > 0 THEN round(oe * oe / sv, 6) END AS chi2
         FROM f2""") { (s, d) =>
      val ev = Tables.events(s, d)
      val perUser = ev.groupBy(col("user_id")).agg(
        datediff(date_trunc("day", max(col("ts"))),
          date_trunc("day", min(col("ts")))).cast("long").as("dur"),
        (max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type") === "purchase").as("ev"),
        when(min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type") === "signup", "signup_first")
          .otherwise("other").as("grp"))
      EventAnalytics.logRank(perUser, "grp", "dur", col("ev"),
        sideA = "signup_first", sideB = "other")
    },

    /** §2b Nelson–Aalen cumulative hazard of user lifetimes ending in
      * purchase ([[EventAnalytics.nelsonAalen]]) — the hazard-side view of
      * q_survival's Kaplan–Meier curve, identical lifetime/censoring
      * semantics. */
    Q("q_nelson_aalen",
      // [[lifetimeAtRiskSql]] as for q_survival; the hazard-side folds are
      // ordered-prefix cumsums (the ks/ewma contract).
      s"""$lifetimeAtRiskSql
              s AS (SELECT dur, n_events, n_censored, n_risk,
                           sum(CAST(n_events AS DOUBLE) / n_risk) OVER
                             $durPrefixSql AS h,
                           sum(CAST(n_events AS DOUBLE)
                               / (CAST(n_risk AS DOUBLE) * n_risk)) OVER
                             $durPrefixSql AS v
                    FROM w)
         SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
                n_events, n_censored,
                round(h, 6) AS cum_hazard,
                round(v, 6) AS hazard_var,
                round(exp(0.0 - h), 6) AS breslow_survival
         FROM s WHERE n_events > 0""") { (s, d) =>
      EventAnalytics.nelsonAalen(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", "purchase")
    },
  )
}
