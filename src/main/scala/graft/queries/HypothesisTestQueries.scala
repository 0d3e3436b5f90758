package graft
package queries

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hypothesis tests and multiple-testing corrections. */
object HypothesisTestQueries {
  import Shared._

  /** The drift battery the multiple-testing queries adjust: doc lengths of
    * sources src0..src4 shifted by +150, one-vs-rest KS per source
    * ([[Stats.groupKsDrift]]) and its asymptotic p-value. */
  private def shiftedKsPvalues(s: SparkSession, d: String): DataFrame = {
    val shifted = Tables.documents(s, d).withColumn("__v",
      col("n_chars") + when(
        col("source").isin("src0", "src1", "src2", "src3", "src4"),
        lit(150L)).otherwise(lit(0L)))
    val ks = Stats.groupKsDrift(shifted, "source", "__v")
    val ne = col("n_group").cast("double") * col("n_rest").cast("double") /
      (col("n_group") + col("n_rest")).cast("double")
    val p = least(lit(1.0),
      round(lit(2.0) * exp(lit(-2.0) * col("ks") * col("ks") * ne), 6))
    ks.withColumn("p_value", p)
  }

  /** Per-`cum`-group sizes and the 6dp one-vs-rest KS distance. */
  private val groupKsSelectSql: String =
    """SELECT g AS source,
              CAST(max(ng) AS BIGINT) AS n_group,
              CAST(max(nt - ng) AS BIGINT) AS n_rest,
              round(max(CASE WHEN nt > ng THEN
                abs(CAST(cumg AS DOUBLE) / CAST(ng AS DOUBLE)
                    - CAST(cumt - cumg AS DOUBLE)
                      / CAST(nt - ng AS DOUBLE)) END), 6) AS ks
       FROM cum GROUP BY 1"""

  /** DuckDB twin of [[shiftedKsPvalues]]: the `b` … `pv` CTEs, followed in
    * each oracle by its adjustment's own CTEs. */
  private val shiftedKsPvaluesSql: String =
    groupEcdfGridSql("""SELECT source AS g,
                           n_chars + CASE WHEN source IN
                             ('src0','src1','src2','src3','src4')
                             THEN 150 ELSE 0 END AS v
                    FROM documents WHERE n_chars IS NOT NULL""") + s""",
              ks AS ($groupKsSelectSql),
              pv AS (SELECT source, n_group, n_rest, ks,
                            least(1.0, round(2.0 * exp(-2.0 * ks * ks
                              * (CAST(n_group AS DOUBLE) * CAST(n_rest AS DOUBLE)
                                 / CAST(n_group + n_rest AS DOUBLE))), 6))
                              AS p_value
                     FROM ks),"""

  /** `b` (the `SELECT` producing group `g` and value `v`) through `cum`:
    * per group and distinct value, the group's and the total's running
    * counts (`cumg`, `cumt`) and sizes (`ng`, `nt`) — the one-vs-rest ECDF
    * grid of [[Stats.groupKsDrift]] and [[Stats.groupKuiperDrift]]. */
  private def groupEcdfGridSql(b: String): String =
    s"""WITH b AS ($b),
              gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
                     FROM b GROUP BY 1, 2),
              tv AS (SELECT v, CAST(count(*) AS BIGINT) AS ct
                     FROM b GROUP BY 1),
              gs AS (SELECT DISTINCT g FROM b),
              grid AS (SELECT gs.g, tv.v, tv.ct, COALESCE(gv.c, 0) AS c
                       FROM tv CROSS JOIN gs
                       LEFT JOIN gv ON gv.g = gs.g AND gv.v = tv.v),
              cum AS (SELECT g,
                             sum(c) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cumg,
                             sum(ct) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cumt,
                             sum(c) OVER (PARTITION BY g) AS ng,
                             sum(ct) OVER (PARTITION BY g) AS nt
                      FROM grid)"""

  /** Weekday index of `ts` from the 2024-01-01 anchor, cast to `sqlType`. */
  private def weekdaySql(sqlType: String): String =
    s"""CAST(datediff('day', DATE '2024-01-01',
         CAST(ts AS DATE)) % 7 AS $sqlType)"""

  /** Engine twin of [[weekdaySql]]. */
  private def weekday: Column =
    datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) % 7

  /** Event type × weekday index (as a string), null types dropped: the
    * contingency input of q_chi_square and q_g_test. */
  private def typeByWeekday(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_type").isNotNull)
      .select(col("event_type"), weekday.cast("string").as("dow"))

  /** The event type × weekday contingency (`cont`, margins `ma`/`mb`,
    * totals `tot`), `obs` holding the aggregates `obsAggs` over the
    * observed `od` and expected `e` cell counts, the statistic `stat`
    * computed by `statExpr` from those, and its closed-form even-df
    * Poisson-sum p-value unrolled to df 40: the shared oracle of
    * [[Stats.chiSquareTest]] and [[Stats.gTest]], reporting the
    * statistic as `statName`. */
  private def weekdayIndependenceSql(obsAggs: String, stat: String,
                                     statExpr: String,
                                     statName: String): String =
    s"""WITH ev AS (SELECT event_type AS a, ${weekdaySql("VARCHAR")} AS b
                     FROM events WHERE event_type IS NOT NULL),
              cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
                       FROM ev GROUP BY 1, 2),
              tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                        CAST(count(DISTINCT a) AS BIGINT) AS r_levels,
                        CAST(count(DISTINCT b) AS BIGINT) AS c_levels
                      FROM cont),
              ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS ca
                     FROM cont GROUP BY 1),
              mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
                     FROM cont GROUP BY 1),
              obs AS (SELECT $obsAggs
                      FROM (SELECT CAST(o AS DOUBLE) AS od,
                              CAST(ca AS DOUBLE) * cb / n AS e
                            FROM cont JOIN ma USING (a)
                              JOIN mb USING (b), tot)),
              stat AS (SELECT n, r_levels, c_levels,
                         (r_levels - 1) * (c_levels - 1) AS dof,
                         $statExpr AS $stat
                       FROM tot, obs),
              un AS (SELECT n, r_levels, c_levels, dof, $stat,
                       $stat * 0.5 AS h, dof / 2 AS m,
                       1.0 AS t0,
                       ${(1 to 19).map(k => s"t${k - 1} * h / $k.0 AS t$k").mkString(", ")}
                     FROM stat)
         SELECT n, r_levels, c_levels, dof, round($stat, 6) AS $statName,
                round(CASE WHEN dof % 2 = 0 AND dof >= 2 AND dof <= 40
                    AND $stat IS NOT NULL
                  THEN least(1.0, exp(-h) * (t0 + ${(1 to 19).map(k => s"CASE WHEN $k.0 < m THEN t$k ELSE 0.0 END").mkString(" + ")})) END, 6) AS p_value
         FROM un"""

  /** `s` … `fin` and the closing `SELECT` of the exact-integer one-way
    * ANOVA over `base(g, v)` (v quantized to 1e-6 as BIGINT): HUGEINT sums,
    * and one ordered k-row `list_reduce` fold, the same order as the
    * engine's sorted fold in [[Stats.anovaF]]. */
  private val exactAnovaTailSql: String =
    """s AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cn,
                    CAST(SUM(v) AS HUGEINT) AS sx,
                    SUM(CAST(v AS HUGEINT) * v) AS sxx
             FROM base GROUP BY 1),
       t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                    CAST(SUM(cn) AS BIGINT) AS n,
                    CAST(SUM(sx) AS DOUBLE) AS dsx,
                    CAST(SUM(sxx) AS DOUBLE) AS dsxx,
                    list_reduce(list_apply(
                      list(struct_pack(g := g,
                        t := CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                             / CAST(cn AS DOUBLE)) ORDER BY g),
                      x -> x.t), (a, b) -> a + b) AS tt
             FROM s),
       fin AS (SELECT k, n, dsxx - tt AS ssw,
                      tt - dsx * dsx / CAST(n AS DOUBLE) AS ssb
               FROM t)
  SELECT k, n,
         round(CASE WHEN k > 0 THEN ssb / 1e12 END, 6) AS ss_between,
         round(CASE WHEN k > 0 THEN ssw / 1e12 END, 6) AS ss_within,
         round(CASE WHEN k > 1 AND n > k AND ssw > 0
           THEN (ssb / CAST(k - 1 AS DOUBLE))
                / (ssw / CAST(n - k AS DOUBLE)) END, 6) AS f_stat,
         round(CASE WHEN k > 0 AND ssb + ssw > 0
           THEN ssb / (ssb + ssw) END, 6) AS eta_sq
  FROM fin"""

  /** `per`: each event type's count `n` and exact cent-quantized value
    * sums `sq`, `sqq` (HUGEINT), grouped with the clause `group` — the
    * moments CTE of the [[Stats.cochranC]], [[Stats.tukeyHsd]] and
    * [[Stats.welchAnova]] oracles. */
  private def centMomentsSql(group: String): String =
    s"""WITH per AS (SELECT event_type AS g,
                        CAST(count(*) AS BIGINT) AS n,
                        SUM(CAST(CAST(value AS DECIMAL(20,2)) * 100
                          AS HUGEINT)) AS sq,
                        SUM(CAST(CAST(value AS DECIMAL(20,2)) * 100
                              AS HUGEINT)
                            * CAST(CAST(value AS DECIMAL(20,2)) * 100
                              AS HUGEINT)) AS sqq
                      FROM events WHERE value IS NOT NULL
                      $group),"""

  /** Per-day mean value of the event cells `cells(b, t, v)` with the
    * treatment expression `t`, through `comp`: the blocks (days) holding
    * every treatment, with the extra columns `compCols` — the
    * complete-block prefix of the Friedman, Page and Quade oracles. */
  private def completeBlocksSql(t: String, compCols: String): String =
    s"""WITH cells AS (SELECT date_trunc('day', ts) AS b,
                          $t AS t, avg(value) AS v
                        FROM events WHERE value IS NOT NULL
                        GROUP BY 1, 2),
              cb AS (SELECT b, t, v FROM cells WHERE v IS NOT NULL),
              kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k
                     FROM cb),
              comp AS (SELECT cb.b, cb.t, cb.v$compCols
                       FROM cb
                       JOIN (SELECT b, count(*) AS c FROM cb GROUP BY 1) bc
                         ON cb.b = bc.b, kk
                       WHERE bc.c = kk.k),"""

  /** Within-block midrank `r` of `v` (ties get the mean rank). */
  private val blockMidrankSql: String =
    """CAST(rank() OVER (PARTITION BY b ORDER BY v) AS DOUBLE)
         + (CAST(count(*) OVER (PARTITION BY b, v) AS DOUBLE) - 1.0) / 2.0
         AS r"""

  /** Engine twin of [[completeBlocksSql]]'s `cells`: the mean event value
    * per day and treatment `t`. */
  private def dailyMeans(s: SparkSession, d: String, t: Column): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(date_trunc("day", col("ts")).as("day"), t)
      .agg(avg(col("value")).as("mean_value"))

  val all: Seq[Q] = Seq(
    /** §2b per-source one-vs-rest KS drift of the doc-length distribution
      * ([[Stats.groupKsDrift]]) — which source's shape diverges from the
      * corpus, the KS small-multiples companion to q_psi/q_jsd_drift. */
    Q("q_ks_per_source",
      groupEcdfGridSql("""SELECT source AS g, n_chars AS v FROM documents
                    WHERE n_chars IS NOT NULL""") + " " + groupKsSelectSql) { (s, d) =>
      Stats.groupKsDrift(Tables.documents(s, d), "source", "n_chars")
    },

    /** §2b BH-FDR-corrected drift battery: the per-source KS small
      * multiples promoted to decision grade — a DETERMINISTIC +150-char
      * location shift is injected into src0–src4 (known-drift validation:
      * the synthetic corpus is drift-free, so without injection every
      * verdict is vacuously non-significant), each source's two-sample KS
      * becomes an asymptotic p = min(1, 2·exp(−2·D²·n_e)) with
      * n_e = n₁n₂/(n₁+n₂), and [[Stats.bhAdjust]] turns the m=20 raw
      * p-values into rank / adjusted-p / reject-at-α=0.05 verdicts.
      * Shifted and unshifted sources land on BOTH sides of the verdict at
      * every SF (3-4 rejections at sf0.001/0.01), so the oracle comparison
      * exercises rank ordering, the suffix-min monotonization AND both
      * verdict branches. p is 6dp-rounded before ranking (exp ulp cannot
      * reorder) and ties break on source. */
    Q("q_fdr_bh",
      shiftedKsPvaluesSql + """
              ranked AS (SELECT *,
                                CAST(count(*) OVER () AS BIGINT) AS m,
                                CAST(row_number() OVER
                                  (ORDER BY p_value, source) AS INTEGER)
                                  AS bh_rank
                         FROM pv)
         SELECT source, n_group, n_rest, ks, p_value, bh_rank,
                round(least(min(CAST(m AS DOUBLE) * p_value / bh_rank)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING),
                      1.0), 6) AS p_adj,
                round(least(min(CAST(m AS DOUBLE) * p_value / bh_rank)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING),
                      1.0), 6) <= 0.05 AS significant
         FROM ranked""") { (s, d) =>
      Stats.bhAdjust(shiftedKsPvalues(s, d), "p_value", Seq("source"))
    },

    /** §2b χ² independence audit: lang × source contingency — which cells
      * drive the language-mix dependence across sources. */
    Q("q_chisq_indep",
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                        FROM documents GROUP BY 1, 2),
              rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS ra
                     FROM cells GROUP BY 1),
              ct AS (SELECT source, CAST(sum(n) AS BIGINT) AS cb
                     FROM cells GROUP BY 1),
              g AS (SELECT CAST(sum(n) AS BIGINT) AS gt FROM cells)
         SELECT c.lang, c.source, c.n,
                round(CAST(ra AS DOUBLE) * cb / gt, 6) AS expected,
                round((CAST(c.n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / gt)
                      * (CAST(c.n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / gt)
                      / (CAST(ra AS DOUBLE) * cb / gt), 6) AS chi2_contrib
         FROM cells c JOIN rt USING (lang) JOIN ct USING (source), g""") { (s, d) =>
      Stats.chiSquareIndependence(Tables.documents(s, d), "lang", "source")
    },

    /** §2b sample-ratio-mismatch guardrail: χ² goodness of fit of the
      * click/view traffic split vs 50/50 — run before q_welch_ttest's
      * readout, not after. */
    Q("q_srm_check",
      """WITH c AS (SELECT
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS n_a,
                      SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS n_b
                    FROM events
                    WHERE event_type IN ('click', 'view'))
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                round(CASE WHEN n_a + n_b > 0 THEN
                    (n_a - CAST(n_a + n_b AS DOUBLE) * 0.5)
                      * (n_a - CAST(n_a + n_b AS DOUBLE) * 0.5)
                      / (CAST(n_a + n_b AS DOUBLE) * 0.5)
                  + (n_b - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))
                      * (n_b - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))
                      / (CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5)) END, 6)
                  AS srm_chi2
         FROM c""") { (s, d) =>
      Stats.sampleRatioCheck(Tables.events(s, d), "event_type",
        armA = "click", armB = "view")
    },

    /** §2b Kolmogorov–Smirnov distribution shift: click vs purchase event
      * values — max ECDF gap from one hash aggregate + a distinct-value-
      * sized cumulative window. */
    Q("q_ks_statistic",
      s"""${clickPurchaseEcdfSql("value", cumAbSql)}
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(max(abs(cuma / na - cumb / nb)), 6) AS ks
         FROM c""") { (s, d) =>
      Stats.ksStatistic(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Welch two-sample t-test: click vs view event values per market
      * segment — the A/B readout as one (group, arm) hash aggregate + a
      * two-arm self-join; no equal-variance assumption. */
    Q("q_welch_ttest",
      """WITH j AS (SELECT c.c_mktsegment AS g, e.event_type AS a, e.value AS v
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey
                    WHERE e.event_type IN ('click', 'view')),
              s AS (SELECT g, a, COUNT(*) AS n, avg(v) AS m,
                           var_samp(v) AS vv
                    FROM j GROUP BY 1, 2),
              aa AS (SELECT g, n AS n_a, m AS m_a, vv AS v_a
                     FROM s WHERE a = 'click'),
              bb AS (SELECT g, n AS n_b, m AS m_b, vv AS v_b
                     FROM s WHERE a = 'view')
         SELECT g AS c_mktsegment, n_a, n_b,
                round(m_a - m_b, 6) AS mean_diff,
                round(CASE WHEN n_a > 1 AND n_b > 1
                             AND (v_a / n_a + v_b / n_b) > 0
                  THEN (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) END, 6)
                  AS t_stat,
                round(CASE WHEN n_a > 1 AND n_b > 1
                             AND (v_a / n_a + v_b / n_b) > 0
                             AND ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                               + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) > 0
                  THEN ((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b))
                       / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                         + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END, 6)
                  AS welch_df
         FROM aa JOIN bb USING (g)""") { (s, d) =>
      val e = Tables.events(s, d).join(Tables.customer(s, d),
        col("user_id") === col("c_custkey"))
      Stats.welchTTest(e, "c_mktsegment", "event_type", "value",
        armA = "click", armB = "view")
    },

    /** §2b one-way ANOVA F: does mean event value differ across the five
      * event types? k-arm generalization of the Welch pair test, with η²
      * effect size — one class aggregate + a k-row reduce. */
    Q("q_anova",
      // Exact-integer mirror of the order-independent anovaF: data-sized
      // sums are HUGEINT over 1e-6-quantized values (parallel-agg-proof),
      // the only float reduction is the ORDERED k-row list_reduce fold —
      // same bits, same order as the engine's sorted aggregate() fold.
      s"""WITH base AS (SELECT event_type AS g,
                              CAST(round(value * 1000000.0) AS BIGINT) AS v
                       FROM events
                       WHERE event_type IS NOT NULL AND value IS NOT NULL),
              $exactAnovaTailSql""") { (s, d) =>
      Stats.anovaF(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Kruskal–Wallis H: the rank-based one-way ANOVA over the same
      * five event-type populations — outlier/monotone-transform robust,
      * ranks assigned per DISTINCT rounded value (never per row). */
    Q("q_kruskal_wallis",
      """WITH vc AS (SELECT round(CAST(value AS DOUBLE), 6) AS s,
                            event_type AS g, COUNT(*) AS c
                     FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL
                     GROUP BY 1, 2),
              pv AS (SELECT s, CAST(SUM(c) AS BIGINT) AS cv
                     FROM vc GROUP BY 1),
              grid AS (SELECT s, cv,
                         CAST(COALESCE(SUM(cv) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS DOUBLE)
                           + CAST(cv + 1 AS DOUBLE) / 2.0 AS mid
                       FROM pv),
              pc AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
                            SUM(CAST(c AS DOUBLE) * mid) AS r
                     FROM vc JOIN grid USING (s) GROUP BY 1),
              tt AS (SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS t3
                     FROM grid),
              agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                             CAST(SUM(ng) AS BIGINT) AS n,
                             SUM(r * r / CAST(ng AS DOUBLE)) AS rr
                      FROM pc),
              fin AS (SELECT k, n,
                        12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                          * rr - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
                        1.0 - CAST(t3 AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr_
                      FROM agg CROSS JOIN tt)
         SELECT k, n,
                round(CASE WHEN k > 1 AND corr_ > 0
                  THEN h / corr_ END, 6) AS h_stat,
                round(CASE WHEN k > 1 AND corr_ > 0 AND n > k
                  THEN (h / corr_ - k + 1) / CAST(n - k AS DOUBLE)
                  END, 6) AS epsilon_sq
         FROM fin""") { (s, d) =>
      Stats.kruskalWallis(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Mantel–Haenszel pooled odds ratio: click-vs-view conversion
      * (value > 50) stratified by market segment — the report-instead
      * estimate when q_simpsons flags stratum confounding; crude OR
      * emitted beside OR_MH so the confounding gap is the readout. */
    Q("q_mantel_haenszel",
      """WITH j AS (SELECT c.c_mktsegment AS st,
                           e.event_type = 'click' AS t,
                           e.value > 50.0 AS y
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey
                    WHERE e.event_type IN ('click', 'view')
                      AND e.value IS NOT NULL
                      AND c.c_mktsegment IS NOT NULL),
              cells AS (SELECT st,
                          CAST(SUM(CASE WHEN t AND y THEN 1 ELSE 0 END)
                            AS BIGINT) AS a,
                          CAST(SUM(CASE WHEN t AND NOT y THEN 1 ELSE 0 END)
                            AS BIGINT) AS b,
                          CAST(SUM(CASE WHEN NOT t AND y THEN 1 ELSE 0 END)
                            AS BIGINT) AS c,
                          CAST(SUM(CASE WHEN NOT t AND NOT y THEN 1 ELSE 0 END)
                            AS BIGINT) AS d
                        FROM j GROUP BY 1),
              r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                           CAST(SUM(a) AS BIGINT) AS ta,
                           CAST(SUM(b) AS BIGINT) AS tb,
                           CAST(SUM(c) AS BIGINT) AS tc,
                           CAST(SUM(d) AS BIGINT) AS td,
                           SUM(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                             / CAST(a + b + c + d AS DOUBLE)) AS mh_num,
                           SUM(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                             / CAST(a + b + c + d AS DOUBLE)) AS mh_den
                    FROM cells)
         SELECT n_strata,
                round(CASE WHEN tb * tc > 0
                  THEN (CAST(ta AS DOUBLE) * CAST(td AS DOUBLE))
                    / (CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)) END, 6)
                  AS or_crude,
                round(CASE WHEN mh_den > 0 THEN mh_num / mh_den END, 6)
                  AS or_mh
         FROM r""") { (s, d) =>
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
        .withColumn("converted", col("value") > lit(50.0))
      Stats.mantelHaenszel(e, "c_mktsegment", "event_type", "click",
        "converted")
    },

    /** §2b Brown–Forsythe spread-equality test: ANOVA on absolute
      * deviations from each event type's median value — the
      * variance-equality gate before pooled tests, and the volatility
      * monitor the mean contrast can't see. */
    Q("q_brown_forsythe",
      // [[exactAnovaTailSql]] (as q_anova) over the 1e-6-quantized
      // absolute deviations from each group's median (quantile_cont ≡
      // Spark percentile bit-for-bit on these inputs, the pinned parity).
      s"""WITH b0 AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v0
                     FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL),
              med AS (SELECT g, quantile_cont(v0, 0.5) AS md
                      FROM b0 GROUP BY 1),
              base AS (SELECT b0.g,
                              CAST(round(abs(v0 - md) * 1000000.0) AS BIGINT)
                                AS v
                       FROM b0 JOIN med USING (g)),
              $exactAnovaTailSql""") { (s, d) =>
      Stats.brownForsythe(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Cramér–von Mises L2 distribution shift for the same two-sample
      * comparison — completes the shift trio (KS sup / W1 mass×distance /
      * CvM pooled L2) over one shared histogram shape. */
    Q("q_cvm",
      s"""${clickPurchaseEcdfSql("value", cumAbSql)}
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)
                  / ((CAST(max(na) AS DOUBLE) + CAST(max(nb) AS DOUBLE))
                    * (CAST(max(na) AS DOUBLE) + CAST(max(nb) AS DOUBLE)))
                  * sum(CAST(ca + cb AS DOUBLE)
                    * (cuma / na - cumb / nb)
                    * (cuma / na - cumb / nb)), 6) AS cvm
         FROM c""") { (s, d) =>
      Stats.cramerVonMises(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Yuen trimmed-mean test (20% trim) on the click-vs-purchase
      * values — the heavy-tail-robust rung of the experimentation ladder
      * beside Welch (mean), Mann–Whitney (rank) and QTE (quantile). */
    Q("q_yuen",
      """WITH v AS (SELECT event_type AS arm, CAST(value AS DOUBLE) AS x
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL),
              r AS (SELECT arm, x,
                      ROW_NUMBER() OVER (PARTITION BY arm ORDER BY x) AS rr,
                      COUNT(*) OVER (PARTITION BY arm) AS n
                    FROM v),
              r2 AS (SELECT arm, x, rr, n,
                       CAST(floor(CAST(n AS DOUBLE) * 0.2) AS BIGINT) AS g
                     FROM r),
              r3 AS (SELECT arm, x, rr, n, g,
                       max(CASE WHEN rr = g + 1 THEN x END)
                         OVER (PARTITION BY arm) AS lo,
                       max(CASE WHEN rr = n - g THEN x END)
                         OVER (PARTITION BY arm) AS hi
                     FROM r2),
              agg AS (SELECT arm, max(n) AS na,
                        max(n) - 2 * max(g) AS h,
                        sum(CASE WHEN rr > g AND rr <= n - g
                            THEN x ELSE 0.0 END)
                          / CAST(max(n) - 2 * max(g) AS DOUBLE) AS tm,
                        sum(CASE WHEN rr <= g THEN lo
                            WHEN rr > n - g THEN hi ELSE x END) AS sw,
                        sum((CASE WHEN rr <= g THEN lo
                            WHEN rr > n - g THEN hi ELSE x END)
                          * (CASE WHEN rr <= g THEN lo
                            WHEN rr > n - g THEN hi ELSE x END)) AS sww
                      FROM r3 GROUP BY 1),
              dd AS (SELECT arm, h, tm,
                       CAST(na - 1 AS DOUBLE)
                         * ((sww - sw * sw / CAST(na AS DOUBLE))
                           / CAST(na - 1 AS DOUBLE))
                         / (CAST(h AS DOUBLE) * CAST(h - 1 AS DOUBLE))
                         AS dj
                     FROM agg)
         SELECT CAST(a.h AS BIGINT) AS h_a, CAST(b.h AS BIGINT) AS h_b,
                round(a.tm, 6) AS trimmed_mean_a,
                round(b.tm, 6) AS trimmed_mean_b,
                round((a.tm - b.tm) / sqrt(a.dj + b.dj), 6) AS yuen_t,
                round(1.0 / ((a.dj / (a.dj + b.dj))
                    * (a.dj / (a.dj + b.dj)) / CAST(a.h - 1 AS DOUBLE)
                  + (1.0 - a.dj / (a.dj + b.dj))
                    * (1.0 - a.dj / (a.dj + b.dj))
                    / CAST(b.h - 1 AS DOUBLE)), 6) AS df
         FROM (SELECT * FROM dd WHERE arm = 'click') a,
              (SELECT * FROM dd WHERE arm = 'purchase') b""") { (s, d) =>
      Stats.yuenTrimmedTest(Tables.events(s, d), "event_type", "value",
        armA = "click", armB = "purchase")
    },

    /** §2b Wald SPRT daily trajectory testing H₀: purchase share = 0.18
      * vs H₁: 0.22 at α=.05, β=.2 — the anytime-valid early-stopping
      * monitor whose error rates hold at every boundary crossing (unlike
      * daily peeks at a fixed-horizon z-test). */
    Q("q_sprt",
      """WITH d AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM events GROUP BY 1),
              c AS (SELECT day,
                      SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS n_cum,
                      SUM(k) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS k_cum
                    FROM d),
              l AS (SELECT day, CAST(n_cum AS BIGINT) AS n_cum,
                      CAST(k_cum AS BIGINT) AS k_cum,
                      CAST(k_cum AS DOUBLE) * ln(0.22 / 0.18)
                        + CAST(n_cum - k_cum AS DOUBLE)
                          * ln((1.0 - 0.22) / (1.0 - 0.18)) AS llr
                    FROM c)
         SELECT day, n_cum, k_cum, round(llr, 6) AS llr,
                CASE WHEN llr >= ln((1.0 - 0.2) / 0.05) THEN 'accept_h1'
                     WHEN llr <= ln(0.2 / (1.0 - 0.05)) THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM l""") { (s, d) =>
      Stats.sprtDaily(Tables.events(s, d), "ts", "event_type",
        successType = "purchase", p0 = 0.18, p1 = 0.22)
    },

    /** §2b Anderson–Darling two-sample statistic for the same
      * click-vs-purchase comparison — the tail-sensitive rung of the
      * drift ladder (1/(Ĥ(1−Ĥ)) weighting diverges at both CDF ends),
      * completing KS/W1/energy on the shared histogram shape. */
    Q("q_anderson_darling",
      s"""${clickPurchaseEcdfSql("CAST(value AS DOUBLE)", cumAbSql)},
              t AS (SELECT na, nb, CAST(na + nb AS DOUBLE) AS nn,
                      CAST(cuma + cumb AS DOUBLE)
                        / CAST(na + nb AS DOUBLE) AS h,
                      CAST(cuma AS DOUBLE) / na
                        - CAST(cumb AS DOUBLE) / nb AS d,
                      ca + cb AS l
                    FROM c)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(max(na) AS DOUBLE) * max(nb)
                  / (max(nn) * max(nn))
                  * sum(CASE WHEN h < 1.0 THEN CAST(l AS DOUBLE) * d * d
                      / (h * (1.0 - h)) END), 6) AS a2
         FROM t""") { (s, d) =>
      Stats.andersonDarling(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Cochran–Armitage trend z for purchase share across the
      * ordered hour-of-day scores — monotone-rate-drift power a plain
      * independence χ² can't concentrate. */
    Q("q_cochran_armitage",
      """WITH ps AS (SELECT CAST(hour(ts) AS DOUBLE) AS w,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS k
                     FROM events GROUP BY 1),
              f AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                      CAST(sum(k) AS BIGINT) AS n_success,
                      sum(w * k) AS t, sum(w * n) AS wn,
                      sum(w * w * n) AS w2n
                    FROM ps),
              g AS (SELECT *, CAST(n_success AS DOUBLE)
                        / CAST(n_total AS DOUBLE) AS p
                    FROM f),
              h AS (SELECT *, p * (1.0 - p)
                        * (w2n - wn * wn / CAST(n_total AS DOUBLE)) AS vr
                    FROM g)
         SELECT n_total, n_success, t AS t_stat, p * wn AS t_expected,
                CASE WHEN vr > 0
                  THEN round((t - p * wn) / sqrt(vr), 6) END AS z
         FROM h""") { (s, d) =>
      val ev = Tables.events(s, d)
      Stats.cochranArmitage(ev.withColumn("hr", hour(col("ts"))), "hr",
        col("event_type") === "purchase")
    },

    /** §2b Jarque–Bera normality screen of event values per type — the
      * skew/kurtosis gate that routes each metric to the parametric or
      * robust rung of the experimentation ladder. */
    Q("q_jarque_bera",
      """WITH x AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
                    FROM events WHERE value IS NOT NULL),
              m AS (SELECT g, avg(x) AS mu, CAST(count(*) AS BIGINT) AS n
                    FROM x GROUP BY 1),
              c AS (SELECT x.g, m.n,
                      sum((x.x - mu) * (x.x - mu)) AS m2,
                      sum((x.x - mu) * (x.x - mu) * (x.x - mu)) AS m3,
                      sum((x.x - mu) * (x.x - mu) * (x.x - mu) * (x.x - mu))
                        AS m4
                    FROM x JOIN m ON x.g = m.g
                    GROUP BY 1, 2),
              d AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
                      m2 / CAST(n AS DOUBLE) AS v, m3, m4
                    FROM c),
              e AS (SELECT g, n, nd,
                      CASE WHEN v > 0
                        THEN m3 / nd / pow(v, 1.5) END AS s,
                      CASE WHEN v > 0 THEN m4 / nd / (v * v) END AS k
                    FROM d)
         SELECT g AS event_type, n, round(s, 6) AS skewness,
                round(k, 6) AS kurtosis,
                round(nd * (s * s / 6.0 + (k - 3.0) * (k - 3.0) / 24.0), 6)
                  AS jb
         FROM e""") { (s, d) =>
      Stats.jarqueBera(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Jonckheere–Terpstra ordered-alternative test: does the event
      * value distribution shift monotonically across the six 5-day
      * buckets of the month — dose-response power Kruskal–Wallis
      * diffuses; midrank ties + the Hollander–Wolfe tie-corrected
      * variance. */
    Q("q_jonckheere",
      """WITH h AS (SELECT CAST(floor((day(ts) - 1) / 5) AS BIGINT) AS g,
                      CAST(value AS DOUBLE) AS v,
                      CAST(count(*) AS BIGINT) AS h
                    FROM events WHERE value IS NOT NULL
                    GROUP BY 1, 2),
              grid AS (SELECT gs.g, vs.v, coalesce(h.h, 0) AS hi
                       FROM (SELECT DISTINCT g FROM h) gs
                       CROSS JOIN (SELECT DISTINCT v FROM h) vs
                       LEFT JOIN h ON h.g = gs.g AND h.v = vs.v),
              cg AS (SELECT g, v, hi,
                       SUM(hi) OVER (PARTITION BY g ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - hi AS below
                     FROM grid),
              jt AS (SELECT sum(CAST(b.h AS DOUBLE) * a.below
                         + 0.5 * CAST(a.hi AS DOUBLE) * b.h) AS j_stat
                     FROM cg a JOIN h b ON a.v = b.v AND a.g < b.g),
              sz AS (SELECT g, CAST(sum(h) AS BIGINT) AS n
                     FROM h GROUP BY 1),
              szf AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        CAST(sum(n * n) AS BIGINT) AS sn2,
                        sum(CAST(n AS DOUBLE) * (n - 1) * (2.0 * n + 5))
                          AS sn_a,
                        sum(CAST(n AS DOUBLE) * (n - 1) * (n - 2)) AS sn_b,
                        sum(CAST(n AS DOUBLE) * (n - 1)) AS sn_c
                      FROM sz),
              tf AS (SELECT
                       sum(CAST(t AS DOUBLE) * (t - 1) * (2.0 * t + 5))
                         AS st_a,
                       sum(CAST(t AS DOUBLE) * (t - 1) * (t - 2)) AS st_b,
                       sum(CAST(t AS DOUBLE) * (t - 1)) AS st_c
                     FROM (SELECT v, CAST(sum(h) AS BIGINT) AS t
                           FROM h GROUP BY 1)),
              fin AS (SELECT nn, j_stat,
                        CAST(nn * nn - sn2 AS DOUBLE) / 4.0 AS e,
                        (CAST(nn AS DOUBLE) * (nn - 1) * (2.0 * nn + 5)
                          - sn_a - st_a) / 72.0
                          + sn_b * st_b / (36.0 * CAST(nn AS DOUBLE)
                            * (nn - 1) * (nn - 2))
                          + sn_c * st_c / (8.0 * CAST(nn AS DOUBLE)
                            * (nn - 1)) AS vr
                      FROM jt, szf, tf)
         SELECT nn AS n_total, j_stat, e AS j_expected,
                CASE WHEN vr > 0
                  THEN round((j_stat - e) / sqrt(vr), 6) END AS z
         FROM fin""") { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("bucket", floor((dayofmonth(col("ts")) - 1) / 5))
      Stats.jonckheereTerpstra(ev, "bucket", "value")
    },

    /** §2b mixture-SPRT always-valid p for the purchase share vs p₀=0.2
      * (τ=0.05 mixing) — the peeking-safe daily monitor: report p every
      * day, stop at any crossing, validity holds by the running-min
      * construction. */
    Q("q_msprt",
      """WITH d AS (SELECT date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM events GROUP BY 1),
              c AS (SELECT day,
                      CAST(SUM(n) OVER w AS BIGINT) AS n_cum,
                      CAST(SUM(k) OVER w AS BIGINT) AS k_cum
                    FROM d
                    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW)),
              l AS (SELECT day, n_cum, k_cum,
                      CAST(n_cum AS DOUBLE) AS nd,
                      CAST(k_cum AS DOUBLE) / CAST(n_cum AS DOUBLE)
                        - 0.2 AS dev,
                      0.2 * (1.0 - 0.2) AS s2, 0.05 * 0.05 AS t2
                    FROM c),
              m AS (SELECT day, n_cum, k_cum,
                      sqrt(s2 / (s2 + nd * t2))
                        * exp(nd * nd * t2 * dev * dev
                          / (2.0 * s2 * (s2 + nd * t2))) AS lam
                    FROM l),
              p AS (SELECT day, n_cum, k_cum, lam,
                      least(1.0, 1.0 / lam) AS praw
                    FROM m)
         SELECT day, n_cum, k_cum, round(lam, 6) AS lambda,
                round(MIN(praw) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW), 6) AS p_always_valid
         FROM p""") { (s, d) =>
      Stats.msprtDaily(Tables.events(s, d), "ts", "event_type",
        successType = "purchase", p0 = 0.2, tau = 0.05)
    },

    /** §2b Friedman test (Conover tie-robust form) of event-type value
      * levels BLOCKED by day — day-level shifts cancel inside each
      * block, isolating the treatment contrast KW would drown. */
    Q("q_friedman",
      s"""${completeBlocksSql("event_type", "")}
              rk AS (SELECT b, t, $blockMidrankSql FROM comp),
              pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_blocks,
                       sum(r) AS rsum
                     FROM rk GROUP BY 1),
              ft AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS bb,
                       sum(r * r) AS sr2
                     FROM rk),
              tt AS (SELECT bb AS n_blocks_used, kk.k AS k_treatments,
                       CASE WHEN sr2 - CAST(bb AS DOUBLE)
                           * CAST(kk.k AS DOUBLE) * (kk.k + 1) * (kk.k + 1)
                           / 4.0 > 0
                         THEN round((CAST(kk.k AS DOUBLE) - 1)
                           * (srj2 - CAST(bb AS DOUBLE)
                             * (CAST(bb AS DOUBLE) * CAST(kk.k AS DOUBLE)
                               * (kk.k + 1) * (kk.k + 1) / 4.0))
                           / (sr2 - CAST(bb AS DOUBLE)
                             * CAST(kk.k AS DOUBLE) * (kk.k + 1)
                             * (kk.k + 1) / 4.0), 6) END AS t1
                     FROM (SELECT sum(rsum * rsum) AS srj2 FROM pt),
                       ft, kk)
         SELECT t AS event_type, n_blocks, rsum AS rank_sum,
                rsum / CAST(n_blocks AS DOUBLE) AS mean_rank,
                n_blocks_used, k_treatments, t1
         FROM pt, tt""") { (s, d) =>
      Stats.friedmanTest(dailyMeans(s, d, col("event_type")), "day",
        "event_type", "mean_value")
    },

    /** §2b Page's L: does mean event value TREND upward across the four
      * six-hour buckets, blocked by day — the ordered/blocked cell of the
      * KW/JT/Friedman/Page 2×2. */
    Q("q_page_trend",
      s"""${completeBlocksSql("CAST(floor(hour(ts) / 6) AS BIGINT)", "")}
              rk AS (SELECT b, t, $blockMidrankSql,
                       dense_rank() OVER (ORDER BY t) AS w
                     FROM comp),
              ft AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS bb,
                       sum(CAST(w AS DOUBLE) * r) AS l
                     FROM rk),
              fin AS (SELECT bb AS n_blocks_used, kk.k AS k_treatments,
                        l, CAST(bb AS DOUBLE) AS bd,
                        CAST(kk.k AS DOUBLE) AS kd
                      FROM ft, kk),
              g AS (SELECT n_blocks_used, k_treatments, l,
                      bd * kd * (kd + 1) * (kd + 1) / 4.0 AS e,
                      bd * (kd * kd * kd - kd) * (kd * kd * kd - kd)
                        / (144.0 * (kd - 1)) AS vr
                    FROM fin)
         SELECT n_blocks_used, k_treatments, l AS l_stat, e AS l_expected,
                CASE WHEN vr > 0 THEN round((l - e) / sqrt(vr), 6) END AS z
         FROM g""") { (s, d) =>
      Stats.pageTrendTest(
        dailyMeans(s, d, floor(hour(col("ts")) / 6).as("slot")), "day",
        "slot", "mean_value")
    },

    /** §2b Brunner–Munzel test for click vs purchase values — the
      * heteroscedasticity-robust Mann–Whitney replacement (each sample's
      * own placement variance + Welch–Satterthwaite df), folded from the
      * same distinct-value histogram. */
    Q("q_brunner_munzel",
      s"""${clickPurchaseEcdfSql("CAST(value AS DOUBLE)", cumAbSql)},
              p AS (SELECT *,
                      CAST(cuma + cumb - (ca + cb) AS DOUBLE)
                        + CAST(ca + cb + 1 AS DOUBLE) / 2.0
                        - (CAST(cuma - ca AS DOUBLE)
                          + CAST(ca + 1 AS DOUBLE) / 2.0) AS da,
                      CAST(cuma + cumb - (ca + cb) AS DOUBLE)
                        + CAST(ca + cb + 1 AS DOUBLE) / 2.0
                        - (CAST(cumb - cb AS DOUBLE)
                          + CAST(cb + 1 AS DOUBLE) / 2.0) AS db
                    FROM c),
              a AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
                      CAST(max(nb) AS BIGINT) AS n_b,
                      sum(CAST(ca AS DOUBLE) * da) AS sda,
                      sum(CAST(cb AS DOUBLE) * db) AS sdb,
                      sum(CAST(ca AS DOUBLE) * da * da) AS sda2,
                      sum(CAST(cb AS DOUBLE) * db * db) AS sdb2
                    FROM p),
              b AS (SELECT *, CAST(n_a AS DOUBLE) AS nad,
                      CAST(n_b AS DOUBLE) AS nbd,
                      sda / CAST(n_a AS DOUBLE) AS ma,
                      sdb / CAST(n_b AS DOUBLE) AS mb
                    FROM a),
              d AS (SELECT *,
                      CASE WHEN n_a > 1 THEN (sda2 - nad * ma * ma)
                        / (nad - 1) END AS va,
                      CASE WHEN n_b > 1 THEN (sdb2 - nbd * mb * mb)
                        / (nbd - 1) END AS vb
                    FROM b),
              e AS (SELECT *, nad * va + nbd * vb AS s2, mb / nad AS ph
                    FROM d)
         SELECT n_a, n_b, ph AS p_hat,
                CASE WHEN s2 > 0 THEN round(nad * nbd * (ph - 0.5)
                  / sqrt(s2), 6) END AS w_bm,
                CASE WHEN s2 > 0 THEN round(s2 * s2
                  / (nad * va * nad * va / (nad - 1)
                    + nbd * vb * nbd * vb / (nbd - 1)), 6) END AS df
         FROM e""") { (s, d) =>
      Stats.brunnerMunzel(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Dunn's post-hoc pairwise z after the KW omnibus, BH-adjusted
      * over the event-type pair battery — WHICH groups differ, not just
      * "some do"; A&S normal tails mirrored in the oracle. */
    Q("q_dunn",
      """WITH b AS (SELECT event_type AS g,
                      round(CAST(value AS DOUBLE), 6) AS s
                    FROM events
                    WHERE event_type IS NOT NULL AND value IS NOT NULL),
              vc AS (SELECT s, g, CAST(count(*) AS BIGINT) AS c
                     FROM b GROUP BY 1, 2),
              pv AS (SELECT s, CAST(sum(c) AS BIGINT) AS cv
                     FROM vc GROUP BY 1),
              grid AS (SELECT s, cv,
                         CAST(COALESCE(SUM(cv) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS DOUBLE)
                           + CAST(cv + 1 AS DOUBLE) / 2.0 AS mid
                       FROM pv),
              pc AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                       sum(CAST(c AS DOUBLE) * mid)
                         / CAST(sum(c) AS DOUBLE) AS rbar
                     FROM vc JOIN grid USING (s) GROUP BY 1),
              tot AS (SELECT CAST(sum(cv) AS BIGINT) AS nn,
                        sum(CAST(cv AS DOUBLE) * cv * cv - cv) AS t3
                      FROM grid),
              pr AS (SELECT a.g AS group_a, b2.g AS group_b,
                       a.n AS n_a, b2.n AS n_b,
                       a.rbar AS mean_rank_a, b2.rbar AS mean_rank_b,
                       nn, t3
                     FROM pc a JOIN pc b2 ON a.g < b2.g, tot),
              zz AS (SELECT *, CAST(nn AS DOUBLE)
                         * (CAST(nn AS DOUBLE) + 1) / 12.0
                         - t3 / (12.0 * (CAST(nn AS DOUBLE) - 1)) AS s2
                     FROM pr),
              z2 AS (SELECT group_a, group_b, n_a, n_b,
                       mean_rank_a, mean_rank_b,
                       CASE WHEN s2 > 0 THEN (mean_rank_a - mean_rank_b)
                         / sqrt(s2 * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE))) END AS zv
                     FROM zz),
              ps AS (SELECT *, abs(zv) / sqrt(2.0) AS x,
                       1.0 / (1.0 + 0.3275911
                         * (abs(zv) / sqrt(2.0))) AS t
                     FROM z2),
              p2 AS (SELECT group_a, group_b, n_a, n_b,
                       mean_rank_a, mean_rank_b, round(zv, 6) AS z,
                       round(CASE WHEN zv IS NOT NULL THEN least(1.0,
                         (((((1.061405429 * t - 1.453152027) * t)
                           + 1.421413741) * t - 0.284496736) * t
                           + 0.254829592) * t * exp(-x * x)) END, 6)
                         AS p_value
                     FROM ps),
              ranked AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS m,
                           CAST(row_number() OVER (ORDER BY p_value,
                             group_a, group_b) AS INTEGER) AS bh_rank
                         FROM p2)
         SELECT group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b,
                z, p_value, bh_rank,
                round(least(min(CAST(m AS DOUBLE) * p_value / bh_rank)
                    OVER (ORDER BY p_value, group_a, group_b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                  1.0), 6) AS p_adj,
                round(least(min(CAST(m AS DOUBLE) * p_value / bh_rank)
                    OVER (ORDER BY p_value, group_a, group_b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                  1.0), 6) <= 0.05 AS significant
         FROM ranked""") { (s, d) =>
      Stats.dunnPostHoc(Tables.events(s, d), "event_type", "value")
    },

    /** §2b seasonal Mann–Kendall per event type: monotone drift with the
      * weekly cycle stratified OUT (same-weekday pairs only) — plain MK
      * floods on the Mon<Fri pulse; this only sees cross-week trend. */
    Q("q_seasonal_mk",
      """WITH d AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS y
                    FROM events GROUP BY 1, 2),
              g AS (SELECT k, dayofweek(day) AS dow,
                      datediff('day', DATE '1970-01-01',
                        CAST(day AS DATE)) AS x, y
                    FROM d),
              sp AS (SELECT a.k AS k,
                       CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                     WHEN b.y < a.y THEN -1
                                     ELSE 0 END) AS BIGINT) AS s_stat
                     FROM g a JOIN g b
                       ON a.k = b.k AND a.dow = b.dow AND a.x < b.x
                     GROUP BY 1),
              vs AS (SELECT k, dow, CAST(count(*) AS BIGINT) AS n,
                       CAST(count(*) AS DOUBLE) * (count(*) - 1)
                         * (2.0 * count(*) + 5) AS base
                     FROM g GROUP BY 1, 2),
              tc AS (SELECT k, dow,
                       sum(CAST(t AS DOUBLE) * (t - 1) * (2.0 * t + 5))
                         AS tcorr
                     FROM (SELECT k, dow, y, CAST(count(*) AS BIGINT) AS t
                           FROM g GROUP BY 1, 2, 3)
                     GROUP BY 1, 2),
              vk AS (SELECT vs.k AS k, CAST(sum(n) AS BIGINT) AS n_days,
                       sum(base - tcorr) / 18.0 AS var_s
                     FROM vs JOIN tc ON vs.k = tc.k AND vs.dow = tc.dow
                     GROUP BY 1)
         SELECT sp.k AS event_type, n_days, s_stat, var_s,
                round(CASE WHEN var_s > 0 THEN
                  CASE WHEN s_stat > 0
                         THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                       WHEN s_stat < 0
                         THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                       ELSE 0.0 END END, 6) AS z
         FROM sp JOIN vk ON sp.k = vk.k""") { (s, d) =>
      Stats.seasonalMannKendall(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Wilcoxon signed-rank: per-user mean value, first half-month vs
      * second — the paired pre/post rung (pairing nets out between-user
      * variance that unpaired MW/Welch drown in). */
    Q("q_wilcoxon",
      """WITH pu AS (SELECT user_id,
                      avg(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN value END) AS x,
                      avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN value END) AS y
                    FROM events WHERE value IS NOT NULL GROUP BY 1),
              dd AS (SELECT d FROM (
                       SELECT round(y - x, 6) AS d FROM pu
                       WHERE x IS NOT NULL AND y IS NOT NULL)
                     WHERE d <> 0.0),
              pa AS (SELECT abs(d) AS a,
                       CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS cp,
                       CAST(count(*) AS BIGINT) AS ct
                     FROM dd GROUP BY 1),
              rk AS (SELECT *,
                       CAST(COALESCE(SUM(ct) OVER (ORDER BY a
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS DOUBLE)
                         + CAST(ct + 1 AS DOUBLE) / 2.0 AS mid
                     FROM pa),
              ag AS (SELECT CAST(sum(ct) AS BIGINT) AS n_pairs,
                       CAST(sum(cp) AS BIGINT) AS n_positive,
                       sum(CAST(cp AS DOUBLE) * mid) AS w_plus,
                       sum(CAST(ct AS DOUBLE) * ct * ct - ct) AS t3
                     FROM rk),
              g AS (SELECT n_pairs, n_positive, w_plus, t3,
                      CAST(n_pairs AS DOUBLE) AS nd
                    FROM ag),
              h AS (SELECT n_pairs, n_positive, w_plus,
                      nd * (nd + 1) / 4.0 AS w_expected,
                      nd * (nd + 1) * (2.0 * nd + 1) / 24.0
                        - t3 / 48.0 AS vr
                    FROM g)
         SELECT n_pairs, n_positive, w_plus, w_expected,
                CASE WHEN vr > 0
                  THEN round((w_plus - w_expected) / sqrt(vr), 6) END AS z
         FROM h""") { (s, d) =>
      val perUser = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(avg(when(col("ts") < lit("2024-01-16 00:00:00")
          .cast("timestamp"), col("value"))).as("x"),
          avg(when(col("ts") >= lit("2024-01-16 00:00:00")
            .cast("timestamp"), col("value"))).as("y"))
      Stats.wilcoxonSignedRank(perUser, "x", "y")
    },

    /** §2b Cochran's Q over the users × event-type touch matrix — do the
      * k types' reach rates differ once per-user propensity is blocked
      * out; sparse fold, no dense grid. */
    Q("q_cochran_q",
      """WITH ut AS (SELECT DISTINCT user_id AS b, event_type AS t
                     FROM events
                     WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM ut),
              cs AS (SELECT CAST(sum(c) AS BIGINT) AS nn,
                       CAST(sum(c * c) AS BIGINT) AS sc2
                     FROM (SELECT t, CAST(count(*) AS BIGINT) AS c
                           FROM ut GROUP BY 1)),
              rs AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(sum(r * r) AS BIGINT) AS sr2
                     FROM (SELECT b, CAST(count(*) AS BIGINT) AS r
                           FROM ut GROUP BY 1))
         SELECT n_blocks, kk.k AS k_treatments, nn AS n_successes,
                CASE WHEN CAST(kk.k * nn - sr2 AS DOUBLE) > 0
                  THEN round(CAST(kk.k - 1 AS DOUBLE)
                    * CAST(kk.k * sc2 - nn * nn AS DOUBLE)
                    / CAST(kk.k * nn - sr2 AS DOUBLE), 6) END AS q_stat
         FROM cs, kk, rs""") { (s, d) =>
      Stats.cochranQ(Tables.events(s, d), "user_id", "event_type")
    },

    /** §2b Mood's median test of event values across types — the
      * maximally-robust location screen (above/below the pooled median
      * only), the blunt-but-outlier-proof rung beside KW. */
    Q("q_mood_median",
      """WITH x AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                    FROM events
                    WHERE event_type IS NOT NULL AND value IS NOT NULL),
              md AS (SELECT quantile_cont(v, 0.5) AS m FROM x),
              pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN v > m THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_above
                     FROM x, md GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(n_above) AS BIGINT) AS ta,
                      CAST(count(*) AS BIGINT) AS k
                    FROM pg),
              sh AS (SELECT g, n, n_above,
                       CAST(n AS DOUBLE) * CAST(ta AS DOUBLE)
                         / CAST(nn AS DOUBLE) AS ea,
                       CAST(n AS DOUBLE) * CAST(nn - ta AS DOUBLE)
                         / CAST(nn AS DOUBLE) AS eb,
                       k
                     FROM pg, t),
              ch AS (SELECT CAST(max(k) - 1 AS BIGINT) AS df_chi,
                       round(CASE WHEN max(CASE WHEN ea <= 0 OR eb <= 0
                           THEN 1 ELSE 0 END) = 0
                         THEN sum((CAST(n_above AS DOUBLE) - ea)
                             * (CAST(n_above AS DOUBLE) - ea) / ea
                           + (CAST(n - n_above AS DOUBLE) - eb)
                             * (CAST(n - n_above AS DOUBLE) - eb) / eb)
                         END, 6) AS chi2
                     FROM sh)
         SELECT g AS event_type, n, n_above, ea AS expected_above,
                df_chi, chi2
         FROM sh, ch""") { (s, d) =>
      Stats.moodMedianTest(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Bartlett's likelihood-ratio variance-homogeneity test across
      * event types — the normal-theory rung beside q_levene's robust W. */
    Q("q_bartlett",
      """WITH pg AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(value AS DOUBLE)) AS sy,
                       sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
                         AS sy2
                     FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL
                     GROUP BY 1),
              pv AS (SELECT n,
                       (sy2 - sy * sy / CAST(n AS DOUBLE))
                         / CAST(n - 1 AS DOUBLE) AS s2
                     FROM pg WHERE n >= 2),
              pv2 AS (SELECT * FROM pv WHERE s2 > 0.0),
              f AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(n) AS BIGINT) AS nn,
                      sum(CAST(n - 1 AS DOUBLE) * s2) AS pool,
                      sum(CAST(n - 1 AS DOUBLE) * ln(s2)) AS slog,
                      sum(1.0 / CAST(n - 1 AS DOUBLE)) AS sinv
                    FROM pv2)
         SELECT k AS k_groups, nn AS n_total,
                round(CASE WHEN k >= 2 AND nn > k
                  THEN (CAST(nn - k AS DOUBLE)
                      * ln(pool / CAST(nn - k AS DOUBLE)) - slog)
                    / (1.0 + (sinv - 1.0 / CAST(nn - k AS DOUBLE))
                        / (3.0 * CAST(k - 1 AS DOUBLE))) END, 6)
                  AS bartlett_stat
         FROM f""") { (s, d) =>
      Stats.bartlettTest(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Pearson χ² independence test — event type × day-of-week index
      * (calendar-anchored `datediff % 7`, engine-neutral): is the event
      * mix independent of weekday. 5×7 grid ⇒ df = 24 (even), so the
      * closed-form Poisson-sum p-value applies, unrolled identically in
      * both engines. */
    Q("q_chi_square",
      weekdayIndependenceSql(
        "sum((od - e) * (od - e) / e) AS chi_obs, sum(e) AS e_obs", "c2",
        "chi_obs + (CAST(n AS DOUBLE) - e_obs)", "chi2")) { (s, d) =>
      Stats.chiSquareTest(typeByWeekday(s, d), "event_type", "dow")
    },

    /** §2b G-test (likelihood-ratio χ²) on the SAME event-type × weekday
      * grid as q_chi_square — the additive independence statistic
      * (sub-tables sum to the total), sharing the even-df closed-form p. */
    Q("q_g_test",
      weekdayIndependenceSql("sum(od * ln(od / e)) AS lsum", "gv",
        "2.0 * lsum", "g_stat")) { (s, d) =>
      Stats.gTest(typeByWeekday(s, d), "event_type", "dow")
    },

    /** §2b Benjamini–Yekutieli FDR over the SAME per-source KS battery as
      * q_fdr_bh — the dependence-robust adjustment (these drift tests
      * share the pooled rest-side, exactly the correlation BY tolerates
      * and BH's PRDS assumption does not). */
    Q("q_fdr_by",
      shiftedKsPvaluesSql + """
              ranked AS (SELECT *,
                                CAST(count(*) OVER () AS BIGINT) AS m,
                                CAST(row_number() OVER
                                  (ORDER BY p_value, source) AS INTEGER)
                                  AS by_rank
                         FROM pv),
              withc AS (SELECT *,
                               sum(1.0 / by_rank)
                                 OVER (ORDER BY p_value, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS cm
                        FROM ranked)
         SELECT source, n_group, n_rest, ks, p_value, by_rank,
                round(least(min(cm * CAST(m AS DOUBLE) * p_value / by_rank)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING),
                      1.0), 6) AS p_adj,
                round(least(min(cm * CAST(m AS DOUBLE) * p_value / by_rank)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN CURRENT ROW
                                       AND UNBOUNDED FOLLOWING),
                      1.0), 6) <= 0.05 AS significant
         FROM withc""") { (s, d) =>
      Stats.byAdjust(shiftedKsPvalues(s, d), "p_value", Seq("source"))
    },

    /** §2b Cochran–Mantel–Haenszel test — exposure = even event id,
      * outcome = above-typical value, stratified by weekday: is the
      * association significant AFTER the per-stratum adjustment (the
      * significance rung beside q_mantel_haenszel's pooled OR and
      * q_simpsons). */
    Q("q_cmh",
      """WITH ev AS (SELECT
                       CAST(datediff('day', DATE '2024-01-01',
                         CAST(ts AS DATE)) % 7 AS VARCHAR) AS s,
                       CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS e,
                       CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS o
                     FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL),
              cells AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN e = 1 AND o = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS a,
                          CAST(sum(CASE WHEN e = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                          CAST(sum(CASE WHEN o = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS c1
                        FROM ev GROUP BY 1 HAVING count(*) >= 2),
              folded AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                           CAST(sum(a) AS BIGINT) AS sum_a,
                           sum(CAST(r1 AS DOUBLE) * c1
                             / CAST(n AS DOUBLE)) AS se,
                           sum(((CAST(r1 AS DOUBLE) * (n - r1)) * c1)
                             * (n - c1)
                             / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                               * (CAST(n AS DOUBLE) - 1.0))) AS sv
                         FROM cells),
              chi AS (SELECT *,
                        CASE WHEN sv > 0 THEN
                          greatest(abs(CAST(sum_a AS DOUBLE) - se) - 0.5, 0.0)
                            * greatest(abs(CAST(sum_a AS DOUBLE) - se) - 0.5, 0.0)
                            / sv END AS c2
                      FROM folded),
              ps AS (SELECT *, sqrt(c2) / sqrt(2.0) AS x,
                       1.0 / (1.0 + 0.3275911 * (sqrt(c2) / sqrt(2.0))) AS t
                     FROM chi)
         SELECT n_strata, sum_a, round(se, 6) AS sum_expected,
                round(sv, 6) AS sum_var, round(c2, 6) AS chi2_cmh,
                round(CASE WHEN c2 IS NOT NULL THEN least(1.0,
                  (((((1.061405429 * t - 1.453152027) * t)
                    + 1.421413741) * t - 0.284496736) * t
                    + 0.254829592) * t * exp(-x * x)) END, 6) AS p_value
         FROM ps""") { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(
          (datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) % 7)
            .cast("string").as("dow"),
          when(col("event_id") % 2 === 0, 1).otherwise(0).as("exposed"),
          when(col("value") > 50.0, 1).otherwise(0).as("outcome"))
      Stats.cmhTest(ev, "dow", "exposed", "outcome")
    },

    /** §2b Levene's test (mean-centered) of spread homogeneity across
      * event types — the dispersion-drift alarm beside the ANOVA mean
      * contrast. */
    Q("q_levene",
      """WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                       FROM events
                       WHERE event_type IS NOT NULL
                         AND value IS NOT NULL),
              c AS (SELECT g, avg(v) AS cm FROM base GROUP BY 1),
              z AS (SELECT base.g, abs(base.v - c.cm) AS zv
                    FROM base JOIN c USING (g)),
              pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                       sum(zv) AS sz, sum(zv * zv) AS sz2
                     FROM z GROUP BY 1),
              fit AS (SELECT CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(n) AS BIGINT) AS nn,
                        sum(sz) AS gsz,
                        sum(CAST(n AS DOUBLE) * (sz / CAST(n AS DOUBLE))
                          * (sz / CAST(n AS DOUBLE))) AS nzb2,
                        sum(sz2 - CAST(n AS DOUBLE)
                          * (sz / CAST(n AS DOUBLE))
                          * (sz / CAST(n AS DOUBLE))) AS withinv
                      FROM pg),
              f2 AS (SELECT k AS k_groups, nn AS n_total,
                       round(CASE WHEN withinv > 0 AND k > 1
                         THEN CAST(nn - k AS DOUBLE)
                           / CAST(k - 1 AS DOUBLE)
                           * (nzb2 - CAST(nn AS DOUBLE)
                             * (gsz / CAST(nn AS DOUBLE))
                             * (gsz / CAST(nn AS DOUBLE)))
                           / withinv END, 6) AS w_stat
                     FROM fit)
         SELECT g AS event_type, n,
                round(sz / CAST(n AS DOUBLE), 6) AS z_mean,
                k_groups, n_total, w_stat
         FROM pg, f2""") { (s, d) =>
      Stats.leveneTest(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Ansari–Bradley rank scale test: are click values dispersed
      * like non-click values around a common center — the rank-robust
      * companion to q_levene/q_brown_forsythe ([[Stats.ansariBradley]];
      * exact integer score masses, midrank ties). */
    Q("q_ansari",
      // Ansari-Bradley: exact arithmetic-series score masses per tie
      // block, quotient/remainder-exact T, linear-rank-statistic moments.
      """WITH ps AS (SELECT round(CAST(value AS DOUBLE), 6) AS s,
                       CAST(SUM(CASE WHEN event_type = 'click'
                         THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                       CAST(SUM(CASE WHEN event_type = 'click'
                         THEN 0 ELSE 1 END) AS BIGINT) AS cn
                     FROM events
                     WHERE value IS NOT NULL AND event_type IS NOT NULL
                     GROUP BY 1),
              tot AS (SELECT CAST(SUM(cp + cn) AS BIGINT) AS nn FROM ps),
              blk AS (SELECT cp, cn, cp + cn AS sz,
                        CAST(COALESCE(SUM(cp + cn) OVER (ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS lo, nn
                      FROM ps, tot),
              sc AS (SELECT cp, cn, sz, nn, lo + 1 AS a, lo + sz AS b,
                            nn + 1 AS m, (nn + 1) // 2 AS k
                     FROM blk),
              sc2 AS (SELECT cp, cn, sz, nn,
                        (CASE WHEN a <= least(b, k)
                          THEN ((a + least(b, k)) * (least(b, k) - a + 1)) // 2
                          ELSE 0 END)
                      + (CASE WHEN greatest(a, k + 1) <= b
                          THEN ((m * 2 - greatest(a, k + 1) - b)
                            * (b - greatest(a, k + 1) + 1)) // 2
                          ELSE 0 END) AS bs
                      FROM sc),
              ag AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_x,
                            CAST(SUM(cn) AS BIGINT) AS n_y,
                            CAST(MAX(nn) AS BIGINT) AS nn,
                            CAST(SUM((cp * bs) // sz) AS DOUBLE)
                              + SUM(CAST((cp * bs) % sz AS DOUBLE)
                                / CAST(sz AS DOUBLE)) AS t,
                            CAST(SUM(bs) AS DOUBLE) AS sa,
                            SUM(CAST(bs AS DOUBLE) / CAST(sz AS DOUBLE)
                              * CAST(bs AS DOUBLE)) AS sa2
                     FROM sc2),
              fin AS (SELECT n_x, n_y, t,
                        CAST(n_x AS DOUBLE) * sa / CAST(nn AS DOUBLE) AS e,
                        CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)
                          * (CAST(nn AS DOUBLE) * sa2 - sa * sa)
                          / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                            * (CAST(nn AS DOUBLE) - 1.0)) AS v
                      FROM ag)
         SELECT n_x, n_y, round(t, 6) AS ab_stat,
                round(CASE WHEN n_x > 0 AND n_y > 0 AND v > 0
                  THEN (t - e) / sqrt(v) END, 6) AS z_stat
         FROM fin""") { (s, d) =>
      Stats.ansariBradley(
        Tables.events(s, d)
          .withColumn("is_click", col("event_type") === lit("click")),
        "value", "is_click")
    },

    /** §2b Holm step-down FWER adjustment over the SAME per-source KS
      * drift battery as q_fdr_bh — the zero-false-positive release gate
      * beside BH/BY's discovery-rate budgets ([[Stats.holmAdjust]]). */
    Q("q_holm",
      // Same KS battery as q_fdr_bh; the adjustment is the Holm step-down
      // prefix cummax of (m-rank+1)*p.
      shiftedKsPvaluesSql + """
              ranked AS (SELECT *,
                                CAST(count(*) OVER () AS BIGINT) AS m,
                                CAST(row_number() OVER
                                  (ORDER BY p_value, source) AS INTEGER)
                                  AS holm_rank
                         FROM pv)
         SELECT source, n_group, n_rest, ks, p_value, holm_rank,
                round(least(max(CAST(m - holm_rank + 1 AS DOUBLE) * p_value)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW),
                      1.0), 6) AS p_adj,
                round(least(max(CAST(m - holm_rank + 1 AS DOUBLE) * p_value)
                        OVER (ORDER BY p_value, source
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW),
                      1.0), 6) <= 0.05 AS significant
         FROM ranked""") { (s, d) =>
      Stats.holmAdjust(shiftedKsPvalues(s, d), "p_value", Seq("source"))
    },

    /** §2b Dickey–Fuller unit-root screen per event type over the daily
      * count series ([[Stats.adfDaily]]) — the stationarity gate in front
      * of the CUSUM/EWMA drift monitors; exact integer OLS moments over
      * the calendar-bounded grid. */
    Q("q_adf",
      """WITH obs AS (SELECT event_type AS g, date_trunc('day', ts) AS d,
                               CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              cal AS (SELECT g, unnest(generate_series(min(d), max(d),
                               INTERVAL 1 DAY)) AS d
                      FROM obs GROUP BY g),
              daily AS (SELECT cal.g, cal.d, COALESCE(obs.y, 0) AS y
                        FROM cal LEFT JOIN obs
                          ON obs.g = cal.g AND obs.d = cal.d),
              lagd AS (SELECT g, y,
                              lag(y) OVER (PARTITION BY g ORDER BY d) AS x
                       FROM daily),
              d2 AS (SELECT g, x, y - x AS dy FROM lagd
                     WHERE x IS NOT NULL),
              m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                           CAST(SUM(x) AS HUGEINT) AS sx,
                           CAST(SUM(dy) AS HUGEINT) AS sy,
                           SUM(CAST(x AS HUGEINT) * dy) AS sxy,
                           SUM(CAST(x AS HUGEINT) * x) AS sxx,
                           SUM(CAST(dy AS HUGEINT) * dy) AS syy
                    FROM d2 GROUP BY 1),
              f AS (SELECT g, n_days,
                           CAST(n_days * sxx - sx * sx AS DOUBLE) AS sxxc,
                           CAST(n_days * sxy - sx * sy AS DOUBLE) AS sxyc,
                           CAST(n_days * syy - sy * sy AS DOUBLE) AS syyc
                    FROM m)
         SELECT g AS event_type, n_days,
                round(CASE WHEN sxxc > 0 THEN sxyc / sxxc END, 6) AS gamma,
                round(CASE WHEN n_days > 2 AND sxxc > 0
                        AND (syyc - (sxyc / sxxc) * sxyc) > 0
                  THEN (sxyc / sxxc)
                       / sqrt((syyc - (sxyc / sxxc) * sxyc)
                           / CAST(n_days AS DOUBLE)
                           / (CAST(n_days AS DOUBLE) - 2.0)
                           / (sxxc / CAST(n_days AS DOUBLE))) END, 6)
                  AS adf_stat
         FROM f""") { (s, d) =>
      Stats.adfDaily(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Grubbs max-outlier screen per event type over daily counts:
      * exact-integer arg-max deviation + moments
      * ([[Stats.grubbsDaily]]). */
    Q("q_grubbs",
      // Exact integer |n*y - sy| under the arg-max (ties -> earliest day);
      // s mirrors the engine's division order term for term.
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS d,
                               CAST(count(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL
                        GROUP BY 1, 2),
              m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                           CAST(SUM(y) AS HUGEINT) AS sy,
                           SUM(CAST(y AS HUGEINT) * y) AS syy
                    FROM daily GROUP BY 1),
              top AS (SELECT daily.g, d,
                             abs(CAST(y AS HUGEINT) * n_days - sy) AS sdev,
                             ROW_NUMBER() OVER (PARTITION BY daily.g
                               ORDER BY abs(CAST(y AS HUGEINT) * n_days - sy)
                                 DESC, d ASC) AS rn
                      FROM daily JOIN m ON m.g = daily.g)
         SELECT m.g AS event_type, n_days, top.d AS worst_day,
                round(CASE WHEN n_days > 2
                        AND CAST(n_days * syy - sy * sy AS DOUBLE) > 0
                  THEN CAST(sdev AS DOUBLE) / CAST(n_days AS DOUBLE)
                       / sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)
                           / CAST(n_days AS DOUBLE)
                           / (CAST(n_days AS DOUBLE) - 1.0)) END, 6)
                  AS g_stat
         FROM m JOIN top ON top.g = m.g AND rn = 1""") { (s, d) =>
      Stats.grubbsDaily(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b paired sign test: per-user first-half vs second-half activity
      * ([[Stats.signTestHalves]]) — all-integer inputs to z. */
    Q("q_sign_test",
      // Exact integer half counts (2*us <= lo+hi puts boundary events in
      // the first half on both engines).
      """WITH sp AS (SELECT user_id AS u,
                            min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                     FROM events WHERE ts IS NOT NULL GROUP BY 1),
              h AS (SELECT e.user_id AS u,
                      CAST(SUM(CASE WHEN epoch_us(e.ts) * 2 <= sp.lo + sp.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(SUM(CASE WHEN epoch_us(e.ts) * 2 > sp.lo + sp.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n2
                    FROM events e JOIN sp ON sp.u = e.user_id
                    WHERE e.ts IS NOT NULL
                    GROUP BY 1),
              sg AS (SELECT u, CAST(sign(n2 - n1) AS INTEGER) AS s FROM h),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                       CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_plus,
                       CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_minus,
                       CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_tie
                     FROM sg)
         SELECT n_users, n_plus, n_minus, n_tie,
                round(CASE WHEN n_plus + n_minus > 0
                  THEN CAST(n_plus - n_minus AS DOUBLE)
                       / sqrt(CAST(n_plus + n_minus AS DOUBLE)) END, 6)
                  AS z_stat
         FROM ag""") { (s, d) =>
      Stats.signTestHalves(Tables.events(s, d), "user_id", "ts")
    },

    /** §2b Mood's median test across event types on value
      * ([[Stats.moodsMedianTest]]): global-median 2×k contingency. */
    Q("q_moods_median",
      // Global lower median from the distinct-value grid; chi2 from exact
      // integer O/E arithmetic; ties at-or-below on both engines.
      """WITH base AS (SELECT event_type AS g,
                              round(CAST(value AS DOUBLE), 6) AS v
                       FROM events
                       WHERE value IS NOT NULL AND event_type IS NOT NULL),
              grid AS (SELECT v, CAST(count(*) AS BIGINT) AS w
                       FROM base GROUP BY 1),
              cum AS (SELECT v, CAST(SUM(w) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c,
                             CAST(SUM(w) OVER () AS BIGINT) AS tw
                      FROM grid),
              med AS (SELECT min(v) AS m FROM cum WHERE c * 2 >= tw),
              cont AS (SELECT g,
                         CAST(SUM(CASE WHEN v > m THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_above,
                         CAST(SUM(CASE WHEN v <= m THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_at_or_below
                       FROM base, med GROUP BY 1),
              tot AS (SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
                             CAST(SUM(n_at_or_below) AS BIGINT) AS tb,
                             CAST(count(*) AS BIGINT) AS k_groups
                      FROM cont),
              chi AS (SELECT max(k_groups) AS k_groups,
                        CAST(SUM(n_above + n_at_or_below) AS BIGINT) AS n,
                        SUM((CASE WHEN CAST(n_above + n_at_or_below AS DOUBLE)
                                * ta / (ta + tb) > 0
                          THEN (n_above - CAST(n_above + n_at_or_below
                                AS DOUBLE) * ta / (ta + tb))
                             * (n_above - CAST(n_above + n_at_or_below
                                AS DOUBLE) * ta / (ta + tb))
                             / (CAST(n_above + n_at_or_below AS DOUBLE)
                                * ta / (ta + tb)) ELSE 0.0 END)
                          + (CASE WHEN CAST(n_above + n_at_or_below
                                AS DOUBLE) * tb / (ta + tb) > 0
                          THEN (n_at_or_below - CAST(n_above + n_at_or_below
                                AS DOUBLE) * tb / (ta + tb))
                             * (n_at_or_below - CAST(n_above + n_at_or_below
                                AS DOUBLE) * tb / (ta + tb))
                             / (CAST(n_above + n_at_or_below AS DOUBLE)
                                * tb / (ta + tb)) ELSE 0.0 END)) AS chi2
                      FROM cont, tot)
         SELECT n, k_groups, m AS global_median,
                CAST(k_groups - 1 AS BIGINT) AS dof,
                round(CASE WHEN k_groups > 1 THEN chi2 END, 6) AS chi2
         FROM chi, med""") { (s, d) =>
      Stats.moodsMedianTest(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Quade test across event types on daily mean values
      * ([[Stats.quadeTest]]) — friedman's blocked comparison with blocks
      * weighted by their range rank; same complete-block day×type cells
      * as q_friedman. */
    Q("q_quade",
      // [[completeBlocksSql]] (as q_friedman), block ranks weighted by the
      // midrank of each block's range; every S term is a dyadic rational
      // (the friedman exactness contract), T mirrored term for term.
      s"""${completeBlocksSql("event_type", ", kk.k")}
              rk AS (SELECT b, t, k, $blockMidrankSql,
                       max(v) OVER (PARTITION BY b)
                         - min(v) OVER (PARTITION BY b) AS rng
                     FROM comp),
              wq AS (SELECT b, t, k, r,
                       (CAST(rank() OVER (ORDER BY rng) AS DOUBLE) - 1.0)
                         / k + 1.0
                         + (CAST(count(*) OVER (PARTITION BY rng)
                             AS DOUBLE) / k - 1.0) / 2.0 AS q
                     FROM rk),
              sij AS (SELECT b, t, k,
                        q * (r - CAST(k + 1 AS DOUBLE) / 2.0) AS s
                      FROM wq),
              pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_blocks,
                       sum(s) AS sj
                     FROM sij GROUP BY 1),
              ft AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS bb,
                       CAST(max(k) AS BIGINT) AS kt, sum(s * s) AS a
                     FROM sij),
              tt AS (SELECT bb AS n_blocks_used, kt AS k_treatments,
                       CASE WHEN a - sj2 / bb > 0
                         THEN round(CAST(bb - 1 AS DOUBLE) * (sj2 / bb)
                           / (a - sj2 / bb), 6) END AS quade_t
                     FROM (SELECT sum(sj * sj) AS sj2 FROM pt), ft)
         SELECT t AS event_type, n_blocks, round(sj, 6) AS s_j,
                n_blocks_used, k_treatments, quade_t
         FROM pt, tt""") { (s, d) =>
      Stats.quadeTest(dailyMeans(s, d, col("event_type")), "day",
        "event_type", "mean_value")
    },

    /** §2b Cochran's C variance-outlier screen across event types on
      * value ([[Stats.cochranC]]) — "is one group's spread dominating",
      * the pre-flight for q_tukey_hsd's pooled MSE. */
    Q("q_cochran_c",
      // Exact cent-quantized per-group variances; the cross-group total
      // folds by ordered prefix (max prefix = total for nonneg terms).
      s"""${centMomentsSql("GROUP BY 1 HAVING count(*) > 1")}
              v AS (SELECT g, CAST(n * sqq - sq * sq AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE) / 10000.0 AS var
                    FROM per),
              c AS (SELECT g, var, sum(var) OVER (ORDER BY g
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum
                    FROM v),
              top AS (SELECT g, var FROM v
                      ORDER BY var DESC, g DESC LIMIT 1),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                             max(cum) AS tot
                      FROM c)
         SELECT k_groups, top.g AS max_var_group,
                round(top.var, 6) AS max_variance,
                round(tot, 6) AS sum_variance,
                round(CASE WHEN tot > 0 THEN top.var / tot END, 6)
                  AS cochran_c
         FROM tot, top""") { (s, d) =>
      Stats.cochranC(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Tukey–Kramer HSD pairwise contrasts across event types on
      * value ([[Stats.tukeyHsd]]) — the parametric post-hoc beside
      * q_dunn's rank-based one. */
    Q("q_tukey_hsd",
      // Pooled MSE from exact per-group SS (ordered-prefix total), then
      // the k^2 Tukey-Kramer pair grid, q mirrored term for term.
      s"""${centMomentsSql("GROUP BY 1")}
              s AS (SELECT g, n, sq,
                      CAST(n * sqq - sq * sq AS DOUBLE)
                        / CAST(n AS DOUBLE) / 10000.0 AS ss
                    FROM per),
              c AS (SELECT g, ss, sum(ss) OVER (ORDER BY g
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum
                    FROM s),
              tot AS (SELECT (SELECT CAST(sum(n) AS BIGINT) FROM per)
                        AS nn,
                        CAST(count(*) AS BIGINT) AS k_groups,
                        max(cum) AS sse
                      FROM c),
              t2 AS (SELECT k_groups, nn - k_groups AS df_err,
                       CASE WHEN nn - k_groups > 0 THEN
                         sse / CAST(nn - k_groups AS DOUBLE) END AS mse
                     FROM tot),
              m AS (SELECT g, n,
                      CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mc
                    FROM per)
         SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
                round(a.mc / 100.0, 6) AS mean_a,
                round(b.mc / 100.0, 6) AS mean_b,
                round(a.mc / 100.0 - b.mc / 100.0, 6) AS mean_diff,
                k_groups, df_err,
                round(sqrt(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                  + 1.0 / CAST(b.n AS DOUBLE))), 6) AS se,
                round(CASE WHEN sqrt(mse / 2.0
                    * (1.0 / CAST(a.n AS DOUBLE)
                       + 1.0 / CAST(b.n AS DOUBLE))) > 0 THEN
                  (a.mc / 100.0 - b.mc / 100.0)
                    / sqrt(mse / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                      + 1.0 / CAST(b.n AS DOUBLE))) END, 6) AS q_stat
         FROM m a JOIN m b ON a.g < b.g, t2""") { (s, d) =>
      Stats.tukeyHsd(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Welch's heteroscedastic one-way ANOVA across event types on
      * value ([[Stats.welchAnova]]) — the unequal-variance F beside
      * q_anova, with Welch–Satterthwaite df. */
    Q("q_welch_anova",
      // Per-group exact cent moments; two ordered folds over the k-row
      // grid (weights+weighted means, then the centered dispersion), the
      // grand weighted mean broadcast between them; algebra mirrored
      // term for term.
      s"""${centMomentsSql("GROUP BY 1 HAVING count(*) > 1")}
              mv AS (SELECT g, n,
                       CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                         AS m,
                       CAST(n * sqq - sq * sq AS DOUBLE)
                         / CAST(n * (n - 1) AS DOUBLE) / 10000.0 AS v
                     FROM per),
              w1 AS (SELECT g, n, m, v, CAST(n AS DOUBLE) / v AS w
                     FROM mv WHERE v > 0),
              c1 AS (SELECT *, sum(w) OVER ow AS cw,
                       sum(w * m) OVER ow AS cwm
                     FROM w1
                     WINDOW ow AS (ORDER BY g ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW)),
              t1 AS (SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(SUM(n) AS BIGINT) AS n_total,
                       (SELECT cw FROM c1 ORDER BY g DESC LIMIT 1) AS tw,
                       (SELECT cwm FROM c1 ORDER BY g DESC LIMIT 1)
                         AS twm
                     FROM c1),
              c2 AS (SELECT c1.*, t1.k, t1.n_total, t1.tw,
                       t1.twm / t1.tw AS mw
                     FROM c1, t1),
              c3 AS (SELECT *,
                       sum(w * (m - mw) * (m - mw)) OVER ow AS cnum,
                       sum(((1.0 - w / tw) * (1.0 - w / tw))
                         / CAST(n - 1 AS DOUBLE)) OVER ow AS clam
                     FROM c2
                     WINDOW ow AS (ORDER BY g ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW)),
              t2 AS (SELECT max(k) AS k_groups, max(n_total) AS n_total,
                       (SELECT cnum FROM c3 ORDER BY g DESC LIMIT 1)
                         AS a,
                       (SELECT clam FROM c3 ORDER BY g DESC LIMIT 1)
                         AS l
                     FROM c3)
         SELECT k_groups, n_total, k_groups - 1 AS df1,
                round(CASE WHEN l > 0 THEN
                  CAST(k_groups * k_groups - 1 AS DOUBLE) / (3.0 * l)
                  END, 6) AS df2,
                round(CASE WHEN k_groups > 1 AND l >= 0 THEN
                  (a / CAST(k_groups - 1 AS DOUBLE))
                    / (1.0 + 2.0 * CAST(k_groups - 2 AS DOUBLE)
                      / CAST(k_groups * k_groups - 1 AS DOUBLE) * l)
                  END, 6) AS welch_f
         FROM t2""") { (s, d) =>
      Stats.welchAnova(Tables.events(s, d), "event_type", "value")
    },

    /** §2b Fisher's exact 2×2 test: lang=en × source=src0 independence
      * ([[Stats.fisherExact]]) — hypergeometric-exact p via the
      * anchored ratio recurrence (no factorials, no lgamma). */
    Q("q_fisher_exact",
      // Hypergeometric support rebuilt by generate_series; probabilities
      // relative to the observed table via the exact rational ln-step
      // recurrence, anchored, exp'd, and summed by ordered prefix.
      """WITH cm AS (SELECT
                  CAST(sum(CASE WHEN lang = 'en' AND source = 'src0'
                    THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN lang = 'en' AND source <> 'src0'
                    THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN lang <> 'en' AND source = 'src0'
                    THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN lang <> 'en' AND source <> 'src0'
                    THEN 1 ELSE 0 END) AS BIGINT) AS d
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL),
              g AS (SELECT a, b, c, d, a + b + c + d AS n,
                      a + b AS r1, a + c AS c1,
                      greatest(0, (a + b) + (a + c) - (a + b + c + d))
                        AS kmin,
                      least(a + b, a + c) AS kmax
                    FROM cm),
              grid AS (SELECT g.*, u.k
                       FROM g, UNNEST(generate_series(kmin, kmax))
                         AS u(k)),
              st AS (SELECT *, CASE WHEN k < kmax THEN
                       ln(CAST((r1 - k) * (c1 - k) AS DOUBLE)
                         / CAST((k + 1) * (n - r1 - c1 + k + 1)
                           AS DOUBLE)) ELSE 0.0 END AS step
                     FROM grid),
              cu AS (SELECT *, COALESCE(sum(step) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0.0) AS cum
                     FROM st),
              an AS (SELECT *, max(CASE WHEN k = a THEN cum END)
                       OVER () AS anchor
                     FROM cu),
              ra AS (SELECT *, exp(cum - anchor) AS ratio FROM an),
              f2 AS (SELECT *, sum(ratio) OVER ow AS ct,
                       sum(CASE WHEN ratio <= 1.0 + 1e-7 THEN ratio
                           ELSE 0.0 END) OVER ow AS ce,
                       sum(CASE WHEN k >= a THEN ratio ELSE 0.0 END)
                         OVER ow AS cr,
                       sum(CASE WHEN k <= a THEN ratio ELSE 0.0 END)
                         OVER ow AS cl
                     FROM ra
                     WINDOW ow AS (ORDER BY k ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT max(a) AS a, max(b) AS b, max(c) AS c, max(d) AS d,
                round(CASE WHEN max(b) * max(c) > 0 THEN
                  CAST(max(a) * max(d) AS DOUBLE)
                    / CAST(max(b) * max(c) AS DOUBLE) END, 6)
                  AS odds_ratio,
                round(least(max(ce) / max(ct), 1.0), 6) AS p_two_sided,
                round(least(max(cr) / max(ct), 1.0), 6) AS p_greater,
                round(least(max(cl) / max(ct), 1.0), 6) AS p_less
         FROM f2""") { (s, d) =>
      Stats.fisherExact(
        Tables.documents(s, d).select((col("lang") === "en").as("is_en"),
          (col("source") === "src0").as("is_src0")),
        "is_en", "is_src0")
    },

    /** §2b TOST equivalence bounds: click vs view value within ±2.0
      * ([[Stats.tostEquivalence]]) — "are the arms the same", which a
      * failed difference test cannot conclude. */
    Q("q_tost",
      // Welch moments per arm from exact cent integers; TOST shifts the
      // numerator by +/-delta, algebra mirrored term for term.
      """WITH m AS (SELECT
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1
                    ELSE 0 END) AS BIGINT) AS n_a,
                  SUM(CASE WHEN event_type = 'click' THEN c END) AS sa,
                  SUM(CASE WHEN event_type = 'click' THEN c * c END)
                    AS ssa,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1
                    ELSE 0 END) AS BIGINT) AS n_b,
                  SUM(CASE WHEN event_type = 'view' THEN c END) AS sb,
                  SUM(CASE WHEN event_type = 'view' THEN c * c END)
                    AS ssb
                FROM (SELECT event_type,
                        CAST(CAST(value AS DECIMAL(20,2)) * 100
                          AS HUGEINT) AS c
                      FROM events
                      WHERE value IS NOT NULL
                        AND event_type IN ('click', 'view'))),
              alg AS (SELECT n_a, n_b,
                        CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                          - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)
                            / 100.0 AS d,
                        (CAST(n_a * ssa - sa * sa AS DOUBLE)
                          / CAST(n_a * (n_a - 1) AS DOUBLE) / 10000.0)
                          / CAST(n_a AS DOUBLE) AS ra,
                        (CAST(n_b * ssb - sb * sb AS DOUBLE)
                          / CAST(n_b * (n_b - 1) AS DOUBLE) / 10000.0)
                          / CAST(n_b AS DOUBLE) AS rb
                      FROM m),
              fin AS (SELECT *, sqrt(ra + rb) AS se,
                        (ra + rb) * (ra + rb)
                          / (ra * ra / CAST(n_a - 1 AS DOUBLE)
                            + rb * rb / CAST(n_b - 1 AS DOUBLE)) AS dfw
                      FROM alg)
         SELECT n_a, n_b, round(d, 6) AS mean_diff, 2.0 AS delta,
                round(se, 6) AS se,
                round(CASE WHEN se > 0 THEN dfw END, 6) AS df_welch,
                round(CASE WHEN se > 0 THEN (d + 2.0) / se END, 6)
                  AS t_lower,
                round(CASE WHEN se > 0 THEN (d - 2.0) / se END, 6)
                  AS t_upper
         FROM fin""") { (s, d) =>
      Stats.tostEquivalence(Tables.events(s, d), "event_type", "value",
        armA = "click", armB = "view", delta = 2.0)
    },

    /** §2b Kuiper cyclic drift: per event type, V = D⁺ + D⁻ of its
      * weekday-index mix vs the rest ([[Stats.groupKuiperDrift]]) — the
      * rotation-sensitive drift screen KS under-weights on cyclic
      * supports (a shifted weekly peak cancels at any single point). */
    Q("q_kuiper",
      // [[groupEcdfGridSql]] with SIGNED deviations: V = D+ + D-.
      groupEcdfGridSql(s"""SELECT event_type AS g,
                           ${weekdaySql("BIGINT")} AS v
                    FROM events WHERE ts IS NOT NULL""") + """
         SELECT g AS event_type,
                CAST(max(ng) AS BIGINT) AS n_group,
                CAST(max(nt - ng) AS BIGINT) AS n_rest,
                CASE WHEN max(nt - ng) > 0 THEN
                round(greatest(max(CASE WHEN nt > ng THEN
                    CAST(cumg AS DOUBLE) / CAST(ng AS DOUBLE)
                      - CAST(cumt - cumg AS DOUBLE)
                        / CAST(nt - ng AS DOUBLE) END), 0.0)
                  + greatest(max(CASE WHEN nt > ng THEN
                    -(CAST(cumg AS DOUBLE) / CAST(ng AS DOUBLE)
                      - CAST(cumt - cumg AS DOUBLE)
                        / CAST(nt - ng AS DOUBLE)) END), 0.0), 6)
                END AS kuiper_v
         FROM cum GROUP BY 1""") { (s, d) =>
      Stats.groupKuiperDrift(
        Tables.events(s, d).select(col("event_type"),
          weekday.cast("long").as("dow_ix")),
        "event_type", "dow_ix")
    },

    /** §2b Cucconi joint location-scale test on click vs non-click values
      * ([[Stats.cucconiTest]]) — one rank statistic for "did the
      * distribution move OR change spread", where Mann–Whitney + Ansari
      * separately would need a multiplicity correction. */
    Q("q_cucconi",
      // Exact 4*sum(rank^2) integer moments (midranks are half-integers);
      // the closing algebra mirrors cucconiTest term for term.
      """WITH ps AS (SELECT round(CAST(value AS DOUBLE), 6) AS s,
                       CAST(SUM(CASE WHEN event_type = 'click'
                         THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                       CAST(SUM(CASE WHEN event_type = 'click'
                         THEN 0 ELSE 1 END) AS BIGINT) AS cn
                     FROM events
                     WHERE value IS NOT NULL AND event_type IS NOT NULL
                     GROUP BY 1),
              blk AS (SELECT cp, cn, cp + cn AS sz,
                        CAST(COALESCE(SUM(cp + cn) OVER (ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS lo,
                        CAST(SUM(cp + cn) OVER () AS BIGINT) AS nn
                      FROM ps),
              rk AS (SELECT cp, cn, nn, lo * 2 + sz + 1 AS r2,
                            (nn + 1) * 2 - (lo * 2 + sz + 1) AS q2
                     FROM blk),
              ag AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_x,
                            CAST(SUM(cn) AS BIGINT) AS n_y,
                            CAST(MAX(nn) AS BIGINT) AS nn,
                            SUM(CAST(cp AS HUGEINT) * r2 * r2) AS s4,
                            SUM(CAST(cp AS HUGEINT) * q2 * q2) AS c4
                     FROM rk),
              f AS (SELECT n_x, n_y,
                      CAST(n_x AS DOUBLE) AS dm, CAST(n_y AS DOUBLE) AS dny,
                      CAST(nn AS DOUBLE) AS dbn,
                      CAST(s4 AS DOUBLE) AS ds4, CAST(c4 AS DOUBLE) AS dc4
                    FROM ag),
              g AS (SELECT n_x, n_y,
                      (6.0 * ds4 / 4.0 - dm * (dbn + 1.0) * (2.0 * dbn + 1.0))
                        / sqrt(dm * dny * (dbn + 1.0) * (2.0 * dbn + 1.0)
                          * (8.0 * dbn + 11.0) / 5.0) AS u,
                      (6.0 * dc4 / 4.0 - dm * (dbn + 1.0) * (2.0 * dbn + 1.0))
                        / sqrt(dm * dny * (dbn + 1.0) * (2.0 * dbn + 1.0)
                          * (8.0 * dbn + 11.0) / 5.0) AS v,
                      2.0 * (dbn * dbn - 4.0)
                        / ((2.0 * dbn + 1.0) * (8.0 * dbn + 11.0)) - 1.0
                        AS rho
                    FROM f)
         SELECT n_x, n_y,
                round(CASE WHEN n_x > 0 AND n_y > 0 THEN u END, 6) AS u_stat,
                round(CASE WHEN n_x > 0 AND n_y > 0 THEN v END, 6) AS v_stat,
                round(CASE WHEN n_x > 0 AND n_y > 0 AND rho * rho < 1.0
                  THEN (u * u + v * v - 2.0 * rho * u * v)
                       / (2.0 * (1.0 - rho * rho)) END, 6) AS cucconi_c
         FROM g""") { (s, d) =>
      Stats.cucconiTest(
        Tables.events(s, d)
          .withColumn("is_click", col("event_type") === lit("click")),
        "value", "is_click")
    },
  )
}
