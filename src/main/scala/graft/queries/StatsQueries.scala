package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Descriptive, drift, correlation, effect-size and causal statistics. */
object StatsQueries {
  import Shared._

  /** User-level frame for the causal diagnostics: treated =
    * purchase-HEAVY user (purchase share above the 20% corpus base
    * rate, as the exact integer 5·purchases > events — nearly every
    * user has ≥1 purchase, so mere presence would leave no control
    * arm); exact cent-quantized activity covariates. Shared
    * construction for q_smd_balance / q_strat_ate (each query runs it
    * independently — one aggregate over events). */
  private def userUnits(s: SparkSession, d: String): DataFrame = {
    val cents = (col("value").cast("decimal(20,2)") * 100)
      .cast("decimal(38,0)")
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        * 5 > count(lit(1))).as("treated"),
        count(lit(1)).as("n_events"),
        (sum(cents).cast("double") / 100.0).as("total_value"),
        datediff(date_trunc("day", max(col("ts"))),
          date_trunc("day", min(col("ts")))).cast("long").as("span_days"),
        (coalesce(sum(when(col("event_type") === "view", cents)),
          lit(0).cast("decimal(38,0)")).cast("double") / 100.0)
          .as("view_value"))
  }

  /** `j` (the reference `r(key, n_ref)` and current `c(key, n_cur)` counts
    * full-outer-joined on `key`), `t` (totals and bin count) and the
    * Laplace-smoothed PSI contribution per bin — the tail of the
    * [[Stats.psi]] oracles. */
  private def psiTailSql(key: String): String =
    s"""j AS (SELECT $key, COALESCE(n_ref, 0) AS n_ref,
                     COALESCE(n_cur, 0) AS n_cur
              FROM r FULL OUTER JOIN c USING ($key)),
        t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                     CAST(sum(n_cur) AS DOUBLE) AS tc,
                     CAST(count(*) AS DOUBLE) AS k FROM j)
   SELECT $key, n_ref, n_cur,
          round((CAST(n_ref AS DOUBLE) + 0.5) / (tr + 0.5 * k), 6)
            AS p_ref,
          round((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 0.5 * k), 6)
            AS p_cur,
          round(((CAST(n_ref AS DOUBLE) + 0.5) / (tr + 0.5 * k)
                 - (CAST(n_cur AS DOUBLE) + 0.5) / (tc + 0.5 * k))
                * ln(((CAST(n_ref AS DOUBLE) + 0.5) / (tr + 0.5 * k))
                     / ((CAST(n_cur AS DOUBLE) + 0.5) / (tc + 0.5 * k))),
                6) AS psi_contrib
   FROM j, t"""

  /** src0's decile (1–10, strict `>` against its edges `q`) of `n_chars`,
    * for the documents whose source matches `sourceTest`. */
  private def src0DecileSql(sourceTest: String): String =
    "SELECT 1 + " +
      (1 to 9).map(i => s"CAST((n_chars > q[$i]) AS INT)").mkString(" + ") +
      s" AS decile FROM documents, e WHERE source $sourceTest"

  val all: Seq[Q] = Seq(
    /** §2b burstiness audit: per-event-type variance-to-mean ratio of the
      * daily count series — Poisson-stable feeds sit at VMR ≈ 1; bursts and
      * replays push it far above. */
    Q("q_burstiness",
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                               CAST(count(*) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
              st AS (SELECT event_type,
                            CAST(count(*) AS BIGINT) AS n_days,
                            CAST(sum(x) AS BIGINT) AS s,
                            CAST(sum(x * x) AS BIGINT) AS ss
                     FROM daily GROUP BY 1)
         SELECT event_type, n_days,
                round(CAST(s AS DOUBLE) / n_days, 6) AS mean_daily,
                round(CASE WHEN n_days > 1 THEN greatest(
                  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * (CAST(s AS DOUBLE) / n_days))
                  / (CAST(n_days AS DOUBLE) - 1.0), 0.0) END, 6) AS var_daily,
                round(CASE WHEN n_days > 1 THEN greatest(
                  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * (CAST(s AS DOUBLE) / n_days))
                  / (CAST(n_days AS DOUBLE) - 1.0), 0.0) END
                  / (CAST(s AS DOUBLE) / n_days), 6) AS vmr
         FROM st""") { (s, d) =>
      Stats.burstiness(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b Theil–Sen robust slope + Mann–Kendall monotone-trend test over
      * per-type daily event counts ([[Stats.theilSenDaily]]) — the robust
      * companion to q_cusum (which localizes shifts; this tests drift). */
    Q("q_theil_sen",
      """WITH daily AS (SELECT event_type,
                               CAST(date_trunc('day', ts) AS DATE) AS day,
                               CAST(count(*) AS DOUBLE) AS y
                        FROM events GROUP BY 1, 2),
              d2 AS (SELECT event_type,
                            CAST(date_diff('day', DATE '1970-01-01', day)
                              AS DOUBLE) AS x, y
                     FROM daily),
              p AS (SELECT a.event_type,
                           (b.y - a.y) / (b.x - a.x) AS slope,
                           CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
                    FROM d2 a JOIN d2 b
                      ON a.event_type = b.event_type AND a.x < b.x)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(sgn) AS BIGINT) AS mk_s,
                round(CAST(sum(sgn) AS DOUBLE) / count(*), 6) AS kendall_tau,
                round(quantile_cont(slope, 0.5), 6) AS sen_slope
         FROM p GROUP BY 1""") { (s, d) =>
      Stats.theilSenDaily(Tables.events(s, d), "event_type", "ts")
    },

    /** §2b numeric-drift PSI: doc-length distribution of the rest of the
      * corpus vs source src0, binned by src0's OWN decile edges (strict->
      * bin assignment) — the numeric companion to q_psi's categorical form,
      * reusing Stats.psi for the smoothed contribution arithmetic. */
    Q("q_psi_numeric",
      s"""WITH e AS (SELECT quantile_cont(n_chars,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
                    FROM documents WHERE source = 'src0'),
              rb AS (${src0DecileSql("= 'src0'")}),
              cb AS (${src0DecileSql("<> 'src0'")}),
              r AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_ref
                    FROM rb GROUP BY 1),
              c AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cur
                    FROM cb GROUP BY 1),
              ${psiTailSql("decile")}""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("source") === "src0")
      val cur = docs.filter(col("source") =!= "src0")
      val qs = (1 to 9).map(_ / 10.0)
      // deliberately UNcached: caching this 1-row aggregate would erase its
      // maxRows=1 proof (InMemoryRelation reports none), demoting the two
      // broadcast crossJoins below to unproven nested loops in the plan
      // audit — the duplicate percentile pass (one per side) is the
      // cheaper cost
      val edges = ref.agg(
        expr(s"percentile(n_chars, array(${qs.mkString(",")}))").as("__q"))
      def binned(df: DataFrame): DataFrame = df.crossJoin(broadcast(edges))
        .select((1 to 9).foldLeft(lit(1)) { (acc, i) =>
          acc + when(col("n_chars") > element_at(col("__q"), i), 1).otherwise(0)
        }.as("decile"))
      Stats.psi(binned(ref), binned(cur), "decile")
    },

    /** §2b per-group Spearman rank correlation ([[Stats.spearman]]):
      * tie-aware monotone association of quantity vs price per return
      * flag — the outlier/transform-robust sibling of the Pearson drift
      * checks; heavy integer ties in l_quantity exercise the mid-rank
      * path at every SF. */
    Q("q_spearman",
      // Exact-integer mirror of the grid-collapsed spearman: doubled
      // midranks from cumulative windows over the per-group value grids,
      // HUGEINT moments, one closing double ratio (the 2x scale cancels).
      """WITH cells AS (SELECT l_returnflag AS grp, l_quantity AS x,
                          l_extendedprice AS y,
                          CAST(count(*) AS BIGINT) AS c
                        FROM lineitem
                        WHERE l_quantity IS NOT NULL
                          AND l_extendedprice IS NOT NULL
                        GROUP BY 1, 2, 3),
              gx AS (SELECT grp, x,
                       CAST(COALESCE(SUM(cv) OVER (PARTITION BY grp
                         ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) * 2 + cv + 1 AS BIGINT)
                         AS rx2
                     FROM (SELECT grp, x, CAST(SUM(c) AS BIGINT) AS cv
                           FROM cells GROUP BY 1, 2)),
              gy AS (SELECT grp, y,
                       CAST(COALESCE(SUM(cv) OVER (PARTITION BY grp
                         ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) * 2 + cv + 1 AS BIGINT)
                         AS ry2
                     FROM (SELECT grp, y, CAST(SUM(c) AS BIGINT) AS cv
                           FROM cells GROUP BY 1, 2)),
              m AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
                      SUM(CAST(c AS HUGEINT) * rx2) AS sx,
                      SUM(CAST(c AS HUGEINT) * ry2) AS sy,
                      SUM(CAST(c AS HUGEINT) * rx2 * ry2) AS sxy,
                      SUM(CAST(c AS HUGEINT) * rx2 * rx2) AS sxx,
                      SUM(CAST(c AS HUGEINT) * ry2 * ry2) AS syy
                    FROM cells JOIN gx USING (grp, x)
                      JOIN gy USING (grp, y)
                    GROUP BY 1)
         SELECT grp AS l_returnflag, n,
                CASE WHEN (n * sxx - sx * sx) > 0
                      AND (n * syy - sy * sy) > 0 THEN
                  round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) END
                  AS spearman_rho
         FROM m""") { (s, d) =>
      Stats.spearman(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", "l_extendedprice")
    },

    /** §2b split-conformal prediction radius ([[Stats.conformalRadius]]):
      * per event type, the ⌈(n+1)(1−α)⌉-th smallest |residual| of value
      * around the (6dp-rounded) group mean at the dyadic α = 0.125 — the
      * distribution-free interval radius a shipped predictor needs. The
      * predictor is rounded BEFORE residuals so the order statistic ranks
      * engine-identical doubles. */
    Q("q_conformal",
      """WITH p AS (SELECT event_type,
                      value - round(avg(value) OVER (PARTITION BY event_type),
                        6) AS resid
                    FROM events WHERE value IS NOT NULL),
              r AS (SELECT event_type, abs(resid) AS a,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY abs(resid) ASC) AS rn
                    FROM p),
              st AS (SELECT event_type, count(*) AS n_cal,
                       CAST(ceil((count(*) + 1) * 0.875) AS BIGINT) AS rank_r
                     FROM r GROUP BY 1)
         SELECT st.event_type, st.n_cal, st.rank_r,
                round(r2.a, 6) AS radius
         FROM st LEFT JOIN r r2
           ON r2.event_type = st.event_type AND r2.rn = st.rank_r""") { (s, d) =>
      // r16: group mean via aggregate + broadcast join instead of an
      // unordered window partitioned by the ≤k-type key (whole-group rows
      // through ≤k tasks at any scale — the r15-verdict serial cliff);
      // identical expression, map-side combined
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val means = ev.groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("__mu"))
      val withResid = ev.join(broadcast(means), Seq("event_type"))
        .withColumn("__resid", col("value") - col("__mu"))
      Stats.conformalRadius(withResid, "event_type", "__resid")
    },

    /** §2b per-group closed-form OLS: quantity→price trend per returnflag —
      * one hash aggregate, slope/intercept/r² composed post-aggregate from
      * the cross-engine-stable covariance/variance/corr battery. */
    Q("q_group_ols",
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                round(CASE WHEN var_samp(l_quantity) > 0
                  THEN covar_samp(l_quantity, l_extendedprice)
                         / var_samp(l_quantity) END, 6) AS slope,
                round(avg(l_extendedprice)
                  - (CASE WHEN var_samp(l_quantity) > 0
                       THEN covar_samp(l_quantity, l_extendedprice)
                              / var_samp(l_quantity) END)
                    * avg(l_quantity), 6) AS intercept,
                round((covar_samp(l_quantity, l_extendedprice)
                         * covar_samp(l_quantity, l_extendedprice))
                      / (var_samp(l_quantity) * var_samp(l_extendedprice)),
                  6) AS r2
         FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
      Stats.groupOls(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", "l_extendedprice")
    },

    /** §2b robust outliers: events whose value sits more than 3 robust
      * z-scores (MAD-based) from its event type's median — the
      * outlier-immune counterpart of q_zscore. */
    Q("q_mad_outliers",
      """WITH med AS (SELECT event_type, median(value) AS med
                      FROM events GROUP BY 1),
              mad AS (SELECT e.event_type,
                             median(abs(e.value - med.med)) AS mad
                      FROM events e JOIN med USING (event_type)
                      GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value, med.med, mad.mad,
                round(abs(e.value - med.med) / (mad.mad * 1.4826), 6)
                  AS robust_z
         FROM events e JOIN med USING (event_type)
                       JOIN mad USING (event_type)
         WHERE mad.mad > 0
           AND round(abs(e.value - med.med) / (mad.mad * 1.4826), 6) > 3.0""") { (s, d) =>
      Stats.madOutliers(Tables.events(s, d), "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("robust_z"))
    },

    /** §2b Simpson's-paradox guard: src0-vs-src1 long-doc rate (n_chars >
      * 300) pooled vs lang-stratified — the confounded-readout gate every
      * segmented comparison needs before shipping. */
    Q("q_simpsons",
      """WITH cells AS (
           SELECT lang AS stratum,
                  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN source = 'src0' AND n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
                  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN source = 'src1' AND n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT) AS s_b
           FROM documents WHERE source IN ('src0', 'src1')
           GROUP BY 1),
              f AS (SELECT * FROM cells WHERE n_a > 0 AND n_b > 0),
              t AS (SELECT sum(s_a) AS sa, sum(n_a) AS na,
                           sum(s_b) AS sb, sum(n_b) AS nb,
                           sum((CAST(s_a AS DOUBLE) / n_a
                                - CAST(s_b AS DOUBLE) / n_b)
                               * CAST(n_a + n_b AS DOUBLE)) AS wd,
                           sum(n_a + n_b) AS n
                    FROM f)
         SELECT stratum, n_a, s_a, n_b, s_b,
                round(CAST(s_a AS DOUBLE) / n_a, 6) AS rate_a,
                round(CAST(s_b AS DOUBLE) / n_b, 6) AS rate_b,
                round(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb, 6)
                  AS pooled_diff,
                round(wd / CAST(n AS DOUBLE), 6) AS weighted_diff,
                round(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb, 6)
                  * round(wd / CAST(n AS DOUBLE), 6) < 0 AS sign_flip
         FROM f, t""") { (s, d) =>
      Stats.simpsonsCheck(
        Tables.documents(s, d).withColumn("is_long", col("n_chars") > 300),
        "source", "lang", "is_long", "src0", "src1")
    },

    /** §2b PSI drift readout: language-distribution stability of source
      * src0 (reference) vs the rest of the corpus (current), Laplace-
      * smoothed so one-sided bins stay finite. */
    Q("q_psi",
      s"""WITH r AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ref
                    FROM documents WHERE source = 'src0' GROUP BY 1),
              c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cur
                    FROM documents WHERE source <> 'src0' GROUP BY 1),
              ${psiTailSql("lang")}""") { (s, d) =>
      val docs = Tables.documents(s, d)
      Stats.psi(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "lang")
    },

    /** §2b Jensen–Shannon drift readout over the same src0-vs-rest split as
      * q_psi — bounded in [0, ln 2], so the alarm threshold transfers
      * across corpora (PSI's doesn't). */
    Q("q_jsd_drift",
      """WITH r AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ref
                    FROM documents WHERE source = 'src0' GROUP BY 1),
              c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cur
                    FROM documents WHERE source <> 'src0' GROUP BY 1),
              j AS (SELECT lang, COALESCE(n_ref, 0) AS n_ref,
                           COALESCE(n_cur, 0) AS n_cur
                    FROM r FULL OUTER JOIN c USING (lang)),
              t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                           CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
         SELECT lang, n_ref, n_cur,
                round(CAST(n_ref AS DOUBLE) / tr, 6) AS p_ref,
                round(CAST(n_cur AS DOUBLE) / tc, 6) AS p_cur,
                round(
                  CASE WHEN n_ref > 0
                       THEN CAST(n_ref AS DOUBLE) / tr
                            * ln((CAST(n_ref AS DOUBLE) / tr)
                                 / ((CAST(n_ref AS DOUBLE) / tr
                                     + CAST(n_cur AS DOUBLE) / tc) / 2.0)) / 2.0
                       ELSE 0.0 END
                + CASE WHEN n_cur > 0
                       THEN CAST(n_cur AS DOUBLE) / tc
                            * ln((CAST(n_cur AS DOUBLE) / tc)
                                 / ((CAST(n_ref AS DOUBLE) / tr
                                     + CAST(n_cur AS DOUBLE) / tc) / 2.0)) / 2.0
                       ELSE 0.0 END, 6) AS jsd_contrib
         FROM j, t""") { (s, d) =>
      val docs = Tables.documents(s, d)
      Stats.jsDivergence(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "lang")
    },

    /** §2b per-label embedding moments: mean/variance per dimension — the
      * class-centroid + dead-dimension monitor over the embeddings table. */
    Q("q_vector_moments",
      """WITH x AS (SELECT label, CAST(i - 1 AS BIGINT) AS pos,
                           CAST(embedding[i] AS DOUBLE) AS v
                    FROM embeddings,
                         UNNEST(generate_series(1, len(embedding))) AS t(i))
         SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
                round(avg(v), 6) AS mean,
                CASE WHEN COUNT(*) > 1
                  THEN round(greatest(var_samp(v), 0.0), 6) END AS variance
         FROM x GROUP BY 1, 2""") { (s, d) =>
      Stats.vectorMoments(Tables.embeddings(s, d), "label", "embedding")
    },

    /** §2b quantile treatment effects: click-vs-view per-segment value
      * quantiles at p25/p50/p75/p90 and their differences — WHERE the
      * distributions differ, not just whether (q_mann_whitney) or by how
      * much on average (q_welch_ttest). */
    Q("q_qte",
      """WITH j AS (SELECT c.c_mktsegment AS g, e.event_type AS a,
                           e.value AS v
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey
                    WHERE e.event_type IN ('click', 'view')
                      AND e.value IS NOT NULL),
              s AS (SELECT g, a, CAST(COUNT(*) AS BIGINT) AS n,
                           quantile_cont(v, 0.25) AS q1,
                           quantile_cont(v, 0.5) AS q2,
                           quantile_cont(v, 0.75) AS q3,
                           quantile_cont(v, 0.9) AS q4
                    FROM j GROUP BY 1, 2),
              aa AS (SELECT g, n AS n_a, q1 AS a1, q2 AS a2, q3 AS a3,
                            q4 AS a4
                     FROM s WHERE a = 'click'),
              bb AS (SELECT g, n AS n_b, q1 AS b1, q2 AS b2, q3 AS b3,
                            q4 AS b4
                     FROM s WHERE a = 'view'),
              ab AS (SELECT * FROM aa JOIN bb USING (g)),
              u AS (SELECT g, n_a, n_b, CAST(0.25 AS DOUBLE) AS q,
                           a1 AS qa, b1 AS qb FROM ab
                    UNION ALL
                    SELECT g, n_a, n_b, CAST(0.5 AS DOUBLE), a2, b2 FROM ab
                    UNION ALL
                    SELECT g, n_a, n_b, CAST(0.75 AS DOUBLE), a3, b3 FROM ab
                    UNION ALL
                    SELECT g, n_a, n_b, CAST(0.9 AS DOUBLE), a4, b4 FROM ab)
         SELECT g AS c_mktsegment, n_a, n_b, q,
                round(qa, 6) AS q_a, round(qb, 6) AS q_b,
                round(qa - qb, 6) AS qte
         FROM u""") { (s, d) =>
      val e = Tables.events(s, d)
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      Stats.quantileTreatmentEffect(e, "c_mktsegment", "event_type",
        "value", armA = "click", armB = "view")
    },

    /** §2b Cramér's V: the [0,1] effect size of the lang × source
      * association — the magnitude readout beside q_chisq_indep's
      * per-cell significance decomposition. */
    Q("q_cramers_v",
      """WITH cells AS (SELECT lang, source, COUNT(*) AS n
                        FROM documents
                        WHERE lang IS NOT NULL AND source IS NOT NULL
                        GROUP BY 1, 2),
              rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS ra
                     FROM cells GROUP BY 1),
              ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cb
                     FROM cells GROUP BY 1),
              g AS (SELECT CAST(SUM(n) AS BIGINT) AS gg,
                           CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
                           CAST(COUNT(DISTINCT source) AS BIGINT) AS c
                    FROM cells),
              grid AS (SELECT rt.lang, rt.ra, ct.source, ct.cb,
                              COALESCE(cells.n, 0) AS n
                       FROM rt CROSS JOIN ct
                       LEFT JOIN cells ON cells.lang = rt.lang
                         AND cells.source = ct.source),
              s AS (SELECT gg, r, c,
                      SUM((CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / gg)
                        * (CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / gg)
                        / (CAST(ra AS DOUBLE) * cb / gg)) AS chi2
                    FROM grid CROSS JOIN g
                    GROUP BY 1, 2, 3)
         SELECT r AS n_rows_dim, c AS n_cols_dim, gg AS n,
                round(chi2, 6) AS chi2,
                round(CASE WHEN least(r, c) > 1
                  THEN sqrt(chi2 / (CAST(gg AS DOUBLE)
                    * CAST(least(r, c) - 1 AS DOUBLE))) END, 6)
                  AS cramers_v
         FROM s""") { (s, d) =>
      Stats.cramersV(Tables.documents(s, d), "lang", "source")
    },

    /** §2b pairwise source-distribution JSD matrix: which sources draw
      * from the same language mix — jsDivergence lifted to all unordered
      * source pairs, one-sided bins contributing their finite ½p·ln 2. */
    Q("q_jsd_matrix",
      """WITH counts AS (SELECT source AS g, lang AS b, COUNT(*) AS n
                         FROM documents GROUP BY 1, 2),
              tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS t
                      FROM counts GROUP BY 1),
              shares AS (SELECT counts.g, b,
                                CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
                         FROM counts JOIN tot USING (g)),
              grid AS (SELECT a.g AS g_a, b.g AS g_b
                       FROM (SELECT DISTINCT g FROM shares) a
                       CROSS JOIN (SELECT DISTINCT g FROM shares) b
                       WHERE a.g < b.g),
              ab AS (SELECT grid.g_a, grid.g_b, s.b, s.p AS pa
                     FROM grid JOIN shares s ON s.g = grid.g_a),
              bb AS (SELECT grid.g_a, grid.g_b, s.b, s.p AS pb
                     FROM grid JOIN shares s ON s.g = grid.g_b),
              f AS (SELECT COALESCE(ab.g_a, bb.g_a) AS g_a,
                           COALESCE(ab.g_b, bb.g_b) AS g_b,
                           COALESCE(pa, 0.0) AS pa,
                           COALESCE(pb, 0.0) AS pb
                    FROM ab FULL JOIN bb
                      ON ab.g_a = bb.g_a AND ab.g_b = bb.g_b
                     AND ab.b = bb.b)
         SELECT g_a, g_b,
                round(SUM(
                  (CASE WHEN pa > 0.0
                    THEN pa * ln(pa / ((pa + pb) / 2.0)) / 2.0
                    ELSE 0.0 END)
                  + (CASE WHEN pb > 0.0
                    THEN pb * ln(pb / ((pa + pb) / 2.0)) / 2.0
                    ELSE 0.0 END)), 6) AS jsd
         FROM f GROUP BY 1, 2""") { (s, d) =>
      Stats.jsdMatrix(Tables.documents(s, d), "source", "lang")
    },

    /** §2b user-activity Gini: per segment, inequality of per-user event
      * counts — whale/bot traffic concentration, the generic-weights
      * sibling of q_gini's vocabulary readout (pairs with q_ess: Gini
      * says how unequal, ESS says how many units effectively remain). */
    Q("q_user_gini",
      """WITH pu AS (SELECT c.c_mktsegment AS g, e.user_id AS u,
                            CAST(COUNT(*) AS BIGINT) AS v
                     FROM events e JOIN customer c ON e.user_id = c.c_custkey
                     GROUP BY 1, 2),
              rk AS (SELECT g, u, v,
                            row_number() OVER (PARTITION BY g
                              ORDER BY v ASC, u ASC) AS r
                     FROM pu),
              a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_units,
                           CAST(SUM(v) AS BIGINT) AS total,
                           SUM(CAST(r AS DOUBLE) * v) AS rf
                    FROM rk GROUP BY 1)
         SELECT g AS c_mktsegment, n_units, total,
                round(CASE WHEN total > 0
                  THEN 2.0 * rf / (CAST(n_units AS DOUBLE)
                    * CAST(total AS DOUBLE))
                    - CAST(n_units + 1 AS DOUBLE)
                      / CAST(n_units AS DOUBLE) END, 6) AS gini
         FROM a""") { (s, d) =>
      val perUser = Tables.events(s, d)
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      Stats.giniIndex(perUser, "c_mktsegment", "user_id", "n_events")
    },

    /** §2b Wasserstein-1 drift magnitude between click and purchase value
      * distributions — the mass×distance companion to q_ks_statistic over
      * the SAME per-distinct-value histogram (KS flags the worst gap, W1
      * ranks how much moved how far). */
    Q("q_wasserstein",
      s"""${clickPurchaseEcdfSql("CAST(value AS DOUBLE)",
          s"$cumAbSql, LEAD(v) OVER (ORDER BY v) - v AS gap")}
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(sum(abs(cuma / na - cumb / nb) * gap), 6) AS w1
         FROM c""") { (s, d) =>
      Stats.wasserstein1(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Cliff's delta ordinal effect size for the same two-sample
      * comparison — dominance probability on [−1,1], reported UNROUNDED
      * (one exact-integer division; the rational-halves rule). */
    Q("q_cliffs_delta",
      s"""${clickPurchaseEcdfSql("value", runningSumSql("cb", "cumb"))}
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                (CAST(sum(ca * (cumb - cb)) AS DOUBLE)
                  - CAST(sum(ca * (nb - cumb)) AS DOUBLE))
                  / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))
                  AS cliffs_delta
         FROM c""") { (s, d) =>
      Stats.cliffsDelta(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Kendall τ-b concordance between bucketed document length in
      * chars and in tokens — the tie-heavy rank-correlation companion to
      * q_spearman, computed over the distinct-cell histogram (never an
      * n² pair join). */
    Q("q_kendall_tau",
      s"""WITH d AS (SELECT CAST(floor(n_chars / 100) AS BIGINT) AS x,
                       CAST(floor(len($duckTokens) / 10) AS BIGINT) AS y
                     FROM documents),
              cells AS (SELECT x, y, count(*) AS c FROM d GROUP BY 1, 2),
              pr AS (SELECT
                       sum(CASE WHEN b.y > a.y
                           THEN CAST(a.c AS DOUBLE) * b.c ELSE 0.0 END)
                         AS cc,
                       sum(CASE WHEN b.y < a.y
                           THEN CAST(a.c AS DOUBLE) * b.c ELSE 0.0 END)
                         AS dd
                     FROM cells a JOIN cells b ON b.x > a.x),
              m AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
              mx AS (SELECT sum(CAST(t AS DOUBLE) * t) AS sx2
                     FROM (SELECT sum(c) AS t FROM cells GROUP BY x)),
              my AS (SELECT sum(CAST(t AS DOUBLE) * t) AS sy2
                     FROM (SELECT sum(c) AS t FROM cells GROUP BY y))
         SELECT n, CAST(cc AS BIGINT) AS concordant,
                CAST(dd AS BIGINT) AS discordant,
                round((cc - dd) / sqrt(
                  ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)) / 2.0
                    - (sx2 - CAST(n AS DOUBLE)) / 2.0)
                  * ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)) / 2.0
                    - (sy2 - CAST(n AS DOUBLE)) / 2.0)), 6) AS tau_b
         FROM pr, m, mx, my""") { (s, d) =>
      val docs = Tables.documents(s, d).select(
        floor(col("n_chars") / 100).cast("long").as("len_bucket"),
        floor(size(TextFunctions.tokens(col("text"))) / 10).cast("long")
          .as("tok_bucket"))
      Stats.kendallTauB(docs, "len_bucket", "tok_bucket")
    },

    /** §2b two-sample energy distance between click and purchase value
      * distributions — the squared-L2 (2∫(F−G)²dx) rung completing the
      * p = ∞/1/2 drift profile beside q_ks_statistic and q_wasserstein,
      * on the SAME per-distinct-value histogram shape. */
    Q("q_energy_dist",
      s"""${clickPurchaseEcdfSql("CAST(value AS DOUBLE)",
          s"$cumAbSql, LEAD(v) OVER (ORDER BY v) - v AS gap")}
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(sum(2.0 * (cuma / na - cumb / nb)
                  * (cuma / na - cumb / nb) * gap), 6) AS e_dist
         FROM c""") { (s, d) =>
      Stats.energyDistance(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b Theil T inequality of document length across sources with the
      * exact between/within decomposition — "few sources dominate" vs
      * "each source lopsided", the rebalance-vs-dedup decider Gini can't
      * give. */
    Q("q_theil",
      """WITH p AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS x
                    FROM documents
                    WHERE n_chars IS NOT NULL AND n_chars > 0),
              pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
                       sum(x * ln(x)) AS sxl
                     FROM p GROUP BY 1),
              pg2 AS (SELECT g, n, sx, sx / CAST(n AS DOUBLE) AS mu_g,
                        sxl / sx - ln(sx / CAST(n AS DOUBLE)) AS tg
                      FROM pg),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sx) AS tx
                      FROM pg2),
              sh AS (SELECT g, n, mu_g, tg, sx / tx AS s,
                       tx / CAST(nn AS DOUBLE) AS mu
                     FROM pg2, tot),
              dec AS (SELECT round(sum(s * ln(mu_g / mu)), 6) AS t_between,
                        round(sum(s * tg), 6) AS t_within,
                        round(sum(s * (ln(mu_g / mu) + tg)), 6) AS t_total
                      FROM sh)
         SELECT g AS source, n, mu_g AS mean_val, s AS value_share,
                round(tg, 6) AS t_group, t_between, t_within, t_total
         FROM sh, dec""") { (s, d) =>
      Stats.theilDecomposition(Tables.documents(s, d), "source", "n_chars")
    },

    /** §2b empirical-Bayes beta–binomial shrinkage of per-user purchase
      * rates — MoM Beta prior over unit rates, posterior-mean rates that
      * stop 2-for-2 users outranking 950-for-1000 ones. */
    Q("q_eb_shrinkage",
      """WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_trials,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_success
                     FROM events GROUP BY 1),
              pr AS (SELECT user_id, n_trials, n_success,
                       CAST(n_success AS DOUBLE)
                         / CAST(n_trials AS DOUBLE) AS r
                     FROM pu),
              fit AS (SELECT avg(r) AS mu, var_samp(r) AS v FROM pr),
              ab AS (SELECT
                       CASE WHEN v > 0 AND mu * (1 - mu) / v - 1 > 0
                         THEN mu * (mu * (1 - mu) / v - 1) END AS alpha,
                       CASE WHEN v > 0 AND mu * (1 - mu) / v - 1 > 0
                         THEN (1 - mu) * (mu * (1 - mu) / v - 1) END AS beta
                     FROM fit)
         SELECT user_id, n_trials, n_success, r AS rate_raw,
                round(alpha, 6) AS prior_alpha, round(beta, 6) AS prior_beta,
                round(coalesce((CAST(n_success AS DOUBLE) + alpha)
                    / (CAST(n_trials AS DOUBLE) + alpha + beta), r), 6)
                  AS rate_shrunk
         FROM pr, ab""") { (s, d) =>
      Stats.ebBetaBinomial(Tables.events(s, d), "user_id",
        col("event_type") === "purchase")
    },

    /** §2b GPD peaks-over-threshold tail fit of event values above 150 —
      * MoM ξ/β + the extrapolated p99.9 return level; ξ > 0 flags a
      * heavy tail that "mean + kσ" fences cannot bound. */
    Q("q_gpd_tail",
      """WITH x AS (SELECT CAST(value AS DOUBLE) AS x FROM events
                    WHERE value IS NOT NULL),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                      CAST(count(CASE WHEN x > 150.0 THEN 1 END) AS BIGINT)
                        AS n_exceed,
                      avg(CASE WHEN x > 150.0 THEN x - 150.0 END) AS m,
                      var_samp(CASE WHEN x > 150.0 THEN x - 150.0 END) AS v
                    FROM x),
              b AS (SELECT *, m * m / v AS r FROM a),
              c AS (SELECT *,
                      CASE WHEN v > 0 THEN 0.5 * (1.0 - r) END AS xi,
                      CASE WHEN v > 0 THEN 0.5 * m * (r + 1.0) END AS beta,
                      CAST(n_exceed AS DOUBLE)
                        / CAST(n_total AS DOUBLE) AS zeta
                    FROM b)
         SELECT n_total, n_exceed, round(m, 6) AS mean_excess,
                round(xi, 6) AS xi, round(beta, 6) AS beta,
                round(CASE WHEN xi IS NOT NULL AND abs(xi) > 1e-12
                        AND xi < 0.5 AND zeta > (1.0 - 0.999)
                  THEN 150.0 + beta / xi
                    * (pow((1.0 - 0.999) / zeta, -xi) - 1.0) END, 6)
                  AS q_est
         FROM c""") { (s, d) =>
      Stats.gpdTailFit(Tables.events(s, d), "value", threshold = 150.0)
    },

    /** §2b Wilson score intervals for the per-source share of English
      * documents — the edge-honest binomial CI (a 2-for-2 source prints
      * [0.34, 1.0], not "100%"), the column every rate table should
      * carry. */
    Q("q_wilson",
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_trials,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_success
                    FROM documents GROUP BY 1),
              w AS (SELECT source, n_trials, n_success,
                      CAST(n_trials AS DOUBLE) AS n,
                      CAST(n_success AS DOUBLE)
                        / CAST(n_trials AS DOUBLE) AS p
                    FROM g),
              x AS (SELECT *,
                      1.0 + 1.96 * 1.96 / n AS den,
                      p + 1.96 * 1.96 / (2.0 * n) AS ctr,
                      1.96 * sqrt(p * (1.0 - p) / n
                        + 1.96 * 1.96 / (4.0 * n * n)) AS hw
                    FROM w)
         SELECT source, n_trials, n_success, p AS rate,
                round((ctr - hw) / den, 6) AS ci_low,
                round((ctr + hw) / den, 6) AS ci_high
         FROM x""") { (s, d) =>
      Stats.wilsonInterval(Tables.documents(s, d), "source",
        col("lang") === "en")
    },

    /** §2b conditional-binomial Poisson rate test between the two
      * half-month windows (15-day exposures) — "did the event rate
      * change", base rate conditioned away. */
    Q("q_poisson_rate",
      """WITH a AS (SELECT
                      CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                      CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k2
                    FROM events),
              b AS (SELECT k1, k2, CAST(k1 + k2 AS DOUBLE) AS k,
                      15.0 / (15.0 + 15.0) AS pi
                    FROM a)
         SELECT k1, k2,
                CASE WHEN k2 > 0 THEN (CAST(k1 AS DOUBLE) / 15.0)
                  / (CAST(k2 AS DOUBLE) / 15.0) END AS rate_ratio,
                k * pi AS k1_expected,
                CASE WHEN k > 0 THEN round((CAST(k1 AS DOUBLE) - k * pi)
                  / sqrt(k * pi * (1.0 - pi)), 6) END AS z
         FROM b""") { (s, d) =>
      Stats.poissonRateTest(Tables.events(s, d), "ts",
        splitTs = "2024-01-16 00:00:00", t1 = 15.0, t2 = 15.0)
    },

    /** §2b Cohen's d + Hedges' g for click vs purchase values — the
      * parametric magnitude column beside q_cliffs_delta's ordinal one;
      * report an effect size with every p-value. */
    Q("q_effect_size",
      """WITH x AS (SELECT event_type AS s, CAST(value AS DOUBLE) AS x
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL),
              a AS (SELECT
                      CAST(count(CASE WHEN s = 'click' THEN 1 END)
                        AS BIGINT) AS n_a,
                      CAST(count(CASE WHEN s = 'purchase' THEN 1 END)
                        AS BIGINT) AS n_b,
                      avg(CASE WHEN s = 'click' THEN x END) AS ma,
                      avg(CASE WHEN s = 'purchase' THEN x END) AS mb,
                      var_samp(CASE WHEN s = 'click' THEN x END) AS va,
                      var_samp(CASE WHEN s = 'purchase' THEN x END) AS vb
                    FROM x),
              b AS (SELECT *, sqrt((CAST(n_a - 1 AS DOUBLE) * va
                        + CAST(n_b - 1 AS DOUBLE) * vb)
                      / CAST(n_a + n_b - 2 AS DOUBLE)) AS sp
                    FROM a),
              c AS (SELECT *, CASE WHEN sp > 0
                      THEN (ma - mb) / sp END AS d
                    FROM b)
         SELECT n_a, n_b, round(ma - mb, 6) AS mean_diff,
                round(sp, 6) AS sd_pooled, round(d, 6) AS cohens_d,
                round(d * (1.0 - 3.0
                  / (4.0 * CAST(n_a + n_b AS DOUBLE) - 9.0)), 6)
                  AS hedges_g
         FROM c""") { (s, d) =>
      Stats.effectSize(Tables.events(s, d), "event_type", "value",
        sideA = "click", sideB = "purchase")
    },

    /** §2b ordinal association: Goodman–Kruskal γ and Somers' D between
      * weekday index and spend bucket — does later-in-week skew to
      * bigger carts, with D_y|x charging y-ties against the weekday
      * predictor. Exact pair masses from the bounded cell grid
      * ([[Stats.gammaSomers]]); the calendar-anchored `datediff % 7`
      * weekday is the engine-neutral ordinal (the q_chi_square anchor). */
    Q("q_gk_gamma",
      // Exact integer pair masses over the bounded cell grid — the
      // kendallTauB oracle pattern with gamma/Somers' closing divisions.
      """WITH base AS (SELECT CAST(datediff('day', DATE '2024-01-01',
                         CAST(ts AS DATE)) % 7 AS BIGINT) AS x,
                       CAST(floor(value / 50.0) AS BIGINT) AS y
                       FROM events
                       WHERE ts IS NOT NULL AND value IS NOT NULL),
              cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
                        FROM base GROUP BY 1, 2),
              pairs AS (SELECT
                  COALESCE(SUM(CASE WHEN b.y > a.y
                    THEN CAST(a.c AS DOUBLE) * b.c ELSE 0.0 END), 0.0) AS cc,
                  COALESCE(SUM(CASE WHEN b.y < a.y
                    THEN CAST(a.c AS DOUBLE) * b.c ELSE 0.0 END), 0.0) AS dd
                FROM cells a JOIN cells b ON b.x > a.x),
              marg AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
              tx AS (SELECT SUM(CAST(t AS DOUBLE) * t) AS sx2
                     FROM (SELECT SUM(c) AS t FROM cells GROUP BY x))
         SELECT n, CAST(cc AS BIGINT) AS concordant,
                CAST(dd AS BIGINT) AS discordant,
                round(CASE WHEN cc + dd > 0
                  THEN (cc - dd) / (cc + dd) END, 6) AS gamma,
                round(CASE WHEN n > 1
                    AND (CAST(n AS DOUBLE) * n - sx2) > 0
                  THEN (cc - dd)
                       / ((CAST(n AS DOUBLE) * n - sx2) / 2.0) END, 6)
                  AS somers_d_yx
         FROM pairs, marg, tx""") { (s, d) =>
      Stats.gammaSomers(
        Tables.events(s, d).select(
          (datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) % 7)
            .cast("long").as("dow_ix"),
          floor(col("value") / 50.0).cast("long").as("spend_bucket")),
        "dow_ix", "spend_bucket")
    },

    /** §2b weighted median: the quantity-weighted center of line-item
      * price — "the median sold UNIT sits at this price", not the median
      * line item ([[Stats.weightedMedian]]; exact integer cumulative
      * weights, both half-mass conventions emitted). */
    Q("q_weighted_median",
      // Exact integer cumulative weights; both half-mass conventions.
      """WITH grid AS (SELECT round(CAST(l_extendedprice AS DOUBLE), 6) AS v,
                       CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE))
                         AS BIGINT)) AS BIGINT) AS w
                       FROM lineitem
                       WHERE l_extendedprice IS NOT NULL
                         AND l_quantity IS NOT NULL
                         AND CAST(floor(CAST(l_quantity AS DOUBLE))
                           AS BIGINT) > 0
                       GROUP BY 1),
              tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                             CAST(COUNT(*) AS BIGINT) AS n_values
                      FROM grid),
              cum AS (SELECT v, CAST(SUM(w) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c
                      FROM grid)
         SELECT tw AS total_weight, n_values,
                (SELECT min(v) FROM cum, tot WHERE c * 2 >= tw) AS wm_lower,
                (SELECT min(v) FROM cum, tot WHERE c * 2 > tw) AS wm_upper
         FROM tot""") { (s, d) =>
      Stats.weightedMedian(Tables.lineitem(s, d), "l_extendedprice",
        "l_quantity")
    },

    /** §2b partial correlation: quantity–price association controlling
      * for discount ([[Stats.partialCorr]]) — the continuous confounder
      * screen beside q_simpsons' categorical flag. */
    Q("q_partial_corr",
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      corr(l_quantity, l_extendedprice) AS rxy,
                      corr(l_quantity, l_discount) AS rxz,
                      corr(l_extendedprice, l_discount) AS ryz
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL
                      AND l_extendedprice IS NOT NULL
                      AND l_discount IS NOT NULL)
         SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
                round(ryz, 6) AS r_yz,
                round(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                  THEN (rxy - rxz * ryz)
                       / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                  END, 6) AS r_xy_given_z
         FROM m""") { (s, d) =>
      Stats.partialCorr(Tables.lineitem(s, d), "l_quantity",
        "l_extendedprice", "l_discount")
    },

    /** §2b Hodges–Lehmann shift of quantity, returned vs accepted lines
      * ([[Stats.hodgesLehmannShift]]) — "how BIG is the shift q_mann_whitney
      * tests for", as the median of all n_a·n_b pairwise differences
      * generated on the V_a×V_b distinct-value grid (never row²). */
    Q("q_hodges_lehmann",
      // V_a x V_b distinct-value difference grid with multiplicity
      // c_a*c_b; weighted median in the wm_lower/upper (cum*2 >=/> W)
      // convention of q_weighted_median.
      """WITH a AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
                           CAST(count(*) AS BIGINT) AS c
                    FROM lineitem
                    WHERE l_returnflag = 'R' AND l_quantity IS NOT NULL
                    GROUP BY 1),
              b AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
                           CAST(count(*) AS BIGINT) AS c
                    FROM lineitem
                    WHERE l_returnflag = 'A' AND l_quantity IS NOT NULL
                    GROUP BY 1),
              d AS (SELECT round(a.v - b.v, 6) AS d,
                           CAST(SUM(a.c * b.c) AS BIGINT) AS w
                    FROM a CROSS JOIN b GROUP BY 1),
              cum AS (SELECT d, w,
                             sum(w) OVER (ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cw,
                             sum(w) OVER () AS tw
                      FROM d)
         SELECT COALESCE(CAST(max(tw) AS BIGINT), 0) AS n_pairs,
                CAST(count(*) AS BIGINT) AS n_diffs,
                min(CASE WHEN cw * 2 >= tw THEN d END) AS hl_lower,
                min(CASE WHEN cw * 2 > tw THEN d END) AS hl_upper,
                round((min(CASE WHEN cw * 2 >= tw THEN d END)
                       + min(CASE WHEN cw * 2 > tw THEN d END)) / 2.0, 6)
                  AS hl_shift
         FROM cum""") { (s, d) =>
      Stats.hodgesLehmannShift(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", classA = "R", classB = "A")
    },

    /** §2b Chatterjee's ξ of extendedprice against quantity per return
      * flag ([[Stats.chatterjeeXi]]) — detects ANY functional dependence,
      * not just the monotone kind q_spearman sees; the y-run telescoping
      * form over the distinct-(x,y) cell grid (no per-row rank sort). */
    Q("q_chatterjee",
      // y-CDF + per-x-run telescoping: sum|dr| needs only cum(y) at each
      // run's min/max y; denominator mass cy*l*(n-l) in exact HUGEINT.
      """WITH base AS (SELECT l_returnflag AS g,
                              CAST(l_quantity AS DOUBLE) AS x,
                              CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem
                       WHERE l_quantity IS NOT NULL
                         AND l_extendedprice IS NOT NULL),
              yg AS (SELECT g, y, CAST(count(*) AS BIGINT) AS cy
                     FROM base GROUP BY 1, 2),
              ycdf AS (SELECT g, y, cy,
                              sum(cy) OVER (PARTITION BY g ORDER BY y
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
                              sum(cy) OVER (PARTITION BY g) AS n
                       FROM yg),
              den AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                             SUM(CAST(cy AS HUGEINT)
                               * (n - cum + cy)
                               * (n - (n - cum + cy))) AS den
                      FROM ycdf GROUP BY 1),
              runs AS (SELECT c.g, c.x,
                              CAST(min(yc.cum) AS BIGINT) AS lo,
                              CAST(max(yc.cum) AS BIGINT) AS hi
                       FROM (SELECT DISTINCT g, x, y FROM base) c
                       JOIN ycdf yc ON yc.g = c.g AND yc.y = c.y
                       GROUP BY 1, 2),
              sweep AS (SELECT g, hi - lo
                               + COALESCE(abs(lo - lag(hi) OVER
                                   (PARTITION BY g ORDER BY x)), 0) AS dr
                        FROM runs),
              s AS (SELECT g, CAST(SUM(dr) AS BIGINT) AS s
                    FROM sweep GROUP BY 1)
         SELECT den.g AS l_returnflag, den.n AS n, s.s AS sum_abs_dr,
                round(CASE WHEN den.den > 0 THEN
                  1.0 - CAST(den.n AS DOUBLE) * CAST(s.s AS DOUBLE)
                    / (2.0 * CAST(den.den AS DOUBLE)) END, 6) AS xi
         FROM den JOIN s ON s.g = den.g""") { (s, d) =>
      Stats.chatterjeeXi(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", "l_extendedprice")
    },

    /** §2b covariate-balance SMD table: purchase-users vs the rest on
      * activity covariates ([[Stats.smdBalance]]) — the |SMD| < 0.1
      * pre-flight in front of q_strat_ate. */
    Q("q_smd_balance",
      // User-unit frame (treated = has purchase), exact cent-quantized
      // per-arm moments per covariate, SMD mirrored term for term.
      """WITH u AS (SELECT user_id,
                      sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) * 5 > count(*) AS treated,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(SUM(CAST(CAST(value AS DECIMAL(20,2)) * 100
                        AS HUGEINT)) AS DOUBLE) / 100.0 AS total_value,
                      CAST(date_diff('day', date_trunc('day', min(ts)),
                        date_trunc('day', max(ts))) AS BIGINT)
                        AS span_days
                    FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL
                    GROUP BY 1),
              mom AS (
                SELECT 'n_events' AS covariate,
                  CAST(sum(CASE WHEN treated AND n_events IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(n_events AS DECIMAL(20,2)) * 100 AS HUGEINT)
                    END) AS st,
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(n_events AS DECIMAL(20,2)) * 100 AS HUGEINT)
                    * CAST(CAST(n_events AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END) AS sst,
                  CAST(sum(CASE WHEN NOT treated AND n_events IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(n_events AS DECIMAL(20,2)) * 100 AS HUGEINT)
                    END) AS sc,
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(n_events AS DECIMAL(20,2)) * 100 AS HUGEINT)
                    * CAST(CAST(n_events AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END) AS ssc
                FROM u
                UNION ALL
                SELECT 'total_value',
                  CAST(sum(CASE WHEN treated AND total_value IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT),
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT)
                    * CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  CAST(sum(CASE WHEN NOT treated
                    AND total_value IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT)
                    * CAST(CAST(total_value AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END)
                FROM u
                UNION ALL
                SELECT 'span_days',
                  CAST(sum(CASE WHEN treated AND span_days IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT),
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  SUM(CASE WHEN treated THEN
                    CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT)
                    * CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  CAST(sum(CASE WHEN NOT treated AND span_days IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT),
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END),
                  SUM(CASE WHEN NOT treated THEN
                    CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT)
                    * CAST(CAST(span_days AS DECIMAL(20,2)) * 100
                      AS HUGEINT) END)
                FROM u),
              alg AS (SELECT covariate, nt AS n_treat, nc AS n_ctrl,
                        CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) / 100.0
                          AS mt,
                        CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) / 100.0
                          AS mc,
                        CAST(nt * sst - st * st AS DOUBLE)
                          / CAST(nt * (nt - 1) AS DOUBLE) / 10000.0 AS vt,
                        CAST(nc * ssc - sc * sc AS DOUBLE)
                          / CAST(nc * (nc - 1) AS DOUBLE) / 10000.0 AS vc
                      FROM mom)
         SELECT covariate, n_treat, n_ctrl,
                round(mt, 6) AS mean_treat, round(mc, 6) AS mean_ctrl,
                round(CASE WHEN n_treat > 1 AND n_ctrl > 1
                    AND (vt + vc) / 2.0 > 0 THEN
                  (mt - mc) / sqrt((vt + vc) / 2.0) END, 6) AS smd
         FROM alg""") { (s, d) =>
      Stats.smdBalance(userUnits(s, d), "treated",
        Seq("n_events", "total_value", "span_days"))
    },

    /** §2b stratified ATE of purchasing on view-spend, sub-classified by
      * activity quartile ([[Stats.stratifiedAte]]): strata assigned from
      * the distinct-count grid (integer cum·4/N arithmetic — no
      * unit-frame sort), overall effect = stratum-weighted mean over
      * two-arm strata. */
    Q("q_strat_ate",
      // Grid-assigned activity quartiles (integer cum*4/N), per-stratum
      // exact cent outcome means, overall ATE = ordered-prefix weighted
      // fold read at the last stratum.
      """WITH u AS (SELECT user_id,
                      sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) * 5 > count(*) AS treated,
                      CAST(count(*) AS BIGINT) AS n_events,
                      CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN
                        CAST(CAST(value AS DECIMAL(20,2)) * 100
                          AS HUGEINT) END), 0) AS DOUBLE) / 100.0
                        AS view_value
                    FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL
                    GROUP BY 1),
              g2 AS (SELECT n_events AS v, CAST(count(*) AS BIGINT) AS c
                     FROM u GROUP BY 1),
              st AS (SELECT v, least(4, CAST(floor(
                       CAST(prev * 4 AS DOUBLE) / CAST(n AS DOUBLE))
                       AS BIGINT) + 1) AS stratum
                     FROM (SELECT v, c,
                             COALESCE(sum(c) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS prev,
                             sum(c) OVER () AS n
                           FROM g2)),
              sg AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
                       CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_treat,
                       CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END)
                         AS BIGINT) AS n_ctrl,
                       SUM(CASE WHEN treated THEN vq END) AS yt,
                       SUM(CASE WHEN NOT treated THEN vq END) AS yc
                     FROM (SELECT u.treated, st.stratum,
                             CAST(CAST(u.view_value AS DECIMAL(20,2))
                               * 100 AS HUGEINT) AS vq
                           FROM u JOIN st ON u.n_events = st.v
                           WHERE u.view_value IS NOT NULL)
                     GROUP BY 1
                     HAVING sum(CASE WHEN treated THEN 1 ELSE 0 END) > 0
                        AND sum(CASE WHEN treated THEN 0 ELSE 1 END) > 0),
              f AS (SELECT stratum, n_s, n_treat, n_ctrl,
                      CAST(yt AS DOUBLE) / CAST(n_treat AS DOUBLE)
                        / 100.0 AS mt,
                      CAST(yc AS DOUBLE) / CAST(n_ctrl AS DOUBLE)
                        / 100.0 AS mc,
                      sum(n_s) OVER () AS nu
                    FROM sg),
              f2 AS (SELECT *, sum((CAST(n_s AS DOUBLE)
                       / CAST(nu AS DOUBLE)) * (mt - mc))
                       OVER (ORDER BY stratum
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
                     FROM f),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
                        CAST(max(nu) AS BIGINT) AS n_used,
                        round((SELECT cum FROM f2
                               ORDER BY stratum DESC LIMIT 1), 6) AS ate
                      FROM f2)
         SELECT stratum, n_s, n_treat, n_ctrl,
                round(mt, 6) AS mean_treat, round(mc, 6) AS mean_ctrl,
                round(mt - mc, 6) AS diff, k_strata, n_used, ate
         FROM f2, tot""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val units = userUnits(s, d)
      val grid = units.groupBy(col("n_events").as("__v"))
        .agg(count(lit(1)).as("__c"))
      val wCum = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val strata = grid
        .withColumn("__prev", coalesce(sum(col("__c")).over(wCum), lit(0L)))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .select(col("__v"),
          least(lit(4L), floor((col("__prev") * 4).cast("double")
            / col("__n").cast("double")).cast("long") + 1).as("stratum"))
      Stats.stratifiedAte(
        units.join(strata.hint("broadcast"),
          units("n_events") === strata("__v")),
        "treated", "view_value", "stratum")
    },

    /** §2b Cohen's h: arcsine effect size of the en-share gap, src0 vs
      * the rest ([[Stats.cohensH]]) — the power-analysis currency for
      * "is this rate shift big". */
    Q("q_cohens_h",
      // Exact integer counts into two single-rounding asin calls.
      """WITH a AS (SELECT
                  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN source = 'src0' AND lang = 'en'
                    THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                  CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN source <> 'src0' AND lang = 'en'
                    THEN 1 ELSE 0 END) AS BIGINT) AS k2
                FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL)
         SELECT n1, n2,
                round(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
                round(CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
                round(CASE WHEN n1 > 0 AND n2 > 0 THEN
                  2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                    - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE)
                      / CAST(n2 AS DOUBLE))) END, 6) AS cohens_h
         FROM a""") { (s, d) =>
      Stats.cohensH(
        Tables.documents(s, d).select((col("source") === "src0").as("in_src0"),
          (col("lang") === "en").as("is_en")),
        "in_src0", "is_en")
    },

    /** §2b sharp regression-discontinuity jump at quantity 25.5 (±20):
      * local linear price fits each side of the cutoff
      * ([[Stats.regressionDiscontinuity]]) — the threshold-causal readout;
      * exact cent-unit moments. */
    Q("q_rdd",
      // Exact cent-unit moments per side; closing algebra mirrors
      // regressionDiscontinuity term for term.
      """WITH base AS (SELECT (CAST(l_quantity AS DOUBLE) >= 25.5) AS r,
                         CAST(round(CAST(l_quantity AS DOUBLE) * 100.0)
                           - 2550 AS BIGINT) AS x,
                         CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0)
                           AS BIGINT) AS y
                       FROM lineitem
                       WHERE l_quantity IS NOT NULL
                         AND l_extendedprice IS NOT NULL
                         AND abs(CAST(l_quantity AS DOUBLE) - 25.5) <= 20.0),
              m AS (SELECT
                      CAST(SUM(CASE WHEN NOT r THEN 1 ELSE 0 END)
                        AS BIGINT) AS nl,
                      SUM(CASE WHEN NOT r THEN CAST(x AS HUGEINT)
                        ELSE 0 END) AS sxl,
                      SUM(CASE WHEN NOT r THEN CAST(y AS HUGEINT)
                        ELSE 0 END) AS syl,
                      SUM(CASE WHEN NOT r THEN CAST(x AS HUGEINT) * y
                        ELSE 0 END) AS sxyl,
                      SUM(CASE WHEN NOT r THEN CAST(x AS HUGEINT) * x
                        ELSE 0 END) AS sxxl,
                      CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END)
                        AS BIGINT) AS nr,
                      SUM(CASE WHEN r THEN CAST(x AS HUGEINT)
                        ELSE 0 END) AS sxr,
                      SUM(CASE WHEN r THEN CAST(y AS HUGEINT)
                        ELSE 0 END) AS syr,
                      SUM(CASE WHEN r THEN CAST(x AS HUGEINT) * y
                        ELSE 0 END) AS sxyr,
                      SUM(CASE WHEN r THEN CAST(x AS HUGEINT) * x
                        ELSE 0 END) AS sxxr
                    FROM base),
              f AS (SELECT nl, nr,
                      CASE WHEN nl > 1 AND (nl * sxxl - sxl * sxl) > 0
                        THEN CAST(nl * sxyl - sxl * syl AS DOUBLE)
                             / CAST(nl * sxxl - sxl * sxl AS DOUBLE)
                        END AS sll,
                      CASE WHEN nr > 1 AND (nr * sxxr - sxr * sxr) > 0
                        THEN CAST(nr * sxyr - sxr * syr AS DOUBLE)
                             / CAST(nr * sxxr - sxr * sxr AS DOUBLE)
                        END AS slr,
                      sxl, syl, sxr, syr
                    FROM m),
              g AS (SELECT nl, nr, sll, slr,
                      CASE WHEN sll IS NOT NULL THEN
                        (CAST(syl AS DOUBLE) - sll * CAST(sxl AS DOUBLE))
                          / CAST(nl AS DOUBLE) / 100.0 END AS il,
                      CASE WHEN slr IS NOT NULL THEN
                        (CAST(syr AS DOUBLE) - slr * CAST(sxr AS DOUBLE))
                          / CAST(nr AS DOUBLE) / 100.0 END AS ir
                    FROM f)
         SELECT nl AS n_left, nr AS n_right,
                round(sll, 6) AS slope_left, round(slr, 6) AS slope_right,
                round(il, 6) AS intercept_left,
                round(ir, 6) AS intercept_right,
                round(ir - il, 6) AS rd_jump
         FROM g""") { (s, d) =>
      Stats.regressionDiscontinuity(Tables.lineitem(s, d), "l_quantity",
        "l_extendedprice", cutoff = 25.5, bandwidth = 20.0)
    },

    /** §2b Hellinger drift distance: src0's language mix vs the rest of
      * the corpus ([[Stats.hellinger]]) — the bounded [0,1] metric beside
      * q_psi's unbounded log form; no zero-bin smoothing needed. */
    Q("q_hellinger",
      """WITH r AS (SELECT lang, CAST(count(*) AS BIGINT) AS nr
                    FROM documents WHERE source = 'src0' GROUP BY 1),
              c AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc
                    FROM documents WHERE source <> 'src0' GROUP BY 1),
              bins AS (SELECT COALESCE(nr, 0) AS nr, COALESCE(nc, 0) AS nc
                       FROM r FULL JOIN c USING (lang)),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
                           CAST(COALESCE(SUM(nr), 0) AS BIGINT) AS tr,
                           CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS tc,
                           SUM(sqrt(CAST(nr AS DOUBLE) * nc)) AS sq
                    FROM bins)
         SELECT n_bins, tr AS n_ref, tc AS n_cur,
                round(CASE WHEN tr > 0 AND tc > 0
                  THEN sq / sqrt(CAST(tr AS DOUBLE) * tc) END, 6) AS bc_coef,
                round(CASE WHEN tr > 0 AND tc > 0
                  THEN sqrt(greatest(0.0, 1.0
                    - sq / sqrt(CAST(tr AS DOUBLE) * tc))) END, 6)
                  AS hellinger
         FROM a""") { (s, d) =>
      val docs = Tables.documents(s, d)
      Stats.hellinger(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "lang")
    },
  )
}
