package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rater agreement, classifier evaluation and cluster-agreement
  * queries. */
object AgreementQueries {
  import Shared._

  /** Shared scored frame for the two threshold-metric evals (q_auc,
    * q_pr_auc): the stopword-ratio "englishness" score vs the declared
    * lang='en' label — ONE definition so the two metrics can never drift
    * onto different scores. */
  private def enScored(s: SparkSession, d: String): DataFrame = {
    val n = size(TextFunctions.tokens(col("text"))).cast("double")
    Tables.documents(s, d).select(
      when(n > 0, TextFunctions.stopwordCount(col("text")).cast("double") / n)
        .otherwise(0.0).as("en_score"),
      (col("lang") === "en").as("is_en"))
  }

  /** Each user's first 5 events as 5 "ratings" of the user by the
    * event-type "category" — the balanced-design frame the m-rater
    * agreement statistics share. */
  private def ratingsFirst5(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 5)
  }

  /** `base` (6dp stopword share `s`, is-en label `y`) and `per` (positive
    * `cp` and negative `cn` counts per distinct s): the oracle twin of
    * [[enScored]], collapsed per score. */
  private val enScoredPerSql: String =
    s"""WITH base AS (SELECT round(CASE WHEN n > 0 THEN ns / n ELSE 0.0 END,
                          6) AS s,
                        (lang = 'en') AS y
                 FROM (SELECT lang, $stopwordCountsSql
                       FROM documents
                       WHERE lang IS NOT NULL)),
              per AS (SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END) AS cp,
                             sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS cn
                      FROM base GROUP BY s),"""

  /** `r`: [[enScoredPerSql]]'s `per` with the row count `below` each s. */
  private val belowSql: String =
    """r AS (SELECT s, cp, cn,
                 coalesce(sum(cp + cn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS below
          FROM per)"""

  /** `li`: declared lang vs the stopword guess per document with a lang —
    * the oracle twin of [[TextQueries.langId]] minus null langs. */
  private val langGuessSql: String =
    s"""WITH li AS (SELECT lang AS declared_lang,
                        $stopwordGuessSql AS lang_guess
                      FROM (SELECT lang, $stopwordCountsSql
                            FROM documents
                            WHERE lang IS NOT NULL)),"""

  /** `scored` and `clamped(s, y)`: the quality score vs is-en per document
    * with a lang — the oracle twin of [[qualityScored]]. */
  private val qualityClampedSql: String =
    s"""WITH scored AS (SELECT $qualityBlendSql AS q,
               (lang = 'en') AS y
             FROM (SELECT lang, $qualityInputsSql
                   FROM documents
                   WHERE lang IS NOT NULL)),
              clamped AS (SELECT greatest(least(q, 1.0), 0.0) AS s, y
                          FROM scored)"""

  /** The 6dp quality score vs the lang='en' label: the calibration input. */
  private def qualityScored(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      round(TextFunctions.qualityScore(col("text")), 6).as("quality"),
      (col("lang") === "en").as("is_en"))

  /** `ev` … `sc` and the leading output columns through `p_bar`: each
    * user's first 5 event types as 5 ratings, the items rated exactly 5
    * times, and their agreement sums — the shared prefix of the Fleiss
    * kappa and Gwet AC1 oracles (the oracle twin of [[ratingsFirst5]]). */
  private val ratingsFirst5Sql: String =
    """WITH ev AS (SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                     FROM events
                     WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              r AS (SELECT user_id AS i, event_type AS j
                    FROM ev WHERE rn <= 5),
              cells AS (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
                        FROM r GROUP BY 1, 2),
              pi AS (SELECT i, CAST(sum(nij) AS BIGINT) AS m,
                       CAST(sum(nij * nij) AS BIGINT) AS s2i
                     FROM cells GROUP BY 1),
              ok AS (SELECT * FROM pi WHERE m = 5),
              s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                       CAST(sum(s2i) AS BIGINT) AS s2v
                     FROM ok),
              cj AS (SELECT c.j, CAST(sum(c.nij) AS BIGINT) AS cjv
                     FROM cells c JOIN ok ON c.i = ok.i GROUP BY 1),
              sc AS (SELECT CAST(count(*) AS BIGINT) AS k_categories,
                       CAST(sum(cjv * cjv) AS BIGINT) AS sc2
                     FROM cj)
         SELECT n_items, CAST(5 AS BIGINT) AS n_raters, k_categories,
                CAST(s2v - n_items * 5 AS DOUBLE)
                  / CAST((n_items * 5) * 4 AS DOUBLE) AS p_bar,"""

  /** Gini gain `g` of splitting at `v`: root impurity of (n, pp) minus the
    * size-weighted impurities of the left (tl, pl) and right sides —
    * correctly-rounded ops only, so the arg-max is bit-portable. */
  private val giniGainSql: String =
    """(1.0 - (CAST(pp AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(pp AS DOUBLE) / CAST(n AS DOUBLE))
            - (CAST(n - pp AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(n - pp AS DOUBLE) / CAST(n AS DOUBLE)))
       - (CAST(tl AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0
            - (CAST(pl AS DOUBLE) / CAST(tl AS DOUBLE))
            * (CAST(pl AS DOUBLE) / CAST(tl AS DOUBLE))
            - (CAST(tl - pl AS DOUBLE)
               / CAST(tl AS DOUBLE))
            * (CAST(tl - pl AS DOUBLE)
               / CAST(tl AS DOUBLE)))
       - (CAST(n - tl AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0
            - (CAST(pp - pl AS DOUBLE)
               / CAST(n - tl AS DOUBLE))
            * (CAST(pp - pl AS DOUBLE)
               / CAST(n - tl AS DOUBLE))
            - (CAST((n - tl) - (pp - pl) AS DOUBLE)
               / CAST(n - tl AS DOUBLE))
            * (CAST((n - tl) - (pp - pl) AS DOUBLE)
               / CAST(n - tl AS DOUBLE))) AS g"""

  val all: Seq[Q] = Seq(
    /** §2b ROC-AUC eval: the stopword-ratio "englishness" score ranked
      * against the declared lang='en' label — Mann–Whitney midrank AUC as
      * per-distinct-score aggregates + one bounded cumulative window; the
      * threshold-free quality-filter readout. */
    Q("q_auc",
      s"""$enScoredPerSql $belowSql
         SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                CAST(sum(cn) AS BIGINT) AS n_neg,
                round(CASE WHEN sum(cp) > 0 AND sum(cn) > 0 THEN
                  (sum((CAST(below AS DOUBLE)
                        + CAST(cp + cn + 1 AS DOUBLE) / 2.0) * cp)
                    - CAST(sum(cp) AS DOUBLE)
                      * CAST(sum(cp) + 1 AS DOUBLE) / 2.0)
                  / (CAST(sum(cp) AS DOUBLE) * CAST(sum(cn) AS DOUBLE))
                  END, 6) AS auc
         FROM r""") { (s, d) =>
      Stats.rocAuc(enScored(s, d), "en_score", "is_en")
    },

    /** §2b calibration eval: reliability bins of the quality-score blend
      * against lang='en' — does a score of 0.8 actually mean 80%? One hash
      * aggregate on the bin id, the readout any downstream threshold
      * consumes. */
    Q("q_calibration",
      s"""$qualityClampedSql
         SELECT CAST(least(CAST(floor(s * 10) AS BIGINT), 9) AS BIGINT)
                  AS bin,
                CAST(count(*) AS BIGINT) AS n,
                round(avg(s), 6) AS mean_score,
                round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6) AS pos_rate,
                round(round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6)
                  - round(avg(s), 6), 6) AS gap
         FROM clamped GROUP BY 1""") { (s, d) =>
      Stats.calibrationBins(qualityScored(s, d), "quality", "is_en")
    },

    /** §2b Cohen's kappa: chance-corrected agreement between the stopword
      * lang-ID guess and the declared label — the one-number upgrade over
      * raw accuracy when classes are imbalanced (guessing the majority
      * class scores high p_o but κ≈0). */
    Q("q_kappa",
      s"""$langGuessSql
              t AS (SELECT count(*) AS n,
                           sum(CASE WHEN declared_lang = lang_guess
                               THEN 1 ELSE 0 END) AS n_agree
                    FROM li),
              ma AS (SELECT declared_lang AS l, count(*) AS ca
                     FROM li GROUP BY 1),
              mb AS (SELECT lang_guess AS l, count(*) AS cb
                     FROM li GROUP BY 1),
              pe AS (SELECT coalesce(sum(CAST(ca AS DOUBLE) * cb), 0.0)
                       AS pe_num
                     FROM ma JOIN mb USING (l))
         SELECT CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
                round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6)
                  AS p_observed,
                round(pe_num
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
                round(CASE WHEN pe_num
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
                  (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
                    - pe_num
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / (1.0 - pe_num
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 6)
                  AS kappa
         FROM t, pe""") { (s, d) =>
      Stats.cohenKappa(TextQueries.langId.build(s, d), "declared_lang", "lang_guess")
    },

    /** §2b PR-AUC (average precision): the rare-positive companion to
      * q_auc over the SAME [[enScored]] frame — per-distinct-score
      * collapse, one descending cumulative window, one reduce. */
    Q("q_pr_auc",
      s"""$enScoredPerSql
              c AS (SELECT s, cp, cn,
                           sum(cp) OVER (ORDER BY s DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS tp,
                           sum(cp + cn) OVER (ORDER BY s DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS al
                    FROM per)
         SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
                CAST(sum(cn) AS BIGINT) AS n_neg,
                round(CASE WHEN sum(cp) > 0 THEN
                  sum(CAST(cp AS DOUBLE)
                      * (CAST(tp AS DOUBLE) / CAST(al AS DOUBLE)))
                    / CAST(sum(cp) AS DOUBLE) END, 6) AS average_precision
         FROM c""") { (s, d) =>
      Stats.averagePrecision(enScored(s, d), "en_score", "is_en")
    },

    /** §2b Mann–Whitney U: significance + rank-biserial effect size for
      * the stopword-score separation of English vs non-English docs — the
      * z-test companion to q_auc on the same collapse. */
    Q("q_mann_whitney",
      s"""$enScoredPerSql $belowSql,
              agg AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                             CAST(sum(cn) AS BIGINT) AS nneg,
                             sum((CAST(below AS DOUBLE)
                               + CAST(cp + cn + 1 AS DOUBLE) / 2.0) * cp)
                               AS rp,
                             CAST(sum((cp + cn) * (cp + cn) * (cp + cn)
                               - (cp + cn)) AS BIGINT) AS t3
                      FROM r),
              fin AS (SELECT np, nneg, t3,
                        rp - CAST(np AS DOUBLE)
                          * (CAST(np AS DOUBLE) + 1.0) / 2.0 AS u,
                        CAST(np AS DOUBLE) * CAST(nneg AS DOUBLE) / 12.0
                          * (((CAST(np AS DOUBLE) + CAST(nneg AS DOUBLE))
                              + 1.0)
                            - CAST(t3 AS DOUBLE)
                              / ((CAST(np AS DOUBLE) + CAST(nneg AS DOUBLE))
                                * ((CAST(np AS DOUBLE)
                                   + CAST(nneg AS DOUBLE)) - 1.0)))
                          AS sigma2
                      FROM agg)
         SELECT np AS n_pos, nneg AS n_neg,
                round(u, 6) AS u_stat,
                round(CASE WHEN np > 0 AND nneg > 0
                  THEN 2.0 * (u / (CAST(np AS DOUBLE)
                    * CAST(nneg AS DOUBLE))) - 1.0 END, 6)
                  AS rank_biserial,
                round(CASE WHEN np > 0 AND nneg > 0 AND sigma2 > 0
                  THEN (u - CAST(np AS DOUBLE) * CAST(nneg AS DOUBLE) / 2.0)
                     / sqrt(sigma2) END, 6) AS z_stat
         FROM fin""") { (s, d) =>
      Stats.mannWhitney(enScored(s, d), "en_score", "is_en")
    },

    /** §2b cumulative gains / lift curve: deciles of the stopword
      * en-score vs share of English docs captured — "review the top k%,
      * catch what fraction" — the operating-point companion to q_auc on
      * the same collapse. */
    Q("q_gain_curve",
      s"""$enScoredPerSql
              tot AS (SELECT CAST(sum(cp + cn) AS BIGINT) AS nn,
                             CAST(sum(cp) AS BIGINT) AS pp
                      FROM per),
              cum AS (SELECT s,
                             CAST(sum(cp + cn) OVER (ORDER BY s DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cumN,
                             CAST(sum(cp) OVER (ORDER BY s DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cumP
                      FROM per),
              bk AS (SELECT CAST(ceil(CAST(cumN AS DOUBLE) * 10
                               / CAST(nn AS DOUBLE)) AS INTEGER) AS bucket,
                            CAST(max(cumN) AS BIGINT) AS bN,
                            CAST(max(cumP) AS BIGINT) AS bP,
                            CAST(max(nn) AS BIGINT) AS nn,
                            CAST(max(pp) AS BIGINT) AS pp
                     FROM cum CROSS JOIN tot
                     GROUP BY 1)
         SELECT bucket, bN AS cum_rows, bP AS cum_positives,
                round(CAST(bN AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                  AS population_share,
                round(CASE WHEN pp > 0
                  THEN CAST(bP AS DOUBLE) / CAST(pp AS DOUBLE) END, 6)
                  AS capture_share,
                round(CASE WHEN pp > 0 AND bN > 0
                  THEN (CAST(bP AS DOUBLE) / CAST(pp AS DOUBLE))
                     / (CAST(bN AS DOUBLE) / CAST(nn AS DOUBLE)) END, 6)
                  AS lift
         FROM bk""") { (s, d) =>
      Stats.gainCurve(enScored(s, d), "en_score", "is_en")
    },

    /** §2b isotonic (PAV) calibration map over the q_calibration bins —
      * the deployable monotone fit beside the raw reliability readout;
      * minimax form, every value an exact-integer ratio, UNROUNDED. */
    Q("q_isotonic",
      s"""$qualityClampedSql,
              binned AS (SELECT CAST(least(CAST(floor(s * 10) AS BIGINT), 9)
                             AS BIGINT) AS bin,
                           count(*) AS n,
                           SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos
                         FROM clamped GROUP BY 1),
              pre AS (SELECT bin, n, pos,
                        SUM(n) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS cumn,
                        SUM(pos) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS cumpos
                      FROM binned),
              lo AS (SELECT bin AS j, cumn - n AS nlo, cumpos - pos AS plo
                     FROM pre),
              hi AS (SELECT bin AS k, cumn AS nhi, cumpos AS phi FROM pre),
              grid AS (SELECT p.bin, lo.j,
                         min(CAST(hi.phi - lo.plo AS DOUBLE)
                           / CAST(hi.nhi - lo.nlo AS DOUBLE)) AS mn
                       FROM pre p
                       JOIN lo ON lo.j <= p.bin
                       JOIN hi ON hi.k >= p.bin
                       GROUP BY 1, 2),
              fit AS (SELECT bin, max(mn) AS iso_rate FROM grid GROUP BY 1)
         SELECT p.bin, CAST(p.n AS BIGINT) AS n,
                CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS pos_rate,
                f.iso_rate
         FROM pre p JOIN fit f ON p.bin = f.bin""") { (s, d) =>
      Stats.isotonicCalibration(qualityScored(s, d), "quality", "is_en")
    },

    /** §2b McNemar paired-rates test: declared 'en' vs the stopword
      * lang-ID's 'en' verdict on the same docs — do the two labelers call
      * 'en' at the same MARGINAL rate (only discordant docs carry
      * evidence; the paired companion to q_kappa's agreement readout). */
    Q("q_mcnemar",
      s"""$langGuessSql
              f AS (SELECT (declared_lang = 'en') AS a,
                           (lang_guess = 'en') AS b
                    FROM li),
              agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                          AS BIGINT) AS b_only,
                        CAST(sum(CASE WHEN (NOT a) AND b THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_only
                      FROM f)
         SELECT n, b_only, c_only,
                CASE WHEN b_only + c_only > 0 THEN
                  CAST((b_only - c_only) * (b_only - c_only) AS DOUBLE)
                    / CAST(b_only + c_only AS DOUBLE) END AS mcnemar_chi2
         FROM agg""") { (s, d) =>
      val li = TextQueries.langId.build(s, d).filter(col("declared_lang").isNotNull)
      Stats.mcnemar(
        li.select((col("declared_lang") === "en").as("a_en"),
          (col("lang_guess") === "en").as("b_en")),
        "a_en", "b_en")
    },

    /** §2b forecast-quality decomposition over the calibration fixture:
      * row-exact Brier + Murphy reliability/resolution/uncertainty + ECE
      * in one row — "how good is the quality score as an is-en
      * probability, and why". */
    Q("q_ece",
      s"""$qualityClampedSql,
              binned AS (SELECT CAST(least(CAST(floor(s * 10) AS BIGINT), 9)
                             AS BIGINT) AS bin,
                           CAST(count(*) AS DOUBLE) AS nb,
                           avg(s) AS conf,
                           avg(CASE WHEN y THEN 1.0 ELSE 0.0 END) AS acc
                         FROM clamped GROUP BY 1),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
                          AS pos,
                        sum((s - (CASE WHEN y THEN 1.0 ELSE 0.0 END))
                          * (s - (CASE WHEN y THEN 1.0 ELSE 0.0 END)))
                          AS sqsum
                      FROM clamped)
         SELECT n,
                round(sqsum / CAST(n AS DOUBLE), 6) AS brier,
                round(sum(nb / CAST(n AS DOUBLE) * abs(acc - conf)), 6)
                  AS ece,
                round(sum(nb / CAST(n AS DOUBLE) * (conf - acc)
                  * (conf - acc)), 6) AS reliability,
                round(sum(nb / CAST(n AS DOUBLE)
                  * (acc - pos / CAST(n AS DOUBLE))
                  * (acc - pos / CAST(n AS DOUBLE))), 6) AS resolution,
                round(pos / CAST(n AS DOUBLE)
                  * (1.0 - pos / CAST(n AS DOUBLE)), 6) AS uncertainty
         FROM binned, tot GROUP BY n, sqsum, pos""") { (s, d) =>
      Stats.forecastDecomposition(qualityScored(s, d), "quality", "is_en")
    },

    /** §2b ARI + NMI between the lang and source partitions of the
      * document corpus — permutation-invariant partition agreement (the
      * measure for comparing cluster assignments that share no label
      * names, e.g. LSH buckets vs exact dup clusters). */
    Q("q_cluster_agreement",
      """WITH cont AS (SELECT CAST(lang AS VARCHAR) AS a,
                        CAST(source AS VARCHAR) AS b,
                        CAST(count(*) AS BIGINT) AS c
                      FROM documents
                      WHERE lang IS NOT NULL AND source IS NOT NULL
                      GROUP BY 1, 2),
              t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                      sum(CAST(c AS DOUBLE) * CAST(c - 1 AS DOUBLE) / 2.0)
                        AS idx,
                      sum(CAST(c AS DOUBLE) * ln(c)) AS hlc
                    FROM cont),
              ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca
                     FROM cont GROUP BY 1),
              mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb
                     FROM cont GROUP BY 1),
              sa AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_a,
                       sum(CAST(ca AS DOUBLE) * CAST(ca - 1 AS DOUBLE)
                         / 2.0) AS sa2,
                       sum(CAST(ca AS DOUBLE) * ln(ca)) AS hla
                     FROM ma),
              sb AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters_b,
                       sum(CAST(cb AS DOUBLE) * CAST(cb - 1 AS DOUBLE)
                         / 2.0) AS sb2,
                       sum(CAST(cb AS DOUBLE) * ln(cb)) AS hlb
                     FROM mb),
              y AS (SELECT n, n_clusters_a, n_clusters_b, idx,
                      CAST(n AS DOUBLE) AS nd,
                      ln(CAST(n AS DOUBLE)) - hla / CAST(n AS DOUBLE) AS ha,
                      ln(CAST(n AS DOUBLE)) - hlb / CAST(n AS DOUBLE) AS hb,
                      ln(CAST(n AS DOUBLE))
                        + (hlc - hla - hlb) / CAST(n AS DOUBLE) AS mi,
                      sa2 * sb2 / (CAST(n AS DOUBLE)
                        * CAST(n - 1 AS DOUBLE) / 2.0) AS expd,
                      (sa2 + sb2) / 2.0 AS mx
                    FROM t, sa, sb)
         SELECT n, n_clusters_a, n_clusters_b,
                CASE WHEN abs(mx - expd) > 0
                  THEN round((idx - expd) / (mx - expd), 6) END AS ari,
                CASE WHEN ha + hb > 0
                  THEN round(2.0 * mi / (ha + hb), 6) END AS nmi
         FROM y""") { (s, d) =>
      Stats.clusterAgreement(Tables.documents(s, d), "lang", "source")
    },

    /** §2b Fleiss' kappa — each user's first 5 events read as 5 "ratings"
      * of the user by event-type "category"; chance-corrected multi-rater
      * agreement, the labeling-QA gate. Exact integer ratio, unrounded. */
    Q("q_fleiss_kappa",
      s"""$ratingsFirst5Sql
                CAST(sc2 AS DOUBLE)
                  / CAST((n_items * 5) * (n_items * 5) AS DOUBLE) AS p_e,
                CASE WHEN (n_items * 5) * (n_items * 5) <> sc2
                  THEN CAST((s2v - n_items * 5) * (n_items * 5)
                         - sc2 * 4 AS DOUBLE)
                    / CAST(4 * ((n_items * 5) * (n_items * 5) - sc2)
                        AS DOUBLE) END AS kappa
         FROM s2, sc""") { (s, d) =>
      Agreement.fleissKappa(ratingsFirst5(s, d), "user_id", "event_type",
        raters = 5)
    },

    /** §2b Gwet's AC1 on the same frame as q_fleiss_kappa — the
      * prevalence-robust agreement twin (kappa-paradox guard); exact
      * integer ratio, unrounded. */
    Q("q_gwet_ac1",
      s"""$ratingsFirst5Sql
                CAST((n_items * 5) * (n_items * 5) - sc2 AS DOUBLE)
                  / CAST((k_categories - 1) * (n_items * 5)
                      * (n_items * 5) AS DOUBLE) AS p_e_gamma,
                CASE WHEN k_categories >= 2
                       AND 4 * ((k_categories - 2) * (n_items * 5)
                         * (n_items * 5) + sc2) <> 0
                  THEN CAST((s2v - n_items * 5) * (k_categories - 1)
                         * (n_items * 5)
                         - ((n_items * 5) * (n_items * 5) - sc2) * 4
                        AS DOUBLE)
                    / CAST(4 * ((k_categories - 2) * (n_items * 5)
                        * (n_items * 5) + sc2) AS DOUBLE) END AS ac1
         FROM s2, sc""") { (s, d) =>
      Agreement.gwetsAC1(ratingsFirst5(s, d), "user_id", "event_type",
        raters = 5)
    },

    /** §2b ICC(1) of event values clustered by user — what share of value
      * variance is between-user (the continuous-measurement reliability
      * companion to the categorical agreement family). */
    Q("q_icc",
      """WITH pg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(value AS DOUBLE)) AS sy,
                       sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
                         AS sy2
                     FROM events
                     WHERE user_id IS NOT NULL AND value IS NOT NULL
                     GROUP BY 1),
              f AS (SELECT CAST(count(*) AS BIGINT) AS j,
                      CAST(sum(n) AS BIGINT) AS nn,
                      sum(sy) AS gsy,
                      sum(sy * sy / CAST(n AS DOUBLE)) AS sb,
                      sum(sy2 - sy * sy / CAST(n AS DOUBLE)) AS ssw,
                      CAST(sum(n * n) AS BIGINT) AS sn2
                    FROM pg)
         SELECT j AS n_groups, nn AS n_total,
                round(CASE WHEN j > 1
                  THEN (sb - gsy * gsy / CAST(nn AS DOUBLE))
                    / CAST(j - 1 AS DOUBLE) END, 6) AS msb,
                round(CASE WHEN nn > j
                  THEN ssw / CAST(nn - j AS DOUBLE) END, 6) AS msw,
                round(CASE WHEN j > 1
                  THEN (CAST(nn AS DOUBLE)
                    - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))
                    / CAST(j - 1 AS DOUBLE) END, 6) AS k0,
                round(CASE WHEN j > 1 AND nn > j AND
                    abs((sb - gsy * gsy / CAST(nn AS DOUBLE))
                        / CAST(j - 1 AS DOUBLE)
                      + ((CAST(nn AS DOUBLE)
                          - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))
                          / CAST(j - 1 AS DOUBLE) - 1.0)
                        * (ssw / CAST(nn - j AS DOUBLE))) > 0.0
                  THEN ((sb - gsy * gsy / CAST(nn AS DOUBLE))
                        / CAST(j - 1 AS DOUBLE)
                      - ssw / CAST(nn - j AS DOUBLE))
                    / ((sb - gsy * gsy / CAST(nn AS DOUBLE))
                        / CAST(j - 1 AS DOUBLE)
                      + ((CAST(nn AS DOUBLE)
                          - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))
                          / CAST(j - 1 AS DOUBLE) - 1.0)
                        * (ssw / CAST(nn - j AS DOUBLE))) END, 6) AS icc
         FROM f""") { (s, d) =>
      Stats.icc1(Tables.events(s, d), "user_id", "value")
    },

    /** §2b Dawid–Skene hard-EM (2 iterations) over the first-5 frame with
      * pseudo-raters event_id mod 3 — confusion-weighted label aggregation
      * that can override majority vote once a rater's reliability is
      * learned; exact integer scoring end-to-end, so the argmax is
      * bit-deterministic across engines and partition orders. */
    Q("q_dawid_skene",
      """WITH ev AS (SELECT user_id, event_type,
                       CAST(event_id % 3 AS BIGINT) AS rater,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                     FROM events
                     WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              r AS (SELECT user_id AS i, rater AS rr, event_type AS j,
                      CAST(rn AS BIGINT) AS o
                    FROM ev WHERE rn <= 5),
              cls AS (SELECT DISTINCT j AS c FROM r),
              kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cls),
              rt AS (SELECT DISTINCT rr FROM r),
              l0 AS (SELECT i, j AS cur FROM (
                       SELECT i, j, row_number() OVER (PARTITION BY i
                           ORDER BY count(*) DESC, j ASC) AS rn
                       FROM r GROUP BY i, j) WHERE rn = 1),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l0),
              j1 AS (SELECT r.i, r.rr, r.j, r.o, l0.cur
                     FROM r JOIN l0 USING (i)),
              c1 AS (SELECT rr, cur, j, CAST(count(*) AS BIGINT) AS cnt
                     FROM j1 GROUP BY 1, 2, 3),
              d1 AS (SELECT rr, cur, CAST(sum(cnt) AS BIGINT) AS den
                     FROM c1 GROUP BY 1, 2),
              g1 AS (SELECT rt.rr, a.c AS cur, b.c AS j,
                       CAST(floor((coalesce(c1.cnt, 0) + 1) * 1000000
                         / (coalesce(d1.den, 0) + kk.k)) AS BIGINT)
                         AS theta
                     FROM rt CROSS JOIN cls a CROSS JOIN cls b
                       CROSS JOIN kk
                     LEFT JOIN c1 ON c1.rr = rt.rr AND c1.cur = a.c
                       AND c1.j = b.c
                     LEFT JOIN d1 ON d1.rr = rt.rr AND d1.cur = a.c),
              p1 AS (SELECT cls.c,
                       CAST(floor((coalesce(pc.pc, 0) + 1) * 1000000
                         / (nn.n + kk.k)) AS BIGINT) AS p
                     FROM cls CROSS JOIN nn CROSS JOIN kk
                     LEFT JOIN (SELECT cur AS c,
                         CAST(count(*) AS BIGINT) AS pc
                       FROM l0 GROUP BY 1) pc ON pc.c = cls.c),
              s1 AS (SELECT i, c,
                       max(CASE WHEN o = 1 THEN theta END) AS f1,
                       max(CASE WHEN o = 2 THEN theta END) AS f2,
                       max(CASE WHEN o = 3 THEN theta END) AS f3,
                       max(CASE WHEN o = 4 THEN theta END) AS f4,
                       max(CASE WHEN o = 5 THEN theta END) AS f5
                     FROM (SELECT r.i, cls.c, r.o, g1.theta
                           FROM r CROSS JOIN cls
                           JOIN g1 ON g1.rr = r.rr AND g1.cur = cls.c
                             AND g1.j = r.j)
                     GROUP BY 1, 2),
              l1 AS (SELECT i, c AS cur FROM (
                       SELECT s1.i, s1.c,
                         row_number() OVER (PARTITION BY s1.i ORDER BY
                           CAST(p1.p AS HUGEINT)
                           * CAST(coalesce(f1, 1) AS HUGEINT)
                           * CAST(coalesce(f2, 1) AS HUGEINT)
                           * CAST(coalesce(f3, 1) AS HUGEINT)
                           * CAST(coalesce(f4, 1) AS HUGEINT)
                           * CAST(coalesce(f5, 1) AS HUGEINT) DESC,
                           s1.c ASC) AS rn
                       FROM s1 JOIN p1 ON p1.c = s1.c) WHERE rn = 1),
              j2 AS (SELECT r.i, r.rr, r.j, r.o, l1.cur
                     FROM r JOIN l1 USING (i)),
              c2 AS (SELECT rr, cur, j, CAST(count(*) AS BIGINT) AS cnt
                     FROM j2 GROUP BY 1, 2, 3),
              d2 AS (SELECT rr, cur, CAST(sum(cnt) AS BIGINT) AS den
                     FROM c2 GROUP BY 1, 2),
              g2 AS (SELECT rt.rr, a.c AS cur, b.c AS j,
                       CAST(floor((coalesce(c2.cnt, 0) + 1) * 1000000
                         / (coalesce(d2.den, 0) + kk.k)) AS BIGINT)
                         AS theta
                     FROM rt CROSS JOIN cls a CROSS JOIN cls b
                       CROSS JOIN kk
                     LEFT JOIN c2 ON c2.rr = rt.rr AND c2.cur = a.c
                       AND c2.j = b.c
                     LEFT JOIN d2 ON d2.rr = rt.rr AND d2.cur = a.c),
              p2 AS (SELECT cls.c,
                       CAST(floor((coalesce(pc.pc, 0) + 1) * 1000000
                         / (nn.n + kk.k)) AS BIGINT) AS p
                     FROM cls CROSS JOIN nn CROSS JOIN kk
                     LEFT JOIN (SELECT cur AS c,
                         CAST(count(*) AS BIGINT) AS pc
                       FROM l1 GROUP BY 1) pc ON pc.c = cls.c),
              s2 AS (SELECT i, c,
                       max(CASE WHEN o = 1 THEN theta END) AS f1,
                       max(CASE WHEN o = 2 THEN theta END) AS f2,
                       max(CASE WHEN o = 3 THEN theta END) AS f3,
                       max(CASE WHEN o = 4 THEN theta END) AS f4,
                       max(CASE WHEN o = 5 THEN theta END) AS f5
                     FROM (SELECT r.i, cls.c, r.o, g2.theta
                           FROM r CROSS JOIN cls
                           JOIN g2 ON g2.rr = r.rr AND g2.cur = cls.c
                             AND g2.j = r.j)
                     GROUP BY 1, 2),
              l2 AS (SELECT i, c AS cur FROM (
                       SELECT s2.i, s2.c,
                         row_number() OVER (PARTITION BY s2.i ORDER BY
                           CAST(p2.p AS HUGEINT)
                           * CAST(coalesce(f1, 1) AS HUGEINT)
                           * CAST(coalesce(f2, 1) AS HUGEINT)
                           * CAST(coalesce(f3, 1) AS HUGEINT)
                           * CAST(coalesce(f4, 1) AS HUGEINT)
                           * CAST(coalesce(f5, 1) AS HUGEINT) DESC,
                           s2.c ASC) AS rn
                       FROM s2 JOIN p2 ON p2.c = s2.c) WHERE rn = 1)
         SELECT l0.i AS user_id, l0.cur AS majority_label,
                l2.cur AS ds_label, l0.cur <> l2.cur AS changed
         FROM l0 JOIN l2 USING (i)""") { (s, d) =>
      val rated = ratingsFirst5(s, d)
        .select(col("user_id"), (col("event_id") % 3L).as("rater"),
          col("event_type"), col("__rn"))
      Agreement.dawidSkene(rated, "user_id", "rater", "event_type", "__rn")
    },

    /** §2b Krippendorff's nominal alpha over the full (user, event_type)
      * rating table — the variable-raters-per-item agreement coefficient
      * (users contribute however many events they have; <2 dropped). */
    Q("q_krippendorff",
      """WITH cells AS (SELECT user_id AS i, event_type AS c,
                          CAST(count(*) AS BIGINT) AS nic
                        FROM events
                        WHERE user_id IS NOT NULL
                          AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              pi AS (SELECT i, CAST(sum(nic) AS BIGINT) AS mi
                     FROM cells GROUP BY 1
                     HAVING CAST(sum(nic) AS BIGINT) >= 2),
              j AS (SELECT cells.i, cells.c, cells.nic, pi.mi
                    FROM cells JOIN pi USING (i)),
              oan AS (SELECT CAST(sum(nic) AS BIGINT) AS n,
                        sum(CAST(nic AS DOUBLE) * CAST(nic - 1 AS DOUBLE)
                          / CAST(mi - 1 AS DOUBLE)) AS o
                      FROM j),
              nc AS (SELECT c, CAST(sum(nic) AS BIGINT) AS ncv
                     FROM j GROUP BY 1),
              n2 AS (SELECT CAST(count(*) AS BIGINT) AS k_categories,
                       CAST(sum(ncv * ncv) AS BIGINT) AS snc2
                     FROM nc),
              it AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM pi)
         SELECT n_items, k_categories, n AS n_pairable,
                round(o, 6) AS observed_coincidence,
                round(CASE WHEN n * n <> snc2
                  THEN 1.0 - CAST(n - 1 AS DOUBLE)
                    * (CAST(n AS DOUBLE) - o)
                    / CAST(n * n - snc2 AS DOUBLE) END, 6) AS alpha
         FROM oan, n2, it""") { (s, d) =>
      Agreement.krippendorffAlpha(Tables.events(s, d), "user_id",
        "event_type")
    },

    /** §2b Cronbach's alpha over the first-5 frame — each user's 5 rating
      * slots read as a 5-item scale of the value measurement; the
      * continuous internal-consistency rung beside q_icc (variance
      * decomposition) and q_fleiss_kappa (categorical agreement). */
    Q("q_cronbach_alpha",
      """WITH ev AS (SELECT user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                     FROM events
                     WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              cells AS (SELECT user_id AS s, CAST(rn AS VARCHAR) AS i,
                          CAST(value AS DOUBLE) AS x
                        FROM ev WHERE rn <= 5 AND value IS NOT NULL),
              subj AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
                         CAST(count(DISTINCT i) AS BIGINT) AS di,
                         sum(x) AS tot
                       FROM cells GROUP BY 1),
              ok AS (SELECT * FROM subj WHERE cnt = 5 AND di = 5),
              okc AS (SELECT c.i, c.x FROM cells c JOIN ok ON c.s = ok.s),
              item AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
                         sum(x) AS sx, sum(x * x) AS sxx
                       FROM okc GROUP BY 1),
              iv AS (SELECT sum(CASE WHEN n > 1
                         THEN (sxx - sx * sx / CAST(n AS DOUBLE))
                           / (CAST(n AS DOUBLE) - 1.0) END) AS siv
                     FROM item),
              tv AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
                       sum(tot) AS st, sum(tot * tot) AS stt
                     FROM ok),
              tvv AS (SELECT n_subjects,
                        CASE WHEN n_subjects > 1
                          THEN (stt - st * st / CAST(n_subjects AS DOUBLE))
                            / (CAST(n_subjects AS DOUBLE) - 1.0) END AS vt
                      FROM tv)
         SELECT n_subjects, CAST(5 AS BIGINT) AS k_items,
                round(siv, 6) AS sum_item_var,
                round(vt, 6) AS total_var,
                round(CASE WHEN vt > 0
                  THEN 5.0 / (5.0 - 1.0) * (1.0 - siv / vt) END, 6) AS alpha
         FROM iv, tvv""") { (s, d) =>
      Agreement.cronbachAlpha(ratingsFirst5(s, d), "user_id", "__rn",
        "value", items = 5)
    },

    /** §2b weighted Cohen's kappa — each user's even- vs odd-indexed
      * event volumes capped to an ordinal 0..4 scale, read as two "raters"
      * scoring the same subject: do the two halves agree beyond chance,
      * with near-misses partially credited (quadratic κ_w ≈ ICC). Counts
      * are integer-exact; both weight families emitted. */
    Q("q_weighted_kappa",
      """WITH per AS (SELECT user_id,
                       least(CAST(sum(CASE WHEN event_id % 2 = 0
                           THEN 1 ELSE 0 END) AS BIGINT), 4) AS a,
                       least(CAST(sum(CASE WHEN event_id % 2 = 1
                           THEN 1 ELSE 0 END) AS BIGINT), 4) AS b
                     FROM events WHERE user_id IS NOT NULL GROUP BY 1),
              cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
                       FROM per GROUP BY 1, 2),
              tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                        CAST(sum(cnt * abs(a - b)) AS BIGINT) AS dlin,
                        CAST(sum(cnt * (a - b) * (a - b)) AS BIGINT) AS dquad
                      FROM cont),
              ma AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS ca
                     FROM cont GROUP BY 1),
              mb AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cb
                     FROM cont GROUP BY 1),
              ew AS (SELECT sum(CAST(ca AS DOUBLE) * cb * abs(a - b)) AS elin,
                       sum(CAST(ca AS DOUBLE) * cb
                         * ((a - b) * (a - b))) AS equad
                     FROM ma, mb)
         SELECT n,
                round(CASE WHEN elin > 0
                  THEN 1.0 - CAST(dlin AS DOUBLE) * n / elin END, 6)
                  AS kappa_linear,
                round(CASE WHEN equad > 0
                  THEN 1.0 - CAST(dquad AS DOUBLE) * n / equad END, 6)
                  AS kappa_quadratic
         FROM tot, ew""") { (s, d) =>
      val per = Tables.events(s, d).filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(least(sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)),
          lit(4L)).as("even_vol"),
          least(sum(when(col("event_id") % 2 === 1, 1L).otherwise(0L)),
            lit(4L)).as("odd_vol"))
      Stats.weightedKappa(per, "even_vol", "odd_vol")
    },

    /** §2b Kendall's W — do the k event types "rank" the days of the
      * window concordantly by daily volume; raters = types, items = days,
      * value = the day's event count (integer, so ranks are cross-engine
      * exact). */
    Q("q_kendall_w",
      """WITH cells AS (SELECT event_type AS r, CAST(ts AS DATE) AS it,
                          CAST(count(*) AS DOUBLE) AS v
                        FROM events
                        WHERE event_type IS NOT NULL AND ts IS NOT NULL
                        GROUP BY 1, 2),
              m AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS mv
                    FROM cells),
              comp AS (SELECT c.r, c.it, c.v
                       FROM cells c
                       JOIN (SELECT it, CAST(count(*) AS BIGINT) AS cnt
                             FROM cells GROUP BY 1) g ON c.it = g.it, m
                       WHERE g.cnt = m.mv),
              ranked AS (SELECT r, it, v,
                           CAST(rank() OVER (PARTITION BY r ORDER BY v)
                             AS DOUBLE)
                           + (CAST(count(*) OVER (PARTITION BY r, v)
                               AS DOUBLE) - 1) / 2.0 AS rk
                         FROM comp),
              shape AS (SELECT CAST(count(DISTINCT it) AS BIGINT) AS nn,
                          CAST(count(DISTINCT r) AS BIGINT) AS mm
                        FROM ranked),
              rs AS (SELECT it, sum(rk) AS ri FROM ranked GROUP BY 1),
              s AS (SELECT sum((ri - CAST(mm AS DOUBLE)
                        * CAST(nn + 1 AS DOUBLE) / 2.0)
                      * (ri - CAST(mm AS DOUBLE)
                        * CAST(nn + 1 AS DOUBLE) / 2.0)) AS sv
                    FROM rs, shape),
              t AS (SELECT sum(tg * tg * tg - tg) AS tt
                    FROM (SELECT r, v, CAST(count(*) AS BIGINT) AS tg
                          FROM ranked GROUP BY 1, 2))
         SELECT nn AS n_items, mm AS n_raters, sv AS s_stat,
                CASE WHEN CAST(mm * mm * (nn * nn * nn - nn) - mm * tt
                    AS DOUBLE) > 0
                  THEN 12.0 * sv
                    / CAST(mm * mm * (nn * nn * nn - nn) - mm * tt
                        AS DOUBLE) END AS w
         FROM shape, s, t""") { (s, d) =>
      val cells = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type").as("rater"),
          to_date(col("ts")).as("item"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      Agreement.kendallW(cells, "rater", "item", "cnt")
    },

    /** §2b Majority-vote label aggregation — collapse each user's events
      * to the modal event type with support fraction; deterministic
      * lexicographic tiebreak (the reproducible-corpus contract). */
    Q("q_majority_label",
      """WITH cells AS (SELECT user_id, event_type,
                          CAST(count(*) AS BIGINT) AS votes
                        FROM events
                        WHERE user_id IS NOT NULL
                          AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              w AS (SELECT user_id, event_type, votes,
                      CAST(sum(votes) OVER (PARTITION BY user_id)
                        AS BIGINT) AS n_ratings,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY votes DESC,
                                                  event_type ASC) AS rn
                    FROM cells)
         SELECT user_id, event_type AS majority_label, votes, n_ratings,
                CAST(votes AS DOUBLE) / CAST(n_ratings AS DOUBLE)
                  AS support
         FROM w WHERE rn = 1""") { (s, d) =>
      Agreement.majorityLabel(Tables.events(s, d), "user_id", "event_type")
    },

    /** §2b Matthews correlation of the stopword lang-ID guess vs the
      * declared label ([[Stats.matthewsCorr]]) — the balanced one-number
      * verdict beside q_kappa's chance correction: exact-integer
      * confusion counts, four-√-factor denominator. */
    Q("q_mcc",
      // [[langGuessSql]] as for q_kappa; exact-integer confusion counts,
      // the MCC numerator stays exact (HUGEINT) before its single double
      // cast and the denominator multiplies four exact square roots.
      s"""$langGuessSql
              cm AS (SELECT
                       CAST(sum(CASE WHEN declared_lang = 'en'
                         AND lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                         AS tp,
                       CAST(sum(CASE WHEN declared_lang <> 'en'
                         AND lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                         AS fp,
                       CAST(sum(CASE WHEN declared_lang = 'en'
                         AND lang_guess <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                         AS fn,
                       CAST(sum(CASE WHEN declared_lang <> 'en'
                         AND lang_guess <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                         AS tn
                     FROM li)
         SELECT tp, fp, fn, tn,
                round(CASE WHEN tp + fp + fn + tn > 0 THEN
                  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
                  END, 6) AS accuracy,
                round(CASE WHEN tp + fp > 0 THEN
                  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6)
                  AS precision,
                round(CASE WHEN tp + fn > 0 THEN
                  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END, 6)
                  AS recall,
                round(CASE WHEN 2 * tp + fp + fn > 0 THEN
                  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
                  END, 6) AS f1,
                round(CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
                    AND (tn + fp) > 0 AND (tn + fn) > 0 THEN
                  CAST(CAST(tp AS HUGEINT) * tn
                       - CAST(fp AS HUGEINT) * fn AS DOUBLE)
                  / (sqrt(CAST(tp + fp AS DOUBLE))
                     * sqrt(CAST(tp + fn AS DOUBLE))
                     * sqrt(CAST(tn + fp AS DOUBLE))
                     * sqrt(CAST(tn + fn AS DOUBLE))) END, 6) AS mcc
         FROM cm""") { (s, d) =>
      Stats.matthewsCorr(TextQueries.langId.build(s, d), "declared_lang", "lang_guess",
        positive = "en")
    },

    /** §2b CART decision stump: best n_chars threshold separating lang=en
      * by Gini gain ([[Stats.decisionStump]]) — the quality-filter
      * cutoff chooser with its induced confusion. */
    Q("q_decision_stump",
      // Cumulative class counts over the distinct-value grid; the Gini
      // algebra uses only correctly-rounded ops so the arg-max is
      // bit-portable; ties break to the smaller threshold.
      s"""WITH base AS (SELECT CAST(n_chars AS DOUBLE) AS v,
                              (lang = 'en') AS y
                       FROM documents
                       WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
              grid AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
                              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END)
                                AS BIGINT) AS p
                       FROM base GROUP BY 1),
              cw AS (SELECT v,
                            sum(c) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS tl,
                            sum(p) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS pl,
                            sum(c) OVER () AS n, sum(p) OVER () AS pp
                     FROM grid),
              cand AS (SELECT v, tl, pl, n, pp, $giniGainSql
                       FROM cw WHERE tl < n),
              best AS (SELECT * FROM cand ORDER BY g DESC, v ASC LIMIT 1),
              root AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                              CAST(sum(p) AS BIGINT) AS n_pos
                       FROM grid)
         SELECT root.n AS n, root.n_pos AS n_pos,
                round(1.0
                  - (CAST(n_pos AS DOUBLE) / CAST(root.n AS DOUBLE))
                  * (CAST(n_pos AS DOUBLE) / CAST(root.n AS DOUBLE))
                  - (CAST(root.n - n_pos AS DOUBLE)
                     / CAST(root.n AS DOUBLE))
                  * (CAST(root.n - n_pos AS DOUBLE)
                     / CAST(root.n AS DOUBLE)), 6) AS gini_root,
                best.v AS threshold, round(best.g, 6) AS gini_gain,
                CAST(best.tl AS BIGINT) AS n_left,
                CAST(best.pl AS BIGINT) AS pos_left,
                CAST(root.n - best.tl AS BIGINT) AS n_right,
                CAST(root.n_pos - best.pl AS BIGINT) AS pos_right
         FROM root, best""") { (s, d) =>
      Stats.decisionStump(
        Tables.documents(s, d).select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en")
    },

    /** §2b Bland–Altman agreement: per-user first-half vs second-half
      * activity counts ([[Agreement.blandAltman]]) — bias ± 1.96σ limits
      * with the share outside; the method-comparison readout beside
      * q_sign_test's direction-only verdict (same midpoint split). */
    Q("q_bland_altman",
      // q_sign_test's midpoint half-split as the two measurements; exact
      // integer difference moments, limits broadcast, outside recount.
      """WITH sp AS (SELECT user_id AS u,
                            min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                     FROM events WHERE ts IS NOT NULL GROUP BY 1),
              h AS (SELECT e.user_id AS u,
                      CAST(SUM(CASE WHEN epoch_us(e.ts) * 2 <= sp.lo + sp.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS m1,
                      CAST(SUM(CASE WHEN epoch_us(e.ts) * 2 > sp.lo + sp.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS m2
                    FROM events e JOIN sp ON sp.u = e.user_id
                    WHERE e.ts IS NOT NULL
                    GROUP BY 1),
              dd AS (SELECT CAST(m1 AS HUGEINT) - m2 AS d FROM h),
              mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        SUM(d) AS s, SUM(d * d) AS ss
                      FROM dd),
              lim AS (SELECT n,
                        CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                        CASE WHEN n > 1 THEN
                          sqrt(CAST(n * ss - s * s AS DOUBLE)
                            / CAST(n * (n - 1) AS DOUBLE)) END AS sd
                      FROM mom),
              lim2 AS (SELECT n, m, sd,
                         CASE WHEN n > 1 THEN m - 1.96 * sd END AS lo,
                         CASE WHEN n > 1 THEN m + 1.96 * sd END AS hi
                       FROM lim)
         SELECT max(l.n) AS n, round(max(l.m), 6) AS bias,
                round(max(l.sd), 6) AS sd_diff,
                round(max(l.lo), 6) AS loa_lower,
                round(max(l.hi), 6) AS loa_upper,
                CASE WHEN max(l.n) > 1 THEN
                  CAST(sum(CASE WHEN CAST(dd.d AS DOUBLE) < l.lo
                    OR CAST(dd.d AS DOUBLE) > l.hi THEN 1 ELSE 0 END)
                    AS BIGINT) END AS n_outside,
                CASE WHEN max(l.n) > 1 THEN
                  round(CAST(sum(CASE WHEN CAST(dd.d AS DOUBLE) < l.lo
                    OR CAST(dd.d AS DOUBLE) > l.hi THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(max(l.n) AS DOUBLE), 6) END
                  AS pct_outside
         FROM dd, lim2 l""") { (s, d) =>
      val us = unix_micros(col("ts"))
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
      val spans = ev.groupBy(col("user_id"))
        .agg(min(us).as("__lo"), max(us).as("__hi"))
      val units = ev.select(col("user_id"), us.as("__us"))
        .join(spans.hint("shuffle_hash"), Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("__us") * 2 <= col("__lo") + col("__hi"), 1L)
          .otherwise(0L)).as("m1"),
          sum(when(col("__us") * 2 > col("__lo") + col("__hi"), 1L)
            .otherwise(0L)).as("m2"))
      Agreement.blandAltman(units, "m1", "m2")
    },

    /** §2b Borda rank aggregation: each language "votes" a ranking of the
      * sources by doc count ([[Agreement.bordaCount]]) — the consensus
      * order beside q_kendall_w's agreement coefficient. */
    Q("q_borda",
      // Midrank Borda points over the voter x candidate grid; dyadic
      // point sums, final rank tie-broken by candidate.
      """WITH b AS (SELECT lang AS voter, source AS cand,
                           CAST(count(*) AS BIGINT) AS score
                    FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL
                    GROUP BY 1, 2),
              r AS (SELECT voter, cand,
                      rank() OVER (PARTITION BY voter
                        ORDER BY score DESC) AS minr,
                      count(*) OVER (PARTITION BY voter, score) AS ties,
                      count(*) OVER (PARTITION BY voter) AS k
                    FROM b),
              p AS (SELECT cand, CAST(count(*) AS BIGINT) AS n_ballots,
                      round(SUM(CAST(k AS DOUBLE)
                        - (CAST(minr AS DOUBLE)
                          + CAST(ties - 1 AS DOUBLE) / 2.0)), 6)
                        AS borda_points
                    FROM r GROUP BY 1)
         SELECT cand AS source, n_ballots, borda_points,
                CAST(rank() OVER (ORDER BY borda_points DESC, cand)
                  AS INTEGER) AS borda_rank
         FROM p""") { (s, d) =>
      Agreement.bordaCount(
        Tables.documents(s, d)
          .filter(col("lang").isNotNull && col("source").isNotNull)
          .groupBy(col("lang").as("voter"), col("source"))
          .agg(count(lit(1)).as("score")),
        "voter", "source", "score")
    },

    /** §2b leave-one-fold-out CV of the lang=en n_chars stump
      * ([[Stats.stumpCv]]) — per-fold learned threshold + held-out
      * accuracy; training grids by global-minus-fold subtraction. */
    Q("q_stump_cv",
      // Leave-one-fold-out training grids by global-minus-fold
      // subtraction over the densified fold x value grid; per-fold
      // argmax carries the held-out confusion.
      s"""WITH base AS (SELECT CAST(n_chars AS DOUBLE) AS v,
                         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                         doc_id % 4 AS f
                       FROM documents
                       WHERE n_chars IS NOT NULL AND lang IS NOT NULL
                         AND doc_id IS NOT NULL),
              gf AS (SELECT f, v, CAST(count(*) AS BIGINT) AS c,
                       CAST(sum(y) AS BIGINT) AS p
                     FROM base GROUP BY 1, 2),
              vg AS (SELECT v, CAST(count(*) AS BIGINT) AS ca,
                       CAST(sum(y) AS BIGINT) AS pa
                     FROM base GROUP BY 1),
              fl AS (SELECT DISTINCT f FROM base),
              dense AS (SELECT fl.f, vg.v, vg.ca, vg.pa,
                          COALESCE(gf.c, 0) AS c, COALESCE(gf.p, 0) AS p
                        FROM vg CROSS JOIN fl
                        LEFT JOIN gf ON gf.f = fl.f AND gf.v = vg.v),
              cw AS (SELECT f, v,
                       sum(ca) OVER wv - sum(c) OVER wv AS tl,
                       sum(pa) OVER wv - sum(p) OVER wv AS pl,
                       sum(ca) OVER wf - sum(c) OVER wf AS n,
                       sum(pa) OVER wf - sum(p) OVER wf AS pp,
                       sum(c) OVER wv AS hc, sum(p) OVER wv AS hp,
                       sum(c) OVER wf AS hn, sum(p) OVER wf AS hpp
                     FROM dense
                     WINDOW wv AS (PARTITION BY f ORDER BY v ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (PARTITION BY f ROWS BETWEEN
                         UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
              cand AS (SELECT *, $giniGainSql
                       FROM cw WHERE tl > 0 AND tl < n),
              best AS (SELECT * FROM (SELECT *, row_number() OVER
                         (PARTITION BY f ORDER BY g DESC, v ASC) AS rn
                       FROM cand) WHERE rn = 1),
              fin AS (SELECT f AS fold, v AS threshold,
                        round(g, 6) AS train_gain,
                        CAST(hn AS BIGINT) AS test_n,
                        CAST((CASE WHEN pl * 2 > tl THEN hp
                              ELSE hc - hp END)
                          + (CASE WHEN (pp - pl) * 2 > (n - tl)
                             THEN hpp - hp
                             ELSE (hn - hc) - (hpp - hp) END) AS BIGINT)
                          AS test_correct
                      FROM best)
         SELECT fold, threshold, train_gain, test_n, test_correct,
                round(CASE WHEN test_n > 0 THEN
                  CAST(test_correct AS DOUBLE) / CAST(test_n AS DOUBLE)
                  END, 6) AS test_accuracy
         FROM fin""") { (s, d) =>
      Stats.stumpCv(
        Tables.documents(s, d).select(col("n_chars"),
          (col("lang") === "en").as("is_en"),
          (col("doc_id") % 4).as("fold")),
        "n_chars", "is_en", "fold")
    },

    /** §2b B-cubed clustering precision/recall: sources as predicted
      * clusters vs lang gold ([[Stats.bcubed]]) — the item-weighted
      * entity-resolution eval beside q_cluster_agreement's pair-counting
      * ARI on the same pairing. */
    Q("q_bcubed",
      // (gold, pred) contingency; per-cell masses n^2/margin folded by
      // ordered prefix over the vocabulary-bounded cell grid.
      """WITH cont AS (SELECT lang AS g, source AS p,
                         CAST(count(*) AS BIGINT) AS n
                       FROM documents
                       WHERE lang IS NOT NULL AND source IS NOT NULL
                       GROUP BY 1, 2),
              mp AS (SELECT p, CAST(SUM(n) AS BIGINT) AS np
                     FROM cont GROUP BY 1),
              mg AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng
                     FROM cont GROUP BY 1),
              f AS (SELECT cont.g, cont.p, n,
                      sum(CAST(n * n AS DOUBLE) / CAST(np AS DOUBLE))
                        OVER w AS pm,
                      sum(CAST(n * n AS DOUBLE) / CAST(ng AS DOUBLE))
                        OVER w AS rm
                    FROM cont JOIN mp USING (p) JOIN mg USING (g)
                    WINDOW w AS (ORDER BY g, p ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW)),
              a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_items,
                      CAST(count(DISTINCT p) AS BIGINT)
                        AS n_pred_clusters,
                      CAST(count(DISTINCT g) AS BIGINT)
                        AS n_gold_classes,
                      (SELECT pm FROM f ORDER BY g DESC, p DESC LIMIT 1)
                        AS sp,
                      (SELECT rm FROM f ORDER BY g DESC, p DESC LIMIT 1)
                        AS sr
                    FROM f)
         SELECT n_items, n_pred_clusters, n_gold_classes,
                round(sp / CAST(n_items AS DOUBLE), 6)
                  AS bcubed_precision,
                round(sr / CAST(n_items AS DOUBLE), 6) AS bcubed_recall,
                round(CASE WHEN sp / CAST(n_items AS DOUBLE)
                    + sr / CAST(n_items AS DOUBLE) > 0 THEN
                  2.0 * (sp / CAST(n_items AS DOUBLE))
                    * (sr / CAST(n_items AS DOUBLE))
                    / (sp / CAST(n_items AS DOUBLE)
                      + sr / CAST(n_items AS DOUBLE)) END, 6)
                  AS bcubed_f1
         FROM a""") { (s, d) =>
      Stats.bcubed(Tables.documents(s, d), "lang", "source")
    },

    /** §2b V-measure: homogeneity/completeness of the same pairing
      * ([[Stats.vMeasure]]) — the interpretable axis-pair NMI blends
      * away. */
    Q("q_v_measure",
      // Entropy partials in the single-log fold form over the bounded
      // contingency and margins; h/c/V mirrored term for term.
      """WITH cont AS (SELECT lang AS g, source AS p,
                         CAST(count(*) AS BIGINT) AS n
                       FROM documents
                       WHERE lang IS NOT NULL AND source IS NOT NULL
                       GROUP BY 1, 2),
              cells AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                          SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
                            AS scell
                        FROM cont),
              mp AS (SELECT SUM(CAST(c AS DOUBLE)
                         * ln(CAST(c AS DOUBLE))) AS sp2,
                       CAST(count(*) AS BIGINT) AS n_pred_clusters
                     FROM (SELECT p, CAST(SUM(n) AS BIGINT) AS c
                           FROM cont GROUP BY 1)),
              mg AS (SELECT SUM(CAST(c AS DOUBLE)
                         * ln(CAST(c AS DOUBLE))) AS sg2,
                       CAST(count(*) AS BIGINT) AS n_gold_classes
                     FROM (SELECT g, CAST(SUM(n) AS BIGINT) AS c
                           FROM cont GROUP BY 1)),
              alg AS (SELECT nn, n_pred_clusters, n_gold_classes,
                        ln(CAST(nn AS DOUBLE))
                          - sg2 / CAST(nn AS DOUBLE) AS hg,
                        ln(CAST(nn AS DOUBLE))
                          - sp2 / CAST(nn AS DOUBLE) AS hp,
                        (sp2 - scell) / CAST(nn AS DOUBLE) AS hggp,
                        (sg2 - scell) / CAST(nn AS DOUBLE) AS hpgg
                      FROM cells, mp, mg),
              hc AS (SELECT *,
                       CASE WHEN hg > 0 THEN 1.0 - hggp / hg
                            ELSE 1.0 END AS hom,
                       CASE WHEN hp > 0 THEN 1.0 - hpgg / hp
                            ELSE 1.0 END AS comp
                     FROM alg)
         SELECT nn AS n_items, n_pred_clusters, n_gold_classes,
                round(hom, 6) AS homogeneity,
                round(comp, 6) AS completeness,
                round(CASE WHEN hom + comp > 0 THEN
                  2.0 * hom * comp / (hom + comp) END, 6) AS v_measure
         FROM hc""") { (s, d) =>
      Stats.vMeasure(Tables.documents(s, d), "lang", "source")
    },

    /** §2b Lin's concordance (CCC): do the token-count and chars/5 length
      * scorers AGREE (not merely correlate) on documents — the
      * continuous-agreement face of the κ family ([[Agreement.linCcc]];
      * C_b isolates systematic location/scale shift from correlation
      * loss). */
    Q("q_lin_ccc",
      s"""WITH sc AS (SELECT CAST(len($duckTokens) AS DOUBLE) AS x,
                        CAST(n_chars AS DOUBLE) / 5.0 AS y
                      FROM documents
                      WHERE text IS NOT NULL AND n_chars IS NOT NULL),
               m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       avg(x) AS mx, avg(y) AS my, avg(x * x) AS mxx,
                       avg(y * y) AS myy, avg(x * y) AS mxy
                     FROM sc),
               d AS (SELECT n, mx, my,
                       mxx - mx * mx AS vx, myy - my * my AS vy,
                       mxy - mx * my AS cov,
                       mxx - mx * mx + (myy - my * my)
                         + (mx - my) * (mx - my) AS den
                     FROM m)
          SELECT n, round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
                 round(CASE WHEN den > 0 THEN 2.0 * cov / den END, 6)
                   AS ccc,
                 round(CASE WHEN vx > 0 AND vy > 0
                   THEN cov / sqrt(vx * vy) END, 6) AS pearson_r,
                 round(CASE WHEN vx > 0 AND vy > 0 AND cov <> 0
                   THEN (2.0 * cov / den) / (cov / sqrt(vx * vy)) END, 6)
                   AS c_b
          FROM d""") { (s, d) =>
      Agreement.linCcc(
        Tables.documents(s, d).select(
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("double").as("len_score"),
          (col("n_chars").cast("double") / 5.0).as("char_score")),
        "len_score", "char_score")
    },
  )
}
