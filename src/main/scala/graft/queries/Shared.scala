package graft
package queries

/** Helpers shared by more than one query family: the DuckDB tokenizer and
  * sentence-splitter expressions, the hashed quality-classifier weights and
  * the click-vs-purchase ECDF prefix of the two-sample shift oracles. */
object Shared {

  /** Deterministic dyadic-rational classifier parameters (multiples of
    * 1/1024, exactly representable in binary → per-doc logits are EXACT
    * sums, hash-comparable cross-engine with no rounding): a stand-in for
    * weights learned offline, shipped to the score query as literals. */
  private[queries] val classifierWeights: Seq[Double] =
    (0 until 64).map(i => (((i * 37 + 11) % 97) - 48) / 1024.0)
  private[queries] val classifierBias: Double = 3.0 / 1024.0

  /** Guarded DuckDB tokenizer matching TextFunctions.tokens (empty/blank
    * text → empty list, not ['']) over an arbitrary column/expression.
    * Oracle strings must build every tokenizer use from this (or the
    * `duckTokens` instance over `text`); EntrySpec pins all inline copies
    * byte-identical so tokenizer-semantics changes cannot drift. */
  private[graft] def duckTokensOf(c: String): String =
    s"CASE WHEN trim($c) = '' THEN CAST([] AS VARCHAR[]) " +
      s"ELSE string_split_regex(trim($c), '\\s+') END"

  private[graft] val duckTokens: String = duckTokensOf("text")

  /** Guarded DuckDB sentence splitter matching TextFunctions.sentences
    * (same RE2 pattern, empty segments dropped) — pinned by EntrySpec like
    * the tokenizer. */
  private[graft] val duckSentences: String =
    "list_filter(string_split_regex(trim(text), '[.!?]+\\s+|[.!?]+$'), " +
      "s -> len(s) > 0)"

  /** DuckDB DOUBLE[] literal of the classifier weights. The weights are
    * dyadic rationals (multiples of 1/1024), so the 10-decimal forms below
    * are EXACT — both engines parse back the identical double. */
  private[queries] def classifierWeightsSql: String =
    "[" + classifierWeights.map(w => f"$w%.10f").mkString(", ") + "]"

  private[queries] def classifierBiasSql: String = f"$classifierBias%.10f"

  /** `sw`: a document's summed hashed-bucket weights over its tokens `e`
    * (`token` per row, grouped by `doc_id`) — the classifier's linear
    * part before the bias. */
  private[queries] def classifierTokenSumSql: String =
    s"""SUM(list_extract($classifierWeightsSql,
          CAST(CAST(('0x' || substring(md5('13:' || token), 1, 15))
            AS BIGINT) % 64 AS INTEGER) + 1)) AS sw"""

  /** `x` (click `ca` and purchase `cb` counts per distinct event value `v`,
    * read as the expression `v`) and `c` (x with the columns `cols`, then
    * the side totals `na`, `nb`): the histogram prefix of the
    * click-vs-purchase two-sample oracles. */
  private[queries] def clickPurchaseEcdfSql(v: String, cols: String): String =
    s"""WITH x AS (SELECT $v AS v,
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS ca,
                      SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS cb
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND value IS NOT NULL
                    GROUP BY 1),
              c AS (SELECT v, ca, cb, $cols,
                      SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
                    FROM x)"""

  /** Running total of `c` in value order, named `as`. */
  private[queries] def runningSumSql(c: String, as: String): String =
    s"""SUM($c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $as"""

  /** Both sides' running counts `cuma`, `cumb`: the two ECDF numerators. */
  private[queries] val cumAbSql: String =
    s"${runningSumSql("ca", "cuma")}, ${runningSumSql("cb", "cumb")}"

  /** Per-document token count `n` and stopword count `ns` (the
    * [[graft.functions.TextFunctions.stopwordCount]] list) over `text`. */
  private[queries] val stopwordCountsSql: String =
    s"""CAST(len($duckTokens) AS DOUBLE) AS n,
        CAST(len(list_filter($duckTokens,
          t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
          AS BIGINT) AS ns"""

  /** `text`, `n`, `ns` and the punctuation count `np`: the inputs of
    * [[qualityBlendSql]]. */
  private[queries] val qualityInputsSql: String =
    s"text, $stopwordCountsSql, " +
      """length(text) - length(regexp_replace(text,
           '[.,;:!?''"()\[\]{}-]', '', 'g')) AS np"""

  /** The 6dp quality-score blend of
    * [[graft.functions.TextFunctions.qualityScore]] over
    * [[qualityInputsSql]]. */
  private[queries] val qualityBlendSql: String =
    """round(
         0.4 * (CASE WHEN n BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       + 0.3 * least((CASE WHEN n > 0 THEN ns / n ELSE 0.0 END) * 5.0, 1.0)
       + 0.3 * (CASE WHEN (CASE WHEN length(text) > 0
                  THEN np / CAST(length(text) AS DOUBLE) ELSE 0.0 END) < 0.2
                  THEN 1.0 ELSE 0.0 END), 6)"""

  /** The stopword lang-ID verdict over [[stopwordCountsSql]]. */
  private[queries] val stopwordGuessSql: String =
    """CASE WHEN (CASE WHEN n > 0 THEN ns / n ELSE 0.0 END) >= 0.05
            THEN 'en' ELSE 'unknown' END"""

  /** `e`: the directed edges `ep(src, dst)` in both directions. */
  private[queries] val undirectedEdgesSql: String =
    """e AS (SELECT src, dst FROM ep
             UNION ALL SELECT dst AS src, src AS dst FROM ep)"""

  /** `c1, r1 … c3, r3`: the engine's 3 fixed PageRank iterations over
    * `e` and the out-degrees `od`, unrolled. Row `id`s come from the
    * relation `base`, and each rank is `teleport` plus 0.85 times the
    * inbound mass (every division forced to DOUBLE, so DuckDB's decimal
    * literals cannot change the arithmetic). */
  private[queries] def pageRankItersSql(base: String,
                                        teleport: String): String =
    (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS id, SUM($prev.rank / od.outdeg) AS c
                  FROM e JOIN $prev ON e.src = $prev.id
                         JOIN od ON e.src = od.src
                  GROUP BY e.dst),
          r$i AS (SELECT $base.id,
                         $teleport
                           + 0.85 * COALESCE(c$i.c, CAST(0 AS DOUBLE)) AS rank
                  FROM $base LEFT JOIN c$i USING (id))"""
    }.mkString(",\n")

  /** `e` through `r3`: uniform-teleport PageRank over `ep` made
    * undirected. The teleport term is spelled as the SAME subtraction the
    * engine computes ((1 - 0.85) is not the double 0.15). */
  private[queries] val uniformPageRankSql: String =
    s"""$undirectedEdgesSql,
            nodes AS (SELECT DISTINCT src AS id FROM e),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
            od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank
                   FROM nodes),
            ${pageRankItersSql("nodes",
              "(CAST(1 AS DOUBLE) - 0.85) / (SELECT n FROM nn)")}"""
}
