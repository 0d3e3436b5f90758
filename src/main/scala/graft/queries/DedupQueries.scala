package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._

/** Deduplication and record-linkage queries: exact, Jaccard, MinHash,
  * SimHash and LSH near-dup detection, clustering and survivorship. */
object DedupQueries {
  import Shared._

  /** Shared generated CTE chain computing per-doc 60-bit simhash in DuckDB
    * (the 60 per-bit ±1 sums and the bit packing are mechanical, so the
    * SQL is built programmatically — same portable md5-derived token hash
    * as the engine). Ends with relation `sh(doc_id, simhash)`. */
  private def simhashCte(docFilter: String): String = {
    val sums = (0 until 60)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val pack = (0 until 60)
      .map(b => s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, UNNEST($duckTokens) AS token
                     FROM documents WHERE $docFilter),
             h AS (SELECT doc_id,
                     CAST(('0x' || substring(md5('7:' || token), 1, 15)) AS BIGINT) AS h
                   FROM tok),
             sums AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
             sh AS (SELECT doc_id, $pack AS simhash FROM sums)"""
  }

  private def simhashOracleSql: String =
    s"""${simhashCte("doc_id < 40")}
        SELECT doc_id, simhash FROM sh"""

  /** Generated oracle for q_simhash_neardup: same pigeonhole banding as
    * the engine (10 bands × 6 bits, hamming via xor popcount). */
  private def simhashNearDupOracleSql: String =
    s"""${simhashCte("doc_id < 200")},
             banded AS (SELECT doc_id, simhash, b AS band,
                          (simhash >> (b * 6)) & 63 AS band_val
                        FROM sh, (SELECT UNNEST(generate_series(0, 9)) AS b))
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
               bit_count(xor(a.simhash, c.simhash)) AS hamming
        FROM banded a JOIN banded c USING (band, band_val)
        WHERE a.doc_id < c.doc_id
          AND bit_count(xor(a.simhash, c.simhash)) <= 8"""

  /** Shared oracle for q_jaccard_pairs AND q_jaccard_prefix (the prefix
    * filter is an exact optimization — both must match this bit-for-bit). */
  private def jaccardPairsOracleSql: String =
    """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 60),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT i.id_a, i.id_b,
                round(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.id_a = sa.doc_id
         JOIN sizes sb ON i.id_b = sb.doc_id
         WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3"""

  val all: Seq[Q] = Seq(
    /** §2b exact dedup by canonical-text fingerprint. */
    Q("q_dedup_exact",
      """SELECT md5(regexp_replace(lower(text), '[^0-9a-z]', '', 'g')) AS fingerprint,
                min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""") { (s, d) =>
      Dedup.exactByFingerprint(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b distinct-token cardinality per document. */
    Q("q_unique_tokens",
      """SELECT doc_id, count(DISTINCT t) AS n_unique_tokens
         FROM (SELECT doc_id, UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS t
               FROM documents)
         GROUP BY doc_id""") { (s, d) =>
      Dedup.tokenSets(Tables.documents(s, d), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_unique_tokens"))
    },

    /** §2b n-gram Jaccard near-dup pairs via inverted-index join (bounded id
      * range keeps the oracle cheap; the operator itself is linear-ish). */
    Q("q_jaccard_pairs", jaccardPairsOracleSql) { (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 60),
        "doc_id", "text", 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
    },

    /** §2b prefix-filtered Jaccard pairs (PPJoin-style): identical contract
      * and results as q_jaccard_pairs — the oracle SQL is shared — but the
      * candidate set comes from each set's rarest-token prefix rather than
      * the full inverted index (the 100 TB token-set path). */
    Q("q_jaccard_prefix",
      // identical result contract by construction (prefix filtering is an
      // exact optimization), so the prefix variant shares the oracle
      jaccardPairsOracleSql) { (s, d) =>
      Dedup.jaccardPairsPrefix(
        Dedup.tokenSets(Tables.documents(s, d).filter(col("doc_id") < 60),
          "doc_id", "text"),
        "doc_id", 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
    },

    /** §2b character-level near-dup pairs: length-blocked levenshtein
      * (maxDist=50 over a bounded doc slice — the O(len²) metric only ever
      * runs on same-length-class candidates). */
    Q("q_edit_distance",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
         FROM documents a JOIN documents b ON a.doc_id < b.doc_id
         WHERE a.doc_id < 80 AND b.doc_id < 80
           AND levenshtein(a.text, b.text) <= 50""") { (s, d) =>
      Dedup.editDistancePairs(
        Tables.documents(s, d).filter(col("doc_id") < 80), "doc_id", "text", 50)
    },

    /** §2b Jaro-Winkler fuzzy matching: within-nation customer-name pairs
      * scoring ≥ 0.95 under the native codegen comparator — the blocked
      * fuzzy-name step of a record-linkage pipeline. */
    Q("q_jaro_winkler",
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw_sim
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.95""") { (s, d) =>
      Dedup.jaroWinklerPairs(Tables.customer(s, d),
        "c_custkey", "c_name", "c_nationkey", 0.95)
    },

    /** End-to-end exercise of the [[graft.operators.Dedup.jaroWinklerPairs]]
      * pair-budget guard (r12 verdict task): a deliberately tiny budget
      * must FAIL FAST with the exact-diagnostic exception before any pair
      * materializes, and the guard's preflight aggregate
      * ([[graft.operators.Dedup.pairBlockMass]]) is emitted AS DATA —
      * total Σ_block C(n,2) candidate mass, hottest block, its mass, and
      * whether the guard tripped. The oracle recomputes all three from
      * the same grouping. */
    Q("q_jw_guard",
      // The guard's preflight mass recomputed from the same grouping; the
      // budget of 10 is below any SF's pair mass, so tripped is always true.
      """WITH n AS (SELECT CAST(c_nationkey AS VARCHAR) AS blk,
                           CAST(count(*) AS BIGINT) AS n
                    FROM customer WHERE c_nationkey IS NOT NULL
                    GROUP BY 1),
              p AS (SELECT blk, (n * (n - 1)) // 2 AS p FROM n),
              t AS (SELECT CAST(SUM(p) AS BIGINT) AS total_pairs FROM p),
              h AS (SELECT blk AS hottest_block,
                           CAST(p AS BIGINT) AS hottest_pairs
                    FROM p ORDER BY p DESC, blk DESC LIMIT 1)
         SELECT total_pairs, hottest_block, hottest_pairs,
                TRUE AS guard_tripped
         FROM t, h""") { (s, d) =>
      val customers = Tables.customer(s, d)
      val tripped =
        try {
          // preflight runs eagerly at plan-construction time: the throw
          // happens here, before a single candidate pair exists
          Dedup.jaroWinklerPairs(customers, "c_custkey", "c_name",
            "c_nationkey", 0.95, maxPairs = 10L)
          false
        } catch {
          case e: IllegalStateException if e.getMessage.contains("budget") =>
            true
        }
      Dedup.pairBlockMass(customers, "c_nationkey")
        .withColumn("guard_tripped", lit(tripped))
    },

    /** §2b word-shingle (3-gram) Jaccard near-dup pairs — the n-gram variant:
      * shingles are near-unique so the inverted index barely fans out. */
    Q("q_shingle_pairs",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents WHERE doc_id < 300),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT i.id_a, i.id_b,
                round(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.id_a = sa.doc_id
         JOIN sizes sb ON i.id_b = sb.doc_id
         WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02""") { (s, d) =>
      // doc_id < 300 @ 0.02 yields ~116 qualifying pairs at sf0.01 — a
      // non-vacuous oracle comparison (the earlier 120/0.05 cut matched on
      // 0 = 0 rows, which a broken implementation would also "pass").
      Dedup.jaccardPairsFrom(
        Dedup.shingleSets(Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text"),
        "doc_id", 0.02)
        .withColumn("jaccard", round(col("jaccard"), 6))
    },

    /** §2b degree assortativity of the near-dup graph
      * ([[Graph.assortativity]]): Pearson r of endpoint degrees over the
      * q_shingle_pairs pair graph — the structural readout that separates
      * hub-to-hub near-dup mats (template families chaining) from
      * hub-to-leaf stars (one canonical doc with many variants). One row:
      * edge count + 6dp r via the engines' shared corr aggregate. */
    Q("q_assortativity",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents WHERE doc_id < 300),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT i.id_a AS a, i.id_b AS b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
                      FROM (SELECT a AS id FROM pairs
                            UNION ALL SELECT b AS id FROM pairs)
                      GROUP BY 1),
              bidir AS (SELECT a, b FROM pairs
                        UNION ALL SELECT b AS a, a AS b FROM pairs)
         SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
                CASE WHEN var_samp(CAST(da.dg AS DOUBLE)) > 0
                      AND var_samp(CAST(db.dg AS DOUBLE)) > 0
                     THEN round(covar_samp(CAST(da.dg AS DOUBLE),
                                           CAST(db.dg AS DOUBLE))
                                / sqrt(var_samp(CAST(da.dg AS DOUBLE))
                                       * var_samp(CAST(db.dg AS DOUBLE))), 6)
                END AS assortativity
         FROM bidir
         JOIN deg da ON bidir.a = da.id
         JOIN deg db ON bidir.b = db.id""") { (s, d) =>
      // cached: assortativity's canon feeds deg, both symmetric halves and
      // the stats join — uncached, the shingle equi-join reruns per
      // consumer (measured 5.9 s → 1.9 s at sf0.1; same rationale as
      // q_modularity's cache)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text"),
        "doc_id", 0.02).cache()
      Graph.assortativity(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    },

    /** §2b duplicate-cluster resolution: near-dup pairs → connected
      * components (iterative min-label) → canonical survivor marker. The
      * transitive closure matters: A~B, B~C land in ONE cluster even when
      * (A,C) was never a pair. Oracle re-derives the closure with a DuckDB
      * recursive CTE. */
    Q("q_dup_clusters",
      """WITH RECURSIVE
           tok AS (SELECT DISTINCT doc_id,
                     UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                   FROM documents WHERE doc_id < 60),
           sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM tok a JOIN tok b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 60),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT id AS doc_id, cluster, (id = cluster) AS is_canonical FROM cl""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      Dedup.duplicateClusters(docs.select(col("doc_id")), pairs, "doc_id")
        .withColumn("is_canonical", col("doc_id") === col("cluster"))
    },

    /** §2b count-preserving dedup: ONE canonical row per duplicate cluster
      * (lowest id), carrying the cluster size as a repetition weight — the
      * soft-dedup idiom that keeps downstream token/quality statistics
      * unbiased after removal (weight 1 = unique doc). Clusters come from
      * 3-gram shingle Jaccard (near-unique shingles ⇒ only genuine
      * near-dups pair), so the fixture yields a MIX of multi-member
      * clusters and weight-1 singletons at every SF (~14 multi + ~89
      * singletons at sf0.01) — both the survivor-weight and the unique-doc
      * paths are exercised and the oracle comparison is discriminating
      * (the earlier word-token/0.3 cut chained all 60 docs into one
      * cluster, a single-row result almost any aggregate would match). */
    Q("q_dedup_weights",
      """WITH RECURSIVE
           tok AS (SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                   FROM documents WHERE doc_id < 120),
           sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                  FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM sh a JOIN sh b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 120),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT cluster AS doc_id, CAST(count(*) AS BIGINT) AS weight
         FROM cl GROUP BY 1""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02)
      Dedup.duplicateClusters(docs.select(col("doc_id")), pairs, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("weight"))
        .select(col("cluster").as("doc_id"), col("weight"))
    },

    /** §2b modularity audit of the near-dup clustering: Newman Q per
      * cluster ([[Graph.modularity]]) over the SAME shingle-Jaccard pair
      * graph and CC partition as q_dedup_weights — the acceptance readout
      * that the dedup "clusters" are genuine communities, not random
      * wiring (for a CC partition every edge is intra, so Q_c reduces to
      * m_c/m − (d_c/2m)², still discriminating: big dense clusters earn
      * less than their edge share suggests). Multi-member clusters AND
      * zero-contribution singletons both appear at every SF. */
    Q("q_modularity",
      """WITH RECURSIVE
           tok AS (SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                   FROM documents WHERE doc_id < 120),
           sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                  FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM sh a JOIN sh b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 120),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
           canon AS (SELECT id_a AS a, id_b AS b FROM pairs),
           mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
           intra AS (SELECT ca.cluster AS c, CAST(count(*) AS BIGINT) AS e_c
                     FROM canon
                     JOIN cl ca ON canon.a = ca.id
                     JOIN cl cb ON canon.b = cb.id
                     WHERE ca.cluster = cb.cluster
                     GROUP BY 1),
           deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
                   FROM (SELECT a AS id FROM canon
                         UNION ALL SELECT b AS id FROM canon)
                   GROUP BY 1),
           dm AS (SELECT cl.cluster AS c, CAST(count(*) AS BIGINT) AS n_nodes,
                         CAST(COALESCE(sum(deg.dg), 0) AS BIGINT) AS d_c
                  FROM cl LEFT JOIN deg ON cl.id = deg.id
                  GROUP BY 1)
         SELECT dm.c AS cluster, dm.n_nodes,
                COALESCE(intra.e_c, 0) AS e_c, dm.d_c,
                CASE WHEN m.m > 0 THEN
                  round(CAST(COALESCE(intra.e_c, 0) AS DOUBLE) / m.m
                        - (CAST(dm.d_c AS DOUBLE) / (2.0 * m.m))
                          * (CAST(dm.d_c AS DOUBLE) / (2.0 * m.m)), 6)
                END AS q_contrib
         FROM dm LEFT JOIN intra ON dm.c = intra.c, mm m""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      // cached: the pair relation feeds the CC labels AND modularity's
      // canon/intra/degree consumers — uncached, the token equi-join reruns
      // per consumer
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02).cache()
      val labels = Dedup.duplicateClusters(docs.select(col("doc_id")), pairs,
        "doc_id")
      Graph.modularity(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        labels, "doc_id", "cluster")
    },

    /** §2b Adamic–Adar link prediction ([[Graph.adamicAdar]]) over the
      * SAME shingle-Jaccard near-dup graph as q_modularity: the top-20
      * non-adjacent pairs sharing rare neighbors — the "duplicates the
      * threshold probably missed" review queue (a thresholded LSH pass
      * loses transitive pairs; AA surfaces exactly those). Wedge join on
      * the common-neighbor center, hub-capped, TakeOrdered. */
    Q("q_adamic_adar",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents WHERE doc_id < 120),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT i.id_a, i.id_b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
              canon AS (SELECT id_a AS a, id_b AS b FROM pairs),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
                      FROM (SELECT a AS id FROM canon
                            UNION ALL SELECT b AS id FROM canon)
                      GROUP BY 1),
              adj AS (SELECT a AS w, b AS u FROM canon
                      UNION ALL SELECT b AS w, a AS u FROM canon),
              cand AS (SELECT n1.u AS u, n2.u AS v, count(*) AS n_common,
                         sum(1.0 / ln(CAST(d.dg AS DOUBLE))) AS aa
                       FROM adj n1
                       JOIN deg d ON n1.w = d.id AND d.dg <= 1000
                       JOIN adj n2 ON n1.w = n2.w AND n1.u < n2.u
                       GROUP BY 1, 2)
         SELECT u AS src, v AS dst, n_common, round(aa, 6) AS aa_score
         FROM cand
         WHERE NOT EXISTS (SELECT 1 FROM canon c
                           WHERE c.a = cand.u AND c.b = cand.v)
         ORDER BY aa_score DESC, src ASC, dst ASC
         LIMIT 20""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      // cached: adamicAdar's canon feeds deg, both adjacency halves, the
      // wedge join's two sides and the anti-join — five consumers of the
      // shingle equi-join (q_modularity's cache rationale)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02).cache()
      Graph.adamicAdar(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        topN = 20)
    },

    /** §2b local clustering coefficient ([[Graph.clusteringCoefficient]],
      * Watts–Strogatz) on the SAME cached shingle-Jaccard graph: per doc,
      * the fraction of its near-dup neighbors that are near-dups of each
      * other — clique-like template families score 1, hub-and-spoke
      * boilerplate stars score 0; the per-node readout of what
      * q_triangles measures in aggregate. */
    Q("q_clustering_coef",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents WHERE doc_id < 120),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT i.id_a, i.id_b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
              canon AS (SELECT id_a AS a, id_b AS b FROM pairs),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
                      FROM (SELECT a AS id FROM canon
                            UNION ALL SELECT b AS id FROM canon)
                      GROUP BY 1),
              t3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                     FROM canon e1 JOIN canon e2 ON e1.b = e2.a
                     JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
              tri AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
                      FROM (SELECT x AS id FROM t3
                            UNION ALL SELECT y FROM t3
                            UNION ALL SELECT z FROM t3)
                      GROUP BY 1)
         SELECT deg.id, deg.degree,
                COALESCE(tri.triangles, CAST(0 AS BIGINT)) AS triangles,
                CASE WHEN deg.degree >= 2 THEN
                  round(2 * COALESCE(tri.triangles, CAST(0 AS BIGINT))
                    / (deg.degree * (deg.degree - 1)), 6) END AS lcc
         FROM deg LEFT JOIN tri ON deg.id = tri.id""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02).cache()
      Graph.clusteringCoefficient(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    },

    /** §2b LSH S-curve calibration: per exact-Jaccard decile, the observed
      * MinHash band-collision rate vs the analytic 1−(1−j⁴)⁴ expectation
      * for the (bands=4, rows=4) index — run this BEFORE trusting an LSH
      * dedup config on a new corpus. The S-curve uses exact squaring
      * chains (j², j⁴, (1−j⁴)², (1−j⁴)⁴) — no pow, bit-identical
      * cross-engine. */
    Q("q_lsh_calibration",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 40),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              p AS (SELECT i.id_a, i.id_b,
                           i.n_common / (sa.n + sb.n - i.n_common) AS j
                    FROM inter i
                    JOIN sizes sa ON i.id_a = sa.doc_id
                    JOIN sizes sb ON i.id_b = sb.doc_id
                    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.05),
              e1 AS (SELECT id_a, id_b, j, (j * j) * (j * j) AS j4 FROM p),
              e2 AS (SELECT id_a, id_b, j, 1.0 - j4 AS y FROM e1),
              e3 AS (SELECT id_a, id_b, j, y * y AS y2 FROM e2),
              sig AS (SELECT doc_id, seed,
                        min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                            AS BIGINT)) AS min_hash
                      FROM tok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                      GROUP BY doc_id, seed),
              banded AS (SELECT doc_id, seed // 4 AS band,
                           md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                             AS band_hash
                         FROM sig GROUP BY doc_id, band),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                       FROM banded a JOIN banded b USING (band, band_hash)
                       WHERE a.doc_id < b.doc_id),
              scored AS (SELECT LEAST(CAST(floor(e3.j * 10) AS BIGINT), 9)
                                  AS jaccard_decile,
                                1.0 - e3.y2 * e3.y2 AS exp_p,
                                CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END
                                  AS obs
                         FROM e3 LEFT JOIN cand c
                           ON e3.id_a = c.id_a AND e3.id_b = c.id_b)
         SELECT jaccard_decile, CAST(count(*) AS BIGINT) AS n_pairs,
                round(avg(exp_p), 6) AS expected_rate,
                round(CAST(sum(obs) AS DOUBLE) / count(*), 6) AS observed_rate
         FROM scored GROUP BY 1""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.05)
      val cands = Dedup.minHashLshCandidates(
          Dedup.minHashSignatures(docs, "doc_id", "text", 16),
          "doc_id", bands = 4, rowsPerBand = 4)
        .withColumn("__hit", lit(1L))
      val j = col("jaccard")
      val j4 = (j * j) * (j * j)
      val y = lit(1.0) - j4
      val y2 = y * y
      truth.join(cands, Seq("id_a", "id_b"), "left")
        .select(
          least(floor(j * 10).cast("long"), lit(9L)).as("jaccard_decile"),
          (lit(1.0) - y2 * y2).as("__exp"),
          coalesce(col("__hit"), lit(0L)).as("__obs"))
        .groupBy(col("jaccard_decile"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("__exp")), 6).as("expected_rate"),
          round(sum(col("__obs")).cast("double") / count(lit(1)), 6)
            .as("observed_rate"))
    },

    /** §2b golden-record survivorship: field-level merge over the same
      * Jaccard dup clusters as q_dup_clusters — longest text + modal lang
      * per cluster, lowest id as the canonical key (the MDM merge step). */
    Q("q_golden_record",
      """WITH RECURSIVE
           tok AS (SELECT DISTINCT doc_id,
                     UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                   FROM documents WHERE doc_id < 60),
           sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM tok a JOIN tok b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 60),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
           j AS (SELECT d.doc_id, d.text, d.lang, c.cluster
                 FROM documents d JOIN cl c ON d.doc_id = c.id
                 WHERE d.doc_id < 60),
           base AS (SELECT cluster, CAST(min(doc_id) AS BIGINT) AS canonical_id,
                           CAST(count(*) AS BIGINT) AS n_members
                    FROM j GROUP BY 1),
           pick AS (SELECT cluster, text AS text_golden FROM (
                      SELECT cluster, text,
                             ROW_NUMBER() OVER (PARTITION BY cluster
                               ORDER BY length(text) DESC, doc_id ASC) AS rn
                      FROM j) WHERE rn = 1),
           md AS (SELECT cluster, lang AS lang_golden FROM (
                    SELECT cluster, lang, count(*) AS c,
                           ROW_NUMBER() OVER (PARTITION BY cluster
                             ORDER BY count(*) DESC, lang ASC) AS rn
                    FROM j GROUP BY cluster, lang) WHERE rn = 1)
         SELECT b.cluster, b.canonical_id, b.n_members,
                pick.text_golden, md.lang_golden
         FROM base b JOIN pick USING (cluster) JOIN md USING (cluster)""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      val clusters = Dedup.duplicateClusters(
        docs.select(col("doc_id")), pairs, "doc_id")
      Dedup.goldenRecord(docs, "doc_id", clusters, "text", "lang")
    },

    /** §2b train/test leakage report: near-dup pairs (token Jaccard ≥ 0.3)
      * that STRADDLE the deterministic 90/10 hash split — the eval-
      * integrity audit a split must pass before its test scores mean
      * anything (same-split near-dups are waste; cross-split ones are
      * leakage). Pure composition: jaccardPairs × hashSplit. */
    Q("q_split_leakage",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 60),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              p AS (SELECT i.id_a, i.id_b,
                           round(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
                    FROM inter i
                    JOIN sizes sa ON i.id_a = sa.doc_id
                    JOIN sizes sb ON i.id_b = sb.doc_id
                    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3),
              sp AS (SELECT doc_id,
                       CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) % 100 < 90
                            THEN 'train' ELSE 'test' END AS split
                     FROM documents WHERE doc_id < 60)
         SELECT p.id_a, p.id_b, p.jaccard,
                a.split AS split_a, b.split AS split_b
         FROM p JOIN sp a ON p.id_a = a.doc_id
                JOIN sp b ON p.id_b = b.doc_id
         WHERE a.split <> b.split""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
      val split = Corpus.hashSplit(docs.select(col("doc_id")), "doc_id",
        Seq("train" -> 90, "test" -> 100)).select(col("doc_id"), col("split"))
      pairs
        .join(split.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("split_a"), col("split_b"))
    },

    /** §2b leakage-SAFE split — the repair for what q_split_leakage
      * measures: [[Corpus.leakageSafeSplit]] hashes the near-dup CLUSTER id
      * (same shingle clusters as q_dedup_weights), so members inherit one
      * assignment and no cluster can straddle train/test by construction.
      * Multi-member clusters and singletons both present at every SF. */
    Q("q_leakage_safe_split",
      """WITH RECURSIVE
           tok AS (SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                   FROM documents WHERE doc_id < 120),
           sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                  FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
           sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM sh a JOIN sh b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 120),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT id AS doc_id, cluster, pct AS split_pct,
                CASE WHEN pct < 90 THEN 'train' ELSE 'test' END AS split
         FROM (SELECT id, cluster,
                 CAST(('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 AS pct
               FROM cl)""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02)
      val labels = Dedup.duplicateClusters(docs.select(col("doc_id")), pairs,
        "doc_id")
      Corpus.leakageSafeSplit(labels, "doc_id", "cluster",
        Seq("train" -> 90, "test" -> 100))
    },

    /** §2b MinHash signatures (portable md5-derived hashes, bounded ids). */
    Q("q_minhash_signatures",
      """SELECT doc_id, seed,
                min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                    AS BIGINT)) AS min_hash
         FROM (SELECT DISTINCT doc_id,
                 UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
               FROM documents WHERE doc_id < 40),
              (SELECT UNNEST(generate_series(0, 15)) AS seed)
         GROUP BY doc_id, seed""") { (s, d) =>
      Dedup.minHashSignatures(Tables.documents(s, d).filter(col("doc_id") < 40),
        "doc_id", "text", 16)
        .withColumn("seed", col("seed").cast("long"))
    },

    /** §2b sketch-only MinHash similarity estimation: pairs scored by
      * signature agreement alone (no exact re-verification) — the path used
      * when re-joining raw token sets is too expensive. */
    Q("q_minhash_est",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 200),
              sig AS (SELECT doc_id, seed,
                        min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                            AS BIGINT)) AS min_hash
                      FROM tok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                      GROUP BY doc_id, seed),
              agree AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               count(*) AS n_agree
                        FROM sig a JOIN sig b
                          ON a.seed = b.seed AND a.min_hash = b.min_hash
                         AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT id_a, id_b, n_agree,
                round(CAST(n_agree AS DOUBLE) / 16, 6) AS est_jaccard
         FROM agree WHERE CAST(n_agree AS DOUBLE) / 16 >= 0.25""") { (s, d) =>
      Dedup.minHashEstimate(
        Dedup.minHashSignatures(
          Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text", 16),
        "doc_id", 16, 0.25)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
    },

    /** §2b SimHash 60-bit signatures. Rows-only check (bit-packing SQL oracle
      * is impractical); unit-tested against hand-computed values instead. */
    Q("q_simhash", simhashOracleSql) { (s, d) =>
      Dedup.simHash(Tables.documents(s, d).filter(col("doc_id") < 40), "doc_id", "text")
    },

    /** §2b SimHash near-dup pairs with pigeonhole band blocking (exact
      * recall for hamming ≤ 8 with 10 bands of 6 bits). */
    Q("q_simhash_neardup", simhashNearDupOracleSql) { (s, d) =>
      Dedup.simHashNearDups(Tables.documents(s, d).filter(col("doc_id") < 200),
        "doc_id", "text")
    },

    /** §2b MinHash-LSH banding: candidate pairs sharing any band hash
      * (16 hashes, 4 bands × 4 rows — tuned for ~0.5 similarity). */
    Q("q_lsh_candidates",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 40),
              sig AS (SELECT doc_id, seed,
                        min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                            AS BIGINT)) AS min_hash
                      FROM tok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                      GROUP BY doc_id, seed),
              banded AS (SELECT doc_id, seed // 4 AS band,
                           md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                             AS band_hash
                         FROM sig GROUP BY doc_id, band)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b USING (band, band_hash)
         WHERE a.doc_id < b.doc_id""") { (s, d) =>
      Dedup.minHashLshCandidates(
        Dedup.minHashSignatures(Tables.documents(s, d).filter(col("doc_id") < 40),
          "doc_id", "text", 16),
        "doc_id", bands = 4, rowsPerBand = 4)
    },

    /** §2b batch twin of the streaming near-dup ingest
      * ([[streaming.EventStreams.nearDupIngest]]): the documents table
      * replayed as two micro-batches (doc_id < 60, then 60–119) through
      * the SAME incremental admission — MinHash-LSH candidates + exact
      * Jaccard ≥ 0.3 re-rank, keep-first within batch, accepted-only
      * blocking across batches. The oracle replays band hashing, the
      * re-rank and the admission logic in SQL; StreamingSpec pins the
      * foreachBatch sink's surviving set equal to this twin's. */
    Q("q_neardup_admit",
      s"""WITH tok AS (SELECT DISTINCT doc_id, UNNEST($duckTokens) AS token
                       FROM documents WHERE doc_id < 120),
              sig AS (SELECT doc_id, seed,
                        min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                            AS BIGINT)) AS min_hash
                      FROM tok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                      GROUP BY doc_id, seed),
              banded AS (SELECT doc_id, seed // 4 AS band,
                           md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                             AS band_hash
                         FROM sig GROUP BY doc_id, band),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                       FROM banded a JOIN banded b USING (band, band_hash)
                       WHERE a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
              inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b,
                               count(*) AS ni
                        FROM tok ta JOIN tok tb USING (token)
                        WHERE ta.doc_id < tb.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT c.id_a, c.id_b
                        FROM cand c
                        JOIN sizes sa ON sa.doc_id = c.id_a
                        JOIN sizes sb ON sb.doc_id = c.id_b
                        JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
                        WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.3),
              a1 AS (SELECT d.doc_id FROM documents d WHERE d.doc_id < 60
                     AND NOT EXISTS (SELECT 1 FROM pairs p
                                     WHERE p.id_b = d.doc_id AND p.id_a < 60)),
              a2 AS (SELECT d.doc_id FROM documents d
                     WHERE d.doc_id >= 60 AND d.doc_id < 120
                     AND NOT EXISTS (SELECT 1 FROM pairs p
                                     JOIN a1 ON p.id_a = a1.doc_id
                                     WHERE p.id_b = d.doc_id)
                     AND NOT EXISTS (SELECT 1 FROM pairs p
                                     WHERE p.id_b = d.doc_id AND p.id_a >= 60))
         SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM a1
         UNION ALL
         SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM a2""") { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val b1 = docs.filter(col("doc_id") < 60)
      val b2 = docs.filter(col("doc_id") >= 60 && col("doc_id") < 120)
      // a1 feeds THREE consumers (a2's band join, a2's token join, the
      // final union) and is batch-bounded — localCheckpoint materializes
      // the accepted set once, exactly as the streaming twin reads its
      // accepted state from the committed sink rather than re-deriving
      // batch 1's admission pipeline per consumer (within-job sharing →
      // localCheckpoint, not cache; see PLANS.md multi-consumer rule)
      val a1 = Dedup.admitNearDups(b1, b1.filter(lit(false)),
        "doc_id", "text", 16, 4, 0.3).localCheckpoint()
      val a2 = Dedup.admitNearDups(b2, a1, "doc_id", "text", 16, 4, 0.3)
      a1.select(col("doc_id"), lit(1L).as("batch"))
        .unionByName(a2.select(col("doc_id"), lit(2L).as("batch")))
    },

    /** §2b exact-dup survivorship by quality: keep the longest copy of each
      * fingerprint (tie → lowest doc_id), not just the lowest id. */
    Q("q_keep_best",
      """WITH fp AS (SELECT doc_id, n_chars,
                       md5(regexp_replace(lower(text), '[^0-9a-z]', '', 'g'))
                         AS fingerprint
                     FROM documents),
              r AS (SELECT fingerprint, n_chars, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY fingerprint
                        ORDER BY n_chars DESC, doc_id ASC) AS rn,
                      count(*) OVER (PARTITION BY fingerprint) AS n_dups
                    FROM fp)
         SELECT fingerprint, CAST(n_chars AS DOUBLE) AS best_quality,
                doc_id AS keep_id, n_dups
         FROM r WHERE rn = 1""") { (s, d) =>
      Dedup.keepBestCopy(Tables.documents(s, d), "doc_id", "text", "n_chars")
    },

    /** §2b end-to-end near-dup survivorship: Jaccard pairs → connected
      * components → one surviving doc per cluster with its member count. */
    Q("q_neardup_survivors",
      """WITH RECURSIVE
           tok AS (SELECT DISTINCT doc_id,
                     UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                   FROM documents WHERE doc_id < 60),
           sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
           inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                     FROM tok a JOIN tok b
                       ON a.token = b.token AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
           pairs AS (SELECT i.id_a, i.id_b
                     FROM inter i
                     JOIN sizes sa ON i.id_a = sa.doc_id
                     JOIN sizes sb ON i.id_b = sb.doc_id
                     WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION
                     SELECT id_b AS src, id_a AS dst FROM pairs),
           nodes AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 60),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT cluster AS doc_id, count(*) AS n_members FROM cl GROUP BY cluster""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      Dedup.nearDupSurvivors(docs.select(col("doc_id")), pairs, "doc_id")
    },

    /** §2b asymmetric containment pairs — subset-duplication detection. */
    Q("q_containment",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 60),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT i.id_a, i.id_b,
                round(i.n_common / CAST(sa.n AS DOUBLE), 6) AS containment_a,
                round(i.n_common / CAST(sb.n AS DOUBLE), 6) AS containment_b
         FROM inter i
         JOIN sizes sa ON i.id_a = sa.doc_id
         JOIN sizes sb ON i.id_b = sb.doc_id
         WHERE greatest(i.n_common / CAST(sa.n AS DOUBLE),
                        i.n_common / CAST(sb.n AS DOUBLE)) >= 0.5""") { (s, d) =>
      Dedup.containmentPairs(
        Dedup.tokenSets(Tables.documents(s, d).filter(col("doc_id") < 60),
          "doc_id", "text"), "doc_id", 0.5)
        .withColumn("containment_a", round(col("containment_a"), 6))
        .withColumn("containment_b", round(col("containment_b"), 6))
    },

    /** §2b sorted-neighborhood blocking: per-language candidate pairs at
      * rank distance <= 3 under the (length, id) sort. */
    Q("q_sorted_neighborhood",
      """WITH ranked AS (SELECT lang, doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY length(text), doc_id) AS BIGINT) AS rnk
              FROM documents WHERE doc_id < 120)
         SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
                b.rnk - a.rnk AS rank_gap
         FROM ranked a JOIN ranked b
           ON a.lang = b.lang AND b.rnk > a.rnk AND b.rnk <= a.rnk + 3""") { (s, d) =>
      Dedup.sortedNeighborhoodPairs(
        Tables.documents(s, d).filter(col("doc_id") < 120),
        "doc_id", "text", "lang", 3)
    },

    /** §2b verbatim duplicated spans (the substring-dedup primitive,
      * Lee et al. ACL'22): 8-token windows appearing in ≥2 distinct
      * documents — the license-header / boilerplate duplication that
      * document-level exact and Jaccard dedup both miss. Map-side window
      * expansion + ONE hash aggregate on the portable fingerprint. */
    Q("q_dup_spans",
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
              s AS (SELECT doc_id, toks, len(toks) AS n FROM t
                    WHERE len(toks) >= 8),
              x AS (SELECT doc_id, UNNEST(generate_series(0, n - 8)) AS i,
                           toks
                    FROM s),
              sp AS (SELECT doc_id,
                            array_to_string(toks[i + 1 : i + 8], ' ') AS span
                     FROM x)
         SELECT md5(span) AS span_hash, MIN(span) AS span_example,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                MIN(doc_id) AS first_doc
         FROM sp GROUP BY md5(span)
         HAVING COUNT(DISTINCT doc_id) >= 2""") { (s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text", 8)
    },

    /** §2b winnowing fingerprints (MOSS): k=5 shingles, w=4 windows — the
      * sampled substring-dedup index. */
    Q("q_winnowing",
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
              s AS (SELECT doc_id, toks, len(toks) AS n FROM t
                    WHERE len(toks) >= 5),
              pos AS (SELECT doc_id, toks,
                             UNNEST(generate_series(0, n - 5)) AS i
                      FROM s),
              sh AS (SELECT doc_id, i,
                       CAST(('0x' || substring(md5('17:' ||
                         array_to_string(toks[i + 1 : i + 5], ' ')), 1, 15))
                         AS BIGINT) AS h
                     FROM pos),
              hs AS (SELECT doc_id, array_agg(h ORDER BY i) AS hs
                     FROM sh GROUP BY doc_id),
              win AS (SELECT doc_id, hs,
                             UNNEST(generate_series(0, len(hs) - 4)) AS j
                      FROM hs WHERE len(hs) >= 4)
         SELECT DISTINCT doc_id,
                list_aggregate(hs[j + 1 : j + 4], 'min') AS fingerprint
         FROM win""") { (s, d) =>
      Dedup.winnowingFingerprints(Tables.documents(s, d), "doc_id", "text",
        k = 5, w = 4)
    },

    /** §2b Fellegi–Sunter probabilistic linkage over nation-blocked
      * customers: m-probabilities configured, u-probabilities estimated as
      * field collision probabilities from the data; fields = market
      * segment, acctbal kilo-bucket, 2-char name tail
      * ([[Dedup.fellegiSunter]]). The harness emits the TOP-50 pairs by
      * score (full (score, id_a, id_b) tiebreak → TakeOrdered) rather than
      * a fixed threshold — at sf0.001 the block-pair volume is too small
      * for any chance all-field agreement, so a threshold cut would go
      * empty; a clerical-review queue is the other standard FS readout. */
    Q("q_fellegi_sunter",
      """WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM customer),
           c AS (SELECT c_custkey AS id, c_nationkey AS blk,
                        c_mktsegment AS f0,
                        CAST(floor(c_acctbal / 1000) AS BIGINT) AS f1,
                        substring(c_name, length(c_name) - 1, 2) AS f2
                 FROM customer),
           u0 AS (SELECT CAST(sum(cc * cc) AS DOUBLE) / (nn * nn) AS u
                  FROM (SELECT count(*) AS cc FROM c GROUP BY f0), n
                  GROUP BY nn),
           u1 AS (SELECT CAST(sum(cc * cc) AS DOUBLE) / (nn * nn) AS u
                  FROM (SELECT count(*) AS cc FROM c GROUP BY f1), n
                  GROUP BY nn),
           u2 AS (SELECT CAST(sum(cc * cc) AS DOUBLE) / (nn * nn) AS u
                  FROM (SELECT count(*) AS cc FROM c GROUP BY f2), n
                  GROUP BY nn),
           s AS (SELECT a.id AS id_a, b.id AS id_b,
                        round(
                          CASE WHEN a.f0 IS NOT DISTINCT FROM b.f0
                               THEN ln(0.9 / u0.u)
                               ELSE ln((1 - 0.9) / (1 - u0.u)) END
                        + CASE WHEN a.f1 IS NOT DISTINCT FROM b.f1
                               THEN ln(0.8 / u1.u)
                               ELSE ln((1 - 0.8) / (1 - u1.u)) END
                        + CASE WHEN a.f2 IS NOT DISTINCT FROM b.f2
                               THEN ln(0.85 / u2.u)
                               ELSE ln((1 - 0.85) / (1 - u2.u)) END, 6)
                          AS fs_score
                 FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id,
                      u0, u1, u2)
         SELECT id_a, id_b, fs_score FROM s
         ORDER BY fs_score DESC, id_a ASC, id_b ASC LIMIT 50""") { (s, d) =>
      val c = Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("acct_kilo"),
        expr("substring(c_name, length(c_name) - 1, 2)").as("name_tail"))
      // top-k form: the per-score prefix-sum cutoff expands only the group
      // pairs that can reach the 50-row review queue — at 10× duplicated
      // data the full-expansion form measured 12.8× slower (BASELINE.md
      // round-11 soak), this one stays flat; output (and oracle) unchanged
      Dedup.fellegiSunterTopK(c, "c_custkey", "c_nationkey",
        Seq(("c_mktsegment", 0.9), ("acct_kilo", 0.8), ("name_tail", 0.85)),
        threshold = -100.0, k = 50)
    },

    /** §2b incremental CC: fold a deterministic batch of new pairs into a
      * pre-existing min-rooted cluster assignment via star contraction
      * ([[Dedup.incrementalClusters]]) — the daily-ingest dedup path whose
      * iterative work is ∝ the batch, not the corpus. Fixture: prior
      * clusters = runs of 4 consecutive doc_ids under 400; the batch links
      * every 20th id to id+4 (merging adjacent clusters into chains and
      * pulling in ≥400 ids the prior never saw). */
    Q("q_incremental_cc",
      """WITH RECURSIVE
           prior AS (SELECT doc_id AS id, doc_id - (doc_id % 4) AS root
                     FROM documents WHERE doc_id < 400),
           newp AS (SELECT doc_id AS id_a, doc_id + 4 AS id_b
                    FROM documents
                    WHERE doc_id % 20 = 0 AND doc_id + 4 < 500),
           edges AS (SELECT id AS src, root AS dst FROM prior WHERE id <> root
                     UNION
                     SELECT root AS src, id AS dst FROM prior WHERE id <> root
                     UNION SELECT id_a AS src, id_b AS dst FROM newp
                     UNION SELECT id_b AS src, id_a AS dst FROM newp),
           nodes AS (SELECT id FROM prior
                     UNION SELECT id_a AS id FROM newp
                     UNION SELECT id_b AS id FROM newp),
           walk(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.id = e.src),
           cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT id AS doc_id, cluster FROM cl""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val prior = docs.filter(col("doc_id") < 400)
        .select(col("doc_id").as("id"),
          (col("doc_id") - col("doc_id") % 4).as("cluster"))
      val newPairs = docs
        .filter(col("doc_id") % 20 === 0 && col("doc_id") + 4 < 500)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 4).as("id_b"))
      Dedup.incrementalClusters(prior, "id", "cluster", newPairs)
        .select(col("id").as("doc_id"), col("cluster"))
    },

    /** §2b TF-IDF-weighted cosine pairs (the weighted Jaccard upgrade):
      * inverted-index equi-join over the doc_id < 300 slice, rounded-cosine
      * ≥ 0.8 keeps the filter ulp-stable cross-engine. */
    Q("q_cosine_pairs",
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents
                     WHERE doc_id < 300),
              tf0 AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
              g AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
                    FROM tf0 GROUP BY doc_id, term),
              d AS (SELECT term AS dterm, COUNT(*) AS df FROM g GROUP BY term),
              n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
                    FROM t),
              w AS (SELECT doc_id, term, tf * ln(n_docs / df) AS w
                    FROM g JOIN d ON g.term = d.dterm CROSS JOIN n),
              nm AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm
                     FROM w GROUP BY doc_id),
              dt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            SUM(a.w * b.w) AS dot
                     FROM w a JOIN w b
                       ON a.term = b.term AND a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                round(dot / (x.norm * y.norm), 6) AS cosine
         FROM dt JOIN nm x ON id_a = x.doc_id JOIN nm y ON id_b = y.doc_id
         WHERE x.norm > 0 AND y.norm > 0
           AND round(dot / (x.norm * y.norm), 6) >= 0.8""") { (s, d) =>
      Dedup.tfidfCosinePairs(
        Tables.documents(s, d).filter(col("doc_id") < 300),
        "doc_id", "text", 0.8)
    },

    /** §2b dedup-blocking quality eval: MinHash-LSH candidates (16 hashes,
      * 4×4 bands) scored against exact Jaccard≥0.7 ground truth on the
      * same docs — precision/recall in one row; both are strictly inside
      * (0,1) on this fixture, so the check is non-vacuous. */
    Q("q_lsh_dedup_eval",
      """WITH tok AS (SELECT DISTINCT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents WHERE doc_id < 40),
              sig AS (SELECT doc_id, seed,
                        min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                            AS BIGINT)) AS min_hash
                      FROM tok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                      GROUP BY doc_id, seed),
              banded AS (SELECT doc_id, seed // 4 AS band,
                           md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                             AS band_hash
                         FROM sig GROUP BY doc_id, band),
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                       FROM banded a JOIN banded b USING (band, band_hash)
                       WHERE a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              truth AS (SELECT i.id_a, i.id_b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.7),
              hits AS (SELECT c.* FROM cand c
                       JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b)
         SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
                (SELECT COUNT(*) FROM truth) AS n_true_pairs,
                (SELECT COUNT(*) FROM hits) AS n_hits,
                round(CASE WHEN (SELECT COUNT(*) FROM cand) > 0
                  THEN (SELECT COUNT(*) FROM hits)
                       / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) END, 6)
                  AS precision,
                round(CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                  THEN (SELECT COUNT(*) FROM hits)
                       / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END, 6)
                  AS recall""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
      // multi-consumer rule: each frame feeds its own count AND the hits
      // semi-join — cache or the signature/shingle pipelines (and their
      // codegen) run twice apiece; both frames are ≤ |pairs(40 docs)| rows
      val cands = Dedup.minHashLshCandidates(
        Dedup.minHashSignatures(docs, "doc_id", "text", 16),
        "doc_id", bands = 4, rowsPerBand = 4).cache()
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.7)
        .select(col("id_a"), col("id_b")).cache()
      val hits = cands.join(truth, Seq("id_a", "id_b"), "left_semi")
      cands.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_candidates"), col("n_true_pairs"), col("n_hits"),
          round(when(col("n_candidates") > 0,
            col("n_hits") / col("n_candidates")), 6).as("precision"),
          round(when(col("n_true_pairs") > 0,
            col("n_hits") / col("n_true_pairs")), 6).as("recall"))
    },

    /** §2b record-linkage scoring: the q_sorted_neighborhood blocker's
      * candidates scored as 0.5·token-jaccard(text) + 0.3·lev-sim(text) +
      * 0.2·exact(source) — blocker proposes, comparator disposes; cost ∝
      * candidate pairs, never n². */
    Q("q_er_score",
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 120),
              r AS (SELECT lang, doc_id,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY length(text) ASC, doc_id ASC) AS rnk
                    FROM d),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM r a JOIN r b ON a.lang = b.lang
                     AND b.rnk > a.rnk AND b.rnk <= a.rnk + 3),
              h AS (SELECT c.id_a, c.id_b,
                           coalesce(da.text, '') AS ta,
                           coalesce(db.text, '') AS tb,
                           da.source AS sa, db.source AS sb,
                           ${duckTokensOf("coalesce(da.text, '')")} AS tka,
                           ${duckTokensOf("coalesce(db.text, '')")} AS tkb
                    FROM c JOIN d da ON da.doc_id = c.id_a
                           JOIN d db ON db.doc_id = c.id_b)
         SELECT id_a, id_b,
                round(0.5 * (CASE
                    WHEN len(list_distinct(list_concat(tka, tkb))) = 0
                    THEN 1.0
                    ELSE CAST(len(list_filter(list_distinct(tka),
                           t -> list_contains(tkb, t))) AS DOUBLE)
                         / len(list_distinct(list_concat(tka, tkb))) END)
                  + 0.3 * (CASE WHEN greatest(length(ta), length(tb)) = 0
                    THEN 1.0
                    ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
                               / greatest(length(ta), length(tb)) END)
                  + 0.2 * (CASE WHEN sa IS NOT DISTINCT FROM sb
                    THEN 1.0 ELSE 0.0 END), 6) AS match_score
         FROM h
         WHERE round(0.5 * (CASE
                    WHEN len(list_distinct(list_concat(tka, tkb))) = 0
                    THEN 1.0
                    ELSE CAST(len(list_filter(list_distinct(tka),
                           t -> list_contains(tkb, t))) AS DOUBLE)
                         / len(list_distinct(list_concat(tka, tkb))) END)
                  + 0.3 * (CASE WHEN greatest(length(ta), length(tb)) = 0
                    THEN 1.0
                    ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
                               / greatest(length(ta), length(tb)) END)
                  + 0.2 * (CASE WHEN sa IS NOT DISTINCT FROM sb
                    THEN 1.0 ELSE 0.0 END), 6) >= 0.45""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      val cands = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", "lang", 3)
      Dedup.matchScore(cands, docs, "doc_id",
        Seq(("text", "jaccard", 0.5), ("text", "lev", 0.3),
          ("source", "exact", 0.2)),
        threshold = 0.45)
    },

    /** §2b Jaccard link prediction: size-normalized common-neighbor score
      * for non-adjacent pairs of the near-dup shingle graph — the
      * adamicAdar sibling where sharing MOST of a small neighborhood
      * outranks sharing a sliver of two hubs. */
    Q("q_jaccard_link",
      s"""WITH tok AS (SELECT doc_id, $duckTokens AS t
                      FROM documents WHERE doc_id < 120),
              sh AS (SELECT DISTINCT doc_id,
                            array_to_string(t[i:i+2], ' ') AS token
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT i.id_a, i.id_b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
              canon AS (SELECT id_a AS a, id_b AS b FROM pairs),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
                      FROM (SELECT a AS id FROM canon
                            UNION ALL SELECT b AS id FROM canon)
                      GROUP BY 1),
              adj AS (SELECT a AS w, b AS u FROM canon
                      UNION ALL SELECT b AS w, a AS u FROM canon),
              cand AS (SELECT n1.u AS u, n2.u AS v, count(*) AS n_common
                       FROM adj n1
                       JOIN deg d ON n1.w = d.id AND d.dg <= 1000
                       JOIN adj n2 ON n1.w = n2.w AND n1.u < n2.u
                       GROUP BY 1, 2),
              scored AS (SELECT cand.u, cand.v, cand.n_common,
                           round(CAST(cand.n_common AS DOUBLE)
                             / CAST(du.dg + dv.dg - cand.n_common AS DOUBLE),
                             6) AS jaccard_score
                         FROM cand
                         JOIN deg du ON cand.u = du.id
                         JOIN deg dv ON cand.v = dv.id)
         SELECT u AS src, v AS dst, n_common, jaccard_score
         FROM scored
         WHERE NOT EXISTS (SELECT 1 FROM canon c
                           WHERE c.a = scored.u AND c.b = scored.v)
         ORDER BY jaccard_score DESC, src ASC, dst ASC
         LIMIT 20""") { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", 0.02).cache()
      Graph.jaccardLinkPrediction(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        topN = 20)
    },

    /** §2b rich-club coefficient over the doc-similarity graph
      * ([[Graph.richClub]]): do the highly-duplicated documents
      * near-duplicate EACH OTHER (template cliques) or bridge disjoint
      * regions — φ(k) at k ∈ {1, 2, 4} beside q_assortativity's single
      * correlation. Same cached pair graph as q_assortativity. */
    Q("q_rich_club",
      // The q_assortativity pair graph with exact integer club counts.
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents WHERE doc_id < 300),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS token
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               count(*) AS n_common
                        FROM sh a JOIN sh b
                          ON a.token = b.token AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT i.id_a AS a, i.id_b AS b
                        FROM inter i
                        JOIN sizes sa ON i.id_a = sa.doc_id
                        JOIN sizes sb ON i.id_b = sb.doc_id
                        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.02),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg
                      FROM (SELECT a AS id FROM pairs
                            UNION ALL SELECT b AS id FROM pairs)
                      GROUP BY 1),
              rc AS (SELECT CAST(k AS BIGINT) AS k
                     FROM (VALUES (1), (2), (4)) v(k)),
              nk AS (SELECT rc.k,
                            CAST(SUM(CASE WHEN deg.dg > rc.k
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes
                     FROM rc CROSS JOIN deg GROUP BY 1),
              pd AS (SELECT p.a, p.b, da.dg AS dga, db.dg AS dgb
                     FROM pairs p
                     JOIN deg da ON p.a = da.id
                     JOIN deg db ON p.b = db.id),
              ek AS (SELECT rc.k,
                            CAST(SUM(CASE WHEN dga > rc.k AND dgb > rc.k
                              THEN 1 ELSE 0 END) AS BIGINT) AS e_club
                     FROM rc CROSS JOIN pd GROUP BY 1)
         SELECT nk.k, nk.n_nodes, COALESCE(ek.e_club, 0) AS e_club,
                round(CASE WHEN nk.n_nodes >= 2 THEN
                  2.0 * CAST(COALESCE(ek.e_club, 0) AS DOUBLE)
                    / (CAST(nk.n_nodes AS DOUBLE)
                       * (CAST(nk.n_nodes AS DOUBLE) - 1.0)) END, 6) AS phi
         FROM nk LEFT JOIN ek ON nk.k = ek.k""") { (s, d) =>
      val pairs = Dedup.jaccardPairsFrom(
        Dedup.shingleSets(Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text"),
        "doc_id", 0.02).cache()
      Graph.richClub(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        Seq(1, 2, 4))
    },
  )
}
