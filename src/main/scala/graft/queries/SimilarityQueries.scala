package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity queries: exact and approximate nearest neighbours,
  * quantization, clustering, ranking evaluation and multimodal plumbing. */
object SimilarityQueries {

  /** Shared DuckDB CTE for the int8 quantizer (codes from the UNROUNDED
    * scale, rounded scale in the output) — ONE definition feeding both
    * int8 oracles so the quantizer contract cannot drift between them
    * (the Spark side is likewise shared via Similarity.quantizeInt8). */
  private val int8QuantCteSql: String =
    """v AS MATERIALIZED (
                 SELECT vec_id, round(scale, 6) AS scale,
                        CASE WHEN scale > 0
                          THEN list_transform(e,
                            x -> CAST(round(x / scale) AS INTEGER))
                          ELSE list_transform(e, x -> 0) END AS codes
                 FROM (SELECT vec_id, e,
                         list_max(list_transform(e, x -> abs(x))) / 127.0
                           AS scale
                       FROM (SELECT vec_id,
                               list_transform(embedding,
                                 x -> CAST(x AS DOUBLE)) AS e
                             FROM embeddings)))"""

  /** Shared JL plane matrix (16×64, deterministic xorshift seed 7) for
    * [[q_jl_distortion]] — generated once so the Spark projection and
    * the oracle's literal matrix are the same doubles. */
  private val jlPlanes: Seq[Seq[Double]] = Similarity.hyperplanes(16, 64, 7L)

  private val jlScale: Double = math.sqrt(3.0 / jlPlanes.length)

  /** Squared-L2 distance between 1-based slices of two DuckDB list
    * columns as the SAME left-associative addition chain the engine's
    * Similarity.subDist folds — bit-identical doubles. */
  private def pqDistSql(aVec: String, bVec: String,
                        off: Int, subDim: Int): String =
    (1 to subDim).map { i =>
      val x = s"(CAST($aVec[${off + i}] AS DOUBLE) - CAST($bVec[${off + i}] AS DOUBLE))"
      s"($x * $x)"
    }.reduceLeft((a, b) => s"($a + $b)")

  /** Generated oracle for q_pq_topk (and its broadcast-codebook twin at
    * nCodes=256): per-subspace argmin encode (QUALIFY row_number over
    * (dist, code) — the engine's array_min struct ordering) + ADC
    * re-derived by joining each row's code back to the codebook.
    * Codebooks are the vec_id<nCodes seed slices, rebuilt in SQL. */
  private def pqTopkOracleSql(nCodes: Int = 8): String = {
    val subDim = 16
    val assigns = (0 until 4).map { m =>
      s"""a$m AS (SELECT vec_id, code FROM (
                    SELECT e.vec_id, cb.code,
                           ${pqDistSql("e.embedding", "cb.embedding", m * subDim, subDim)} AS d
                    FROM embeddings e CROSS JOIN cb) t
                  QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY d ASC, code ASC) = 1)"""
    }.mkString(",\n")
    val adc = (0 until 4)
      .map(m => pqDistSql("q.qv", s"c$m.embedding", m * subDim, subDim))
      .reduceLeft((a, b) => s"($a + $b)")
    s"""WITH cb AS (SELECT vec_id AS code, embedding FROM embeddings
                    WHERE vec_id < $nCodes),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            $assigns
        SELECT e.vec_id,
               a0.code AS code_0, a1.code AS code_1,
               a2.code AS code_2, a3.code AS code_3,
               round($adc, 6) AS adc_dist
        FROM embeddings e
        JOIN a0 ON a0.vec_id = e.vec_id
        JOIN a1 ON a1.vec_id = e.vec_id
        JOIN a2 ON a2.vec_id = e.vec_id
        JOIN a3 ON a3.vec_id = e.vec_id
        JOIN cb c0 ON c0.code = a0.code
        JOIN cb c1 ON c1.code = a1.code
        JOIN cb c2 ON c2.code = a2.code
        JOIN cb c3 ON c3.code = a3.code
        CROSS JOIN q
        ORDER BY adc_dist ASC, e.vec_id ASC LIMIT 10"""
  }

  /** IVF top-10 oracle for query vec_id 0: `nCents` seed cells, the
    * `nprobe` cells nearest the query, exact cosine re-rank inside them.
    * q_ivf_topk uses 8 cells and nprobe 2; q_ivf_topk_bcast the 256-cell
    * codebook and nprobe 8 (same 1/32 scan fraction). */
  private def ivfTopkOracleSql(nCents: Int, nprobe: Int): String =
    s"""WITH ${centroidsSql(nCents)},
            qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
            $asgSql,
            probe AS (SELECT cent_id AS cell FROM (
               SELECT c.cent_id,
                      ROW_NUMBER() OVER (ORDER BY round(${duckCos("c.cv", "qv.q")}, 6) DESC,
                                         c.cent_id) AS rn
               FROM c, qv) WHERE rn <= $nprobe)
       SELECT vec_id, cell, round(${duckCos("asg.v", "qv.q")}, 6) AS cosine_sim
       FROM asg JOIN probe USING (cell), qv
       ORDER BY round(${duckCos("asg.v", "qv.q")}, 6) DESC, vec_id LIMIT 10"""

  /** Generated nprobe-sweep oracle: the q_ann_recall CTEs with the probe
    * width parameterized — shared truth (ex) and assignment (asg), one
    * probe/candidate/recall branch per nprobe, unioned with the nprobe
    * literal. */
  private def ivfNprobeSweepOracleSql(probes: Seq[Int]): String = {
    val branches = probes.map { np =>
      s"""${probedSql(s"p$np", np, s"ap$np", "query_id, vec_id", 10)},
           r$np AS (SELECT n.query_id, n.n_exact,
                           COALESCE(h.n_hits, 0) AS n_hits,
                           round(COALESCE(h.n_hits, 0) / n.n_exact, 6) AS recall,
                           $np AS nprobe
                    FROM n LEFT JOIN (SELECT x.query_id, count(*) AS n_hits
                                      FROM ex x JOIN ap$np a
                                        ON x.query_id = a.query_id
                                       AND x.vec_id = a.vec_id
                                      GROUP BY 1) h USING (query_id))"""
    }
    s"""WITH ${annBaseSql("query_id, vec_id", 10)},
            n AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
            ${branches.mkString(",\n")}
       ${probes.map(np => s"SELECT * FROM r$np").mkString("\n UNION ALL ")}"""
  }

  /** `e`, `c`, the vec_id < 5 queries `q`, their exact top-`k` list `ex`
    * (columns `cols` of query_id, vec_id, rn) and the cell assignment
    * `asg`: the truth side of the exact-vs-IVF evals. */
  private def annBaseSql(cols: String, k: Int): String =
    s"""${centroidsSql(8)},
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
            ${exactTopSql(cols, k)},
            $asgSql"""

  /** `ex`: each `q` query's exact cosine top-`k` over `e` (itself
    * excluded), as the columns `cols` of query_id, vec_id, rn. */
  private def exactTopSql(cols: String, k: Int): String =
    s"""ex AS (SELECT $cols FROM (
               SELECT q.query_id, e.vec_id,
                      ROW_NUMBER() OVER (PARTITION BY q.query_id
                        ORDER BY round(${duckCos("e.v", "q.qv")}, 6) DESC, e.vec_id) AS rn
               FROM q, e WHERE e.vec_id <> q.query_id) WHERE rn <= $k)"""

  /** `probe`: each query's `np` nearest cells, and `ap`: its IVF top-`k`
    * inside them (columns `cols` of query_id, vec_id, rn). */
  private def probedSql(probe: String, np: Int, ap: String, cols: String,
                        k: Int): String =
    s"""$probe AS (SELECT query_id, cell FROM (
               SELECT q.query_id, c.cent_id AS cell,
                      ROW_NUMBER() OVER (PARTITION BY q.query_id
                        ORDER BY round(${duckCos("c.cv", "q.qv")}, 6) DESC, c.cent_id) AS rn
               FROM q, c) WHERE rn <= $np),
           $ap AS (SELECT $cols FROM (
               SELECT p.query_id, a.vec_id,
                      ROW_NUMBER() OVER (PARTITION BY p.query_id
                        ORDER BY round(${duckCos("a.v", "q.qv")}, 6) DESC, a.vec_id) AS rn
               FROM $probe p JOIN asg a ON a.cell = p.cell
                           JOIN q ON q.query_id = p.query_id
               WHERE a.vec_id <> p.query_id) WHERE rn <= $k)"""

  /** Generated k-center oracle: the greedy selection unrolled into k-1
    * MATERIALIZED 1-row rounds (round r cross-joins all previously selected
    * 1-row CTEs and takes the max of the 6dp-rounded min cosine distance,
    * id tiebreak — exactly the engine's per-round argmax). MATERIALIZED is
    * load-bearing: each round references every earlier round, so the
    * non-materialized form inlines exponentially. */
  private def kcenterOracleSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val prev = "c1" +: (2 until r).map(i => s"s$i")
      val dists = prev.map(p => s"1.0 - ${duckCos("e.v", s"$p.v")}")
      val body =
        if (dists.size == 1) dists.head else s"least(${dists.mkString(", ")})"
      s"""s$r AS MATERIALIZED (
            SELECT e.vec_id, e.v, round($body, 6) AS d
            FROM e, ${prev.mkString(", ")}
            ORDER BY d DESC, e.vec_id ASC LIMIT 1)"""
    }
    val selects =
      s"SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1" +:
        (2 to k).map(r => s"SELECT CAST($r AS BIGINT), vec_id, d FROM s$r")
    s"""WITH e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
        ${rounds.mkString(",\n        ")}
        ${selects.mkString("\n        UNION ALL ")}"""
  }

  /** Generated MMR oracle: pool = top-`pool` by 6dp relevance, then k-1
    * unrolled MATERIALIZED greedy rounds. `(1 − λ)` is computed ONCE on
    * the driver and shipped as the same double literal the engine uses —
    * DuckDB would evaluate in-SQL `1.0 - 0.7` in exact DECIMAL (0.3),
    * which is NOT the double Scala computes (0.30000000000000004). */
  private def mmrOracleSql(pool: Int, k: Int, lambda: Double): String = {
    val omLambda =
      s"CAST(${new java.math.BigDecimal(1.0 - lambda).toPlainString} AS DOUBLE)"
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => s"m$i")
      val sims = prev.map(p => s"round(${duckCos("p.v", s"$p.v")}, 6)")
      val ms = if (sims.size == 1) sims.head
               else s"greatest(${sims.mkString(", ")})"
      val excl = prev.map(p => s"p.vec_id <> $p.vec_id").mkString(" AND ")
      s"""m$r AS MATERIALIZED (
            SELECT p.vec_id, p.v, p.rel,
                   round($lambda * p.rel - $omLambda * $ms, 6) AS sc
            FROM pool p, ${prev.mkString(", ")}
            WHERE $excl
            ORDER BY sc DESC, p.vec_id ASC LIMIT 1)"""
    }
    val selects =
      s"SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id, rel AS relevance, CAST(NULL AS DOUBLE) AS mmr_score FROM m1" +:
        (2 to k).map(r => s"SELECT CAST($r AS BIGINT), vec_id, rel, sc FROM m$r")
    s"""WITH e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qv AS MATERIALIZED (SELECT v AS q FROM e WHERE vec_id = 0),
        pool AS MATERIALIZED (
          SELECT e.vec_id, e.v, round(${duckCos("e.v", "qv.q")}, 6) AS rel
          FROM e, qv ORDER BY rel DESC, e.vec_id ASC LIMIT $pool),
        m1 AS MATERIALIZED (
          SELECT vec_id, v, rel FROM pool
          ORDER BY rel DESC, vec_id ASC LIMIT 1),
        ${rounds.mkString(",\n        ")}
        ${selects.mkString("\n        UNION ALL ")}"""
  }

  /** Shared oracle CTE chain for the exact-vs-IVF rank-list evals
    * (q_ndcg, q_rbo): `ex` / `ap` are the two top-k lists with ranks. */
  private def annListCtes(k: Int): String =
    s"""${annBaseSql("query_id, vec_id, rn", k)},
            ${probedSql("probe", 2, "ap", "query_id, vec_id, rn", k)}"""

  /** Generated NDCG oracle: the q_ann_recall exact/IVF CTEs with ranks
    * kept, then gain/discount CASE chains built from the SAME dyadic
    * constants as [[Similarity.ndcgDiscounts]] — every contribution is
    * an exact multiple of 2⁻²⁰, so the per-query sums match Spark's
    * bit-for-bit regardless of aggregation order. */
  private def ndcgOracleSql(k: Int): String = {
    val discs = operators.Similarity.ndcgDiscounts(k)
    def discCase(pos: String): String =
      s"CASE $pos " + (1 to k).map(i =>
        s"WHEN $i THEN CAST(${new java.math.BigDecimal(discs(i - 1)).toPlainString} AS DOUBLE)")
        .mkString(" ") + " END"
    def gainCase(rn: String): String =
      s"COALESCE(CASE $rn " + (1 to k).map(i =>
        s"WHEN $i THEN ${(1L << (k + 1 - i)) - 1}").mkString(" ") +
        " END, 0)"
    s"""WITH ${annListCtes(k)},
            g AS (SELECT a.query_id, a.rn AS pos,
                         ${gainCase("x.rn")} AS gain
                  FROM ap a LEFT JOIN ex x
                    ON a.query_id = x.query_id AND a.vec_id = x.vec_id),
            dc AS (SELECT query_id,
                          sum(gain * ${discCase("pos")}) AS dcg,
                          min(CASE WHEN gain > 0 THEN pos END) AS first_hit
                   FROM g GROUP BY 1),
            ic AS (SELECT query_id,
                          sum(${gainCase("rn")} * ${discCase("rn")}) AS idcg
                   FROM ex GROUP BY 1)
       SELECT d.query_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
              round(d.dcg / i.idcg, 6) AS ndcg,
              CAST(d.first_hit AS BIGINT) AS first_hit,
              round(1.0 / d.first_hit, 6) AS rr
       FROM dc d JOIN ic i USING (query_id)"""
  }

  /** Generated RBO oracle: matched items contribute the literal suffix
    * sum S(max(ra, rb)) — the same dyadic constants as
    * [[operators.Similarity.rboSuffixSums]] — and (1−p) arrives as the
    * driver-computed double literal (DuckDB's in-SQL `1.0 - 0.9` is exact
    * DECIMAL, not Spark's double). */
  private def rboOracleSql(k: Int, p: Double): String = {
    val sums = operators.Similarity.rboSuffixSums(k, p)
    val sCase = (1 to k).map(m =>
      s"WHEN $m THEN CAST(${new java.math.BigDecimal(sums(m - 1)).toPlainString} AS DOUBLE)")
      .mkString(" ")
    val omp = new java.math.BigDecimal(1.0 - p).toPlainString
    s"""WITH ${annListCtes(k)},
            m AS (SELECT a.query_id, greatest(x.rn, a.rn) AS m
                  FROM ap a JOIN ex x
                    ON a.query_id = x.query_id AND a.vec_id = x.vec_id)
       SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap,
              round(CAST($omp AS DOUBLE) * sum(CASE m $sCase END), 6) AS rbo
       FROM m GROUP BY query_id"""
  }

  /** Generated power-iteration oracle: the same centered covariance and
    * unrolled v ← C·v rounds. cov/cen/comp are MATERIALIZED — cov is
    * referenced by every round and DuckDB would otherwise inline (and
    * recompute) the n·d² aggregate once per reference (the q_kcore
    * exponential-CTE lesson); the round chain itself is linear. */
  private def powerIterOracleSql(rounds: Int): String = {
    val vrounds = (1 to rounds).map { r =>
      s"""v$r AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.v) AS v
            FROM cov c JOIN v${r - 1} v ON v.i = c.j GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                                FROM embeddings),
         comp AS MATERIALIZED (
           SELECT vec_id, u.i AS i, v[u.i] AS x
           FROM e, UNNEST(generate_series(1, len(v))) AS u(i)),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM e),
         mu AS MATERIALIZED (SELECT i, avg(x) AS m FROM comp GROUP BY 1),
         cen AS MATERIALIZED (SELECT c.vec_id, c.i, c.x - m.m AS xc
                              FROM comp c JOIN mu m ON m.i = c.i),
         cov0 AS (SELECT l.i AS i, r.i AS j, sum(l.xc * r.xc) AS s
                  FROM cen l JOIN cen r ON l.vec_id = r.vec_id
                  GROUP BY 1, 2),
         cov AS MATERIALIZED (SELECT i, j, s / nn AS c FROM cov0, n),
         v0 AS (SELECT i, 1.0 AS v FROM mu),
         $vrounds,
         cv AS (SELECT c.i, sum(c.c * v.v) AS w
                FROM cov c JOIN v$rounds v ON v.i = c.j GROUP BY 1),
         ray AS (SELECT sum(a.v * b.w) AS vw, sum(a.v * a.v) AS vv
                 FROM v$rounds a JOIN cv b ON a.i = b.i),
         nrm AS (SELECT sqrt(sum(v * v)) AS nn2 FROM v$rounds),
         tr AS (SELECT sum(c) AS t FROM cov WHERE i = j),
         sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sg
                 FROM v$rounds ORDER BY abs(v) DESC, i ASC LIMIT 1)
       SELECT a.i AS dim, round(sg * a.v / nn2, 6) AS loading,
              round(vw / vv / t, 6) AS explained_var
       FROM v$rounds a, nrm, sgn, ray, tr"""
  }

  /** DuckDB cosine between two DOUBLE[] expressions (same formula as the
    * engine's single-pass native expression). */
  private def duckCos(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** `e` (embeddings as DOUBLE[]) and `c`: the vec_id < `nCents` seed
    * centroids of the IVF oracles. */
  private def centroidsSql(nCents: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $nCents)"""

  /** `asg`: each `e` vector's nearest `c` cell (cosine, id tiebreak). */
  private def asgSql: String =
    s"""asg AS (SELECT vec_id, v, cent_id AS cell FROM (
           SELECT e.vec_id, e.v, c.cent_id,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cent_id) AS rn
           FROM e, c) WHERE rn = 1)"""

  /** `cellPairs`: same-`asg`-cell pairs with 6dp cosine ≥ 0.38 over the
    * 8 seed cells — the q_semantic_dedup / q_density_clusters graph, as
    * `pairs(id_a, id_b)` after a `WITH RECURSIVE`. */
  private def cellPairsSql: String =
    s"""WITH RECURSIVE
              ${centroidsSql(8)},
              $asgSql,
              pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                        FROM asg a JOIN asg b
                          ON a.cell = b.cell AND a.vec_id < b.vec_id
                        WHERE round(${duckCos("a.v", "b.v")}, 6) >= 0.38)"""

  /** `ids` and `cells`: the synthetic images' sizes and 8×8
    * nearest-neighbor sample cells, the aHash oracles' closed form. */
  private val imageCellsSql: String =
    """WITH ids AS (SELECT doc_id AS id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
                        CAST(8 + doc_id % 7 AS INTEGER) AS h
                      FROM documents),
              cells AS (SELECT id, w, h, cxs.cx, cys.cy,
                          (cx * w) // 8 AS sx, (cy * h) // 8 AS sy
                        FROM ids,
                             UNNEST(generate_series(0, 7)) AS cxs(cx),
                             UNNEST(generate_series(0, 7)) AS cys(cy)),"""

  /** The seed centroids (vec_id < 8) of the IVF queries' builds. */
  private def seedCentroids(emb: DataFrame): Seq[(Long, Seq[Double])] =
    Similarity.collectCentroids(
      emb.filter(col("vec_id") < 8), "vec_id", "embedding")

  /** The vec_id < 5 query vectors (`query_id`, `qv`) of the ANN evals. */
  private def annQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** The exact top-10 and the IVF (nprobe 2 of 8 cells) top-10 lists of
    * [[annQueries]]: the two inputs of q_ann_recall, q_ndcg and q_rbo. */
  private def exactVsIvf(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val cents = seedCentroids(emb)
    val queries = annQueries(emb)
    val exact = Similarity.bruteForceTopKMulti(
      emb, "vec_id", "embedding", queries, "query_id", "qv", 10)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val approx = Similarity.ivfTopKMulti(assigned, "vec_id", "embedding",
      cents, queries, "query_id", "qv", 10, 2)
    (exact, approx)
  }

  /** DuckDB expression computing the engine's hyperplane LSH bucket id of
    * a DOUBLE[] column `v` (plane literals from the same deterministic
    * generator the engine uses). */
  private def lshBucketSql(v: String): String = {
    val planes = Similarity.hyperplanes(6, 64)
    planes.zipWithIndex.map { case (p, i) =>
      val lit = "[" + p.map(_.toString).mkString(", ") + "]"
      s"(CASE WHEN list_dot_product($v, $lit) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Generated oracle for q_lsh_neardup: the engine's deterministic
    * hyperplanes are inlined as DOUBLE[] literals so DuckDB reproduces the
    * exact bucketing + re-rank. */
  private def lshNeardupOracleSql: String = {
    val bucket = lshBucketSql("v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             b AS (SELECT vec_id, v, $bucket AS bucket FROM e)
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round(${duckCos("a.v", "c.v")}, 6) AS cosine_sim
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE ${duckCos("a.v", "c.v")} >= 0.3"""
  }

  /** Generated oracle for q_lsh_topk: same plane literals; the query's
    * bucket is computed in SQL, candidates are its bucket-mates, re-ranked
    * by the 6dp-rounded cosine with id tiebreak. */
  private def lshTopkOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             qb AS (SELECT ${lshBucketSql("qv")} AS bucket FROM q),
             b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e)
        SELECT vec_id, round(${duckCos("b.v", "q.qv")}, 6) AS cosine_sim
        FROM b JOIN qb USING (bucket), q
        ORDER BY cosine_sim DESC, vec_id LIMIT 10"""

  /** Generated oracle for q_lsh_topk_mp: DuckDB independently re-derives
    * the multi-probe bucket set — base bucket from the plane-literal signs,
    * plus one-bit flips of the `probes-1` lowest-|dot| planes (the same
    * perturbation rule as Similarity.lshProbeBuckets) — then re-ranks the
    * union of those buckets. */
  private def lshTopkMpOracleSql: String = {
    val planes = Similarity.hyperplanes(6, 64)
    val planeValues = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(_.toString).mkString(", ")}])"
    }.mkString(",\n                 ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             planes(i, p) AS (SELECT * FROM (VALUES
                 $planeValues) t(i, p)),
             dots AS (SELECT i, list_dot_product(p, qv) AS d FROM planes, q),
             base AS (SELECT CAST(SUM(CASE WHEN d >= 0 THEN 1 << i ELSE 0 END)
                        AS INT) AS b FROM dots),
             flips AS (SELECT i FROM dots ORDER BY abs(d), i LIMIT 3),
             buckets AS (SELECT b AS bucket FROM base
                         UNION ALL
                         SELECT xor(b, 1 << i) FROM base, flips),
             vb AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM e)
        SELECT vec_id, round(${duckCos("vb.v", "q.qv")}, 6) AS cosine_sim
        FROM vb JOIN buckets USING (bucket), q
        ORDER BY cosine_sim DESC, vec_id LIMIT 10"""
  }

  val all: Seq[Q] = Seq(
    /** §2b simplified silhouette ([[Similarity.silhouetteSimplified]],
      * Rousseeuw '87 centroid variant) over the q_semantic_dedup cells:
      * per-cell mean (b − a)/max(a, b) in cosine distance — the
      * k-selection readout beside q_davies_bouldin, map-side at O(n·k). */
    Q("q_silhouette",
      s"""WITH ${centroidsSql(8)},
              scored AS (SELECT e.vec_id, c.cent_id,
                           ${duckCos("e.v", "c.cv")} AS cos,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY ${duckCos("e.v", "c.cv")} DESC,
                                      c.cent_id) AS rn
                         FROM e, c),
              ab AS (SELECT vec_id,
                       max(CASE WHEN rn = 1 THEN cent_id END) AS cell,
                       1.0 - max(CASE WHEN rn = 1 THEN cos END) AS a,
                       1.0 - max(CASE WHEN rn = 2 THEN cos END) AS b
                     FROM scored GROUP BY 1),
              sil AS (SELECT cell,
                        CASE WHEN greatest(a, b) > 0
                          THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
                      FROM ab)
         SELECT cell, CAST(count(*) AS BIGINT) AS n,
                round(avg(s), 6) AS mean_silhouette
         FROM sil GROUP BY 1""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      Similarity.silhouetteSimplified(emb, "vec_id", "embedding", cents)
    },

    /** §2b frame sampling over a character-addressed payload (multimodal
      * frame-extraction plumbing; every 4th 32-char frame, md5 fingerprint). */
    Q("q_frame_sample",
      """SELECT doc_id,
                CAST(ceil(length(text) / 32.0) AS BIGINT) AS n_frames,
                CAST(count(*) AS BIGINT) AS n_sampled,
                md5(string_agg(substring(text, CAST(i * 32 + 1 AS INT), 32),
                               '' ORDER BY i)) AS sample_md5
         FROM documents,
              UNNEST(generate_series(0, CAST(ceil(length(text) / 32.0) AS BIGINT) - 1))
                AS t(i)
         WHERE i % 4 = 0
         GROUP BY doc_id, text
         UNION ALL
         SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), md5('')
         FROM documents WHERE length(text) = 0""") { (s, d) =>
      Multimodal.frameSample(Tables.documents(s, d), "doc_id", "text", 32, 4)
    },

    /** §2b brute-force cosine top-k against the vec_id=0 query vector
      * (set-oriented: 1-row broadcast, no driver collect). */
    Q("q_cosine_topk",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
                round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                  / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
         FROM embeddings, q
         ORDER BY cosine_sim DESC, vec_id LIMIT 10""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.cosineSimilarity(col("embedding"), col("qv")), 6)
            .as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id").asc)
        .limit(10)
    },

    /** §2b exact near-dup pairs over a bounded id range (oracle for LSH). */
    Q("q_embedding_pairs",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 150)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
         FROM e a, e b
         WHERE a.vec_id < b.vec_id
           AND list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) >= 0.3""") { (s, d) =>
      Similarity.exactPairs(Tables.embeddings(s, d).filter(col("vec_id") < 150),
        "vec_id", "embedding", 0.3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
    },

    /** §2b LSH-bucketed ANN near-dup pairs — the 100 TB scale path. Rows-only
      * here; recall vs exact is asserted in SimilaritySpec. */
    Q("q_lsh_neardup", lshNeardupOracleSql) { (s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        Similarity.hyperplanes(6, 64), 0.3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
    },

    /** §2b IVF ANN top-k: coarse-quantize to 8 centroid cells (vec_id < 8 as
      * the deterministic centroid set), probe the 2 cells nearest the query,
      * exact re-rank inside them — the scan-fraction dial of a 100 TB ANN. */
    Q("q_ivf_topk",
      ivfTopkOracleSql(8, 2)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.ivfTopK(assigned, "vec_id", "embedding", cents,
        q, "qv", k = 10, nprobe = 2)
    },

    /** §2b IVF ANN at a PRODUCTION codebook size — 256 cells × 64 dims =
      * 16k terms, 8× past [[Similarity.LiteralTermLimit]] — so
      * [[Similarity.ivfAssignAuto]] dispatches to the broadcast-codebook
      * path: the centroid table rides a broadcast crossJoin as one
      * array-of-structs row and the argmax reads it from a COLUMN, keeping
      * generated code size constant in k (literal inlining at this k is
      * the measured JIT-variance / 64 KB-method-limit regime). nprobe=8
      * keeps the 1/32 scan fraction of the literal twin; assignment is
      * bit-identical to literal [[Similarity.ivfAssign]] (SimilaritySpec). */
    Q("q_ivf_topk_bcast", ivfTopkOracleSql(256, 8)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.collectCentroids(
        emb.filter(col("vec_id") < 256), "vec_id", "embedding")
      val assigned = Similarity.ivfAssignAuto(emb, "vec_id", "embedding", cents)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.ivfTopK(assigned, "vec_id", "embedding", cents,
        q, "qv", k = 10, nprobe = 8)
    },

    /** §2b k-means codebook training, one Lloyd iteration made auditable:
      * assign to the 8 seed centroids (vec_id < 8), per-(cell, dim) means in
      * long form. The full train loop just re-feeds these means as the next
      * centroid literals ([[Similarity.kmeansTrain]]). */
    Q("q_kmeans_step",
      s"""WITH ${centroidsSql(8)},
              $asgSql
         SELECT cell, t.pos, round(avg(v[t.pos + 1]), 6) AS c_val, count(*) AS n
         FROM asg, range(64) t(pos)
         GROUP BY cell, t.pos""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      Similarity.kmeansStep(emb, "vec_id", "embedding", cents)
        .select(col("cell"), col("pos").cast("long").as("pos"),
          round(col("c_val"), 6).as("c_val"), col("n"))
    },

    /** §2b IVF ANN with a TRAINED codebook: one Lloyd iteration refines the
      * 8 seed centroids, then the standard assign → probe-3-cells → exact
      * re-rank. The oracle unrolls the identical training step in SQL. */
    Q("q_ivf_trained",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
              asg0 AS (SELECT vec_id, v, cent_id AS cell FROM (
                 SELECT e.vec_id, e.v, c0.cent_id,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY ${duckCos("e.v", "c0.cv")} DESC, c0.cent_id) AS rn
                 FROM e, c0) WHERE rn = 1),
              m1 AS (SELECT cell, t.pos, avg(v[t.pos + 1]) AS cv
                     FROM asg0, range(64) t(pos) GROUP BY cell, t.pos),
              c1 AS (SELECT c0.cent_id,
                            COALESCE(l.cv, c0.cv) AS cv
                     FROM c0 LEFT JOIN
                          (SELECT cell, list(cv ORDER BY pos) AS cv
                           FROM m1 GROUP BY cell) l ON l.cell = c0.cent_id),
              qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
              asg1 AS (SELECT vec_id, v, cent_id AS cell FROM (
                 SELECT e.vec_id, e.v, c1.cent_id,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY ${duckCos("e.v", "c1.cv")} DESC, c1.cent_id) AS rn
                 FROM e, c1) WHERE rn = 1),
              probe AS (SELECT cent_id AS cell FROM (
                 SELECT c1.cent_id,
                        ROW_NUMBER() OVER (ORDER BY round(${duckCos("c1.cv", "qv.q")}, 6) DESC,
                                           c1.cent_id) AS rn
                 FROM c1, qv) WHERE rn <= 3)
         SELECT vec_id, cell, round(${duckCos("asg1.v", "qv.q")}, 6) AS cosine_sim
         FROM asg1 JOIN probe USING (cell), qv
         ORDER BY round(${duckCos("asg1.v", "qv.q")}, 6) DESC, vec_id LIMIT 10""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 8, iters = 1)
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.ivfTopK(assigned, "vec_id", "embedding", cents,
        q, "qv", k = 10, nprobe = 3)
    },

    /** §2b SemDeDup semantic dedup: IVF cells (vec_id < 8 centroids) →
      * within-cell cosine pairs ≥ 0.38 → connected components → canonical
      * survivors. (0.38 because the synthetic embeddings are spread — max
      * pairwise cosine ≈ 0.51; a real corpus runs this at ~0.95+.) */
    Q("q_semantic_dedup",
      s"""$cellPairsSql,
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION
                        SELECT id_b AS src, id_a AS dst FROM pairs),
              walk(id, lbl) AS (
                SELECT vec_id, vec_id FROM e
                UNION
                SELECT g.dst, w.lbl FROM walk w JOIN edges g ON w.id = g.src),
              cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         SELECT id AS vec_id, cluster, (id = cluster) AS is_canonical FROM cl""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.38)
    },

    /** §2b DBSCAN-style density clustering ([[Similarity.densityClusters]])
      * on the SAME IVF cells and 0.38 cosine radius as q_semantic_dedup,
      * minPts = 3: cores/borders/noise with deterministic lowest-core
      * border attachment — the blob-vs-bridge refinement of single-linkage
      * semantic dedup (the bridge point becomes noise, the chain breaks). */
    Q("q_density_clusters",
      s"""$cellPairsSql,
              sym AS (SELECT id_a AS id, id_b AS nb FROM pairs
                      UNION ALL SELECT id_b AS id, id_a AS nb FROM pairs),
              degs AS (SELECT id, CAST(count(*) AS BIGINT) AS n_neighbors
                       FROM sym GROUP BY 1),
              cores AS (SELECT id FROM degs WHERE n_neighbors >= 3),
              cgraph AS (SELECT id_a AS src, id_b AS dst FROM pairs
                         WHERE id_a IN (SELECT id FROM cores)
                           AND id_b IN (SELECT id FROM cores)
                         UNION
                         SELECT id_b AS src, id_a AS dst FROM pairs
                         WHERE id_a IN (SELECT id FROM cores)
                           AND id_b IN (SELECT id FROM cores)),
              walk(id, lbl) AS (
                SELECT id, id FROM cores
                UNION
                SELECT g.dst, w.lbl FROM walk w JOIN cgraph g ON w.id = g.src),
              ccl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
              border AS (SELECT s2.id, min(ccl.cluster) AS cluster
                         FROM sym s2
                         JOIN cores co ON s2.nb = co.id
                         JOIN ccl ON ccl.id = s2.nb
                         WHERE s2.id NOT IN (SELECT id FROM cores)
                         GROUP BY 1),
              lab AS (SELECT id, cluster, 'core' AS role FROM ccl
                      UNION ALL
                      SELECT id, cluster, 'border' AS role FROM border)
         SELECT emb.vec_id,
                COALESCE(degs.n_neighbors, 0) AS n_neighbors,
                COALESCE(lab.role, 'noise') AS role, lab.cluster
         FROM embeddings emb
         LEFT JOIN degs ON emb.vec_id = degs.id
         LEFT JOIN lab ON emb.vec_id = lab.id""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      Similarity.densityClusters(emb, "vec_id", "embedding", cents, 0.38,
        minPts = 3)
    },

    /** §2b per-label embedding centroid drift
      * ([[Similarity.centroidDrift]]): cosine between even-id and odd-id
      * slice centroids per label — the embedding-space drift monitor
      * (model-version skew shows here before any consumer metric moves).
      * Sum-represented centroids, labels×dim shuffle. */
    Q("q_centroid_drift",
      """WITH ex AS (SELECT label, vec_id % 2 AS s, i AS d,
                       CAST(embedding[i] AS DOUBLE) AS x
                     FROM embeddings,
                       UNNEST(generate_series(1, len(embedding))) AS u(i)),
              dims AS (SELECT label, d,
                         sum(CASE WHEN s = 0 THEN x END) AS sa,
                         sum(CASE WHEN s = 1 THEN x END) AS sb
                       FROM ex GROUP BY 1, 2),
              agg AS (SELECT label, sum(sa * sb) AS dot,
                        sum(sa * sa) AS qa, sum(sb * sb) AS qb
                      FROM dims GROUP BY 1),
              cnt AS (SELECT label,
                        count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_a,
                        count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_b
                      FROM embeddings GROUP BY 1)
         SELECT agg.label, cnt.n_a, cnt.n_b,
                CASE WHEN qa > 0 AND qb > 0 THEN
                  round(dot / (sqrt(qa) * sqrt(qb)), 6) END AS centroid_cos
         FROM agg JOIN cnt ON agg.label = cnt.label""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .withColumn("half", (col("vec_id") % 2).cast("int"))
      Similarity.centroidDrift(emb, "vec_id", "embedding", "label", "half")
    },

    /** §2b two-sample embedding MMD ([[Similarity.mmdTest]], Gretton
      * JMLR'12): linear + quadratic-kernel discrepancy between the
      * even/odd id slices via moment identities — covariance-rotation
      * drift that leaves means untouched shows in the quadratic term;
      * the n² pair sum never materializes. */
    Q("q_mmd",
      """WITH comp AS (SELECT vec_id, CAST(vec_id % 2 AS INTEGER) AS s, i,
                         CAST(embedding[i] AS DOUBLE) AS x
                       FROM embeddings,
                         UNNEST(generate_series(1, len(embedding))) AS u(i)),
              cnt AS (SELECT
                        count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_a,
                        count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_b
                      FROM embeddings),
              means AS (SELECT i,
                          avg(CASE WHEN s = 0 THEN x END) AS ma,
                          avg(CASE WHEN s = 1 THEN x END) AS mb
                        FROM comp GROUP BY 1),
              lin AS (SELECT sum((ma - mb) * (ma - mb)) AS l FROM means),
              mom AS (SELECT a.i AS i, b.i AS j,
                        avg(CASE WHEN a.s = 0 THEN a.x * b.x END) AS qa,
                        avg(CASE WHEN a.s = 1 THEN a.x * b.x END) AS qb
                      FROM comp a JOIN comp b ON a.vec_id = b.vec_id
                      GROUP BY 1, 2),
              quad AS (SELECT sum(qa * qa) AS eaa, sum(qb * qb) AS ebb,
                         sum(qa * qb) AS eab FROM mom)
         SELECT n_a, n_b, round(l, 6) AS mmd2_linear,
                round(eaa + ebb - 2.0 * eab, 6) AS mmd2_quad
         FROM cnt, lin, quad""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .withColumn("half", (col("vec_id") % 2).cast("int"))
      Similarity.mmdTest(emb, "vec_id", "embedding", "half")
    },

    /** §2b ANN quality evaluation: recall@10 of IVF (nprobe=2 of 8 cells)
      * against exact brute force, for query vectors vec_id < 5. */
    Q("q_ann_recall",
      s"""WITH ${annBaseSql("query_id, vec_id", 10)},
              ${probedSql("probe", 2, "ap", "query_id, vec_id", 10)},
              n AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
              h AS (SELECT x.query_id, count(*) AS n_hits
                    FROM ex x JOIN ap a
                      ON x.query_id = a.query_id AND x.vec_id = a.vec_id
                    GROUP BY 1)
         SELECT n.query_id, n.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
                round(COALESCE(h.n_hits, 0) / n.n_exact, 6) AS recall
         FROM n LEFT JOIN h USING (query_id)""") { (s, d) =>
      val (exact, approx) = exactVsIvf(s, d)
      Similarity.recallAtK(exact, approx, "query_id", "vec_id")
    },

    /** §2b IVF recall-vs-nprobe sweep — the IVF sibling of
      * q_lsh_calibration: recall@10 at nprobe ∈ {1,2,4,8} of 8 cells
      * against the SAME brute-force truth, per query. The curve this emits
      * (rising to recall 1.0 at nprobe = k, since probing every cell IS
      * brute force) is the pre-flight readout that picks the
      * recall/latency point BEFORE trusting an IVF config on a corpus.
      * Truth and assignment are cached once and shared by the four probe
      * branches (at corpus scale: persist, or the sweep re-scans 4×). */
    Q("q_ivf_nprobe_sweep",
      ivfNprobeSweepOracleSql(Seq(1, 2, 4, 8))) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      val queries = annQueries(emb)
      val exact = Similarity.bruteForceTopKMulti(
        emb, "vec_id", "embedding", queries, "query_id", "qv", 10).cache()
      val assigned =
        Similarity.ivfAssign(emb, "vec_id", "embedding", cents).cache()
      Seq(1, 2, 4, 8).map { np =>
        Similarity.recallAtK(exact,
          Similarity.ivfTopKMulti(assigned, "vec_id", "embedding", cents,
            queries, "query_id", "qv", 10, np),
          "query_id", "vec_id")
          .withColumn("nprobe", lit(np))
      }.reduce(_ unionByName _)
    },

    /** §2b mutual-nearest-neighbor pairs: exact top-1 within vec_id<100,
      * kept only when the match is reciprocal — the high-precision
      * alignment/dedup primitive (hubs fail mutuality). */
    Q("q_mutual_nn",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id < 100),
              t1 AS (SELECT query_id, vec_id AS nn, cs FROM (
                 SELECT q.vec_id AS query_id, e.vec_id,
                        round(${duckCos("e.v", "q.v")}, 6) AS cs,
                        ROW_NUMBER() OVER (PARTITION BY q.vec_id
                          ORDER BY round(${duckCos("e.v", "q.v")}, 6) DESC,
                                   e.vec_id) AS rn
                 FROM e q JOIN e ON e.vec_id <> q.vec_id) WHERE rn = 1)
         SELECT x.query_id AS id_a, x.nn AS id_b, x.cs AS cosine_sim
         FROM t1 x JOIN t1 y
           ON x.nn = y.query_id AND y.nn = x.query_id
         WHERE x.query_id < x.nn""") { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      val queries = emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))
      val top1 = Similarity.bruteForceTopKMulti(
        emb, "vec_id", "embedding", queries, "query_id", "qv", 1)
      Similarity.mutualNearestNeighbors(top1, "query_id", "vec_id",
        "cosine_sim")
    },

    /** §2b dominant principal direction + explained-variance share of the
      * embedding covariance — 8 unrolled power-iteration rounds entirely
      * in-plan ([[Similarity.powerIterationPCA]]), the whitening /
      * drop-dominant-direction pre-step. */
    Q("q_power_iteration", powerIterOracleSql(8)) { (s, d) =>
      Similarity.powerIterationPCA(Tables.embeddings(s, d), "vec_id",
        "embedding", 8)
    },

    /** §2b hard-negative mining (DPR recipe): per vec_id<10 anchor, the 5
      * most-similar vectors with a DIFFERENT label — the contrastive-
      * training batch builder ([[Similarity.hardNegatives]]). */
    Q("q_hard_negatives",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                     FROM embeddings),
              q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
                    FROM e WHERE vec_id < 10),
              s AS (SELECT q.query_id, e.vec_id, e.label,
                           round(${duckCos("e.v", "q.qv")}, 6) AS cosine_sim
                    FROM q JOIN e ON e.label <> q.qlabel),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, vec_id ASC) AS BIGINT) AS rnk
                    FROM s)
         SELECT query_id, vec_id, label, cosine_sim, rnk
         FROM r WHERE rnk <= 5""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val anchors = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        anchors, "query_id", "qv", "qlabel", 5)
    },

    /** §2b NDCG@10 + MRR ranking eval: same exact-vs-IVF setup as
      * q_ann_recall, but graded — rel = 11 − exact_rank, gain 2^rel−1,
      * dyadic-snapped discounts — so it reports WHERE the true neighbors
      * landed in the ANN list, not just how many survived. */
    Q("q_ndcg", ndcgOracleSql(10)) { (s, d) =>
      val (exact, approx) = exactVsIvf(s, d)
      Similarity.ndcgAtK(exact, approx, "query_id", "vec_id", "rnk", 10)
    },

    /** §2b Davies-Bouldin cluster quality: scatter / separation / worst-pair
      * DB ratio per populated cell of the vec_id<8 seed clustering — the
      * choose-k readout before an IVF or semantic-dedup build. */
    Q("q_davies_bouldin",
      s"""WITH ${centroidsSql(8)},
              asg AS (SELECT vec_id, cent_id, cosv FROM (
                 SELECT e.vec_id, c.cent_id, ${duckCos("e.v", "c.cv")} AS cosv,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY ${duckCos("e.v", "c.cv")} DESC, c.cent_id) AS rn
                 FROM e, c) WHERE rn = 1),
              sc AS (SELECT cent_id AS cell, CAST(count(*) AS BIGINT) AS n_members,
                            round(CAST(sum(CAST(round(1 - round(cosv, 6), 6)
                                               AS DECIMAL(18,6))) AS DOUBLE)
                                  / count(*), 6) AS scatter
                     FROM asg GROUP BY 1),
              m AS (SELECT i.cent_id AS cell, j.cent_id AS cell_j,
                           round(1 - round(${duckCos("i.cv", "j.cv")}, 6), 6) AS sep
                    FROM c i, c j WHERE i.cent_id <> j.cent_id),
              r AS (SELECT s.cell, s.n_members, s.scatter, m.cell_j,
                           round((s.scatter + t.scatter) / m.sep, 6) AS ratio
                    FROM sc s JOIN m ON m.cell = s.cell
                              JOIN sc t ON t.cell = m.cell_j)
         SELECT cell, n_members, scatter, cell_j AS worst_cell,
                ratio AS db_ratio
         FROM r
         QUALIFY ROW_NUMBER() OVER (PARTITION BY cell
                                    ORDER BY ratio DESC, cell_j ASC) = 1""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = seedCentroids(emb)
      Similarity.daviesBouldin(emb, "vec_id", "embedding", cents)
    },

    /** §2b RBO ranking-stability eval: top-weighted overlap of the IVF list
      * against the exact list with NO relevance judgments (p=0.9, k=10) —
      * the between-index-builds "how much did the ranking move" monitor. */
    Q("q_rbo", rboOracleSql(10, 0.9)) { (s, d) =>
      val (exact, approx) = exactVsIvf(s, d)
      Similarity.rboAtK(exact, approx, "query_id", "vec_id", "rnk", 10, 0.9)
    },

    /** §2b Matryoshka truncation eval: recall@10 of the 16-dim embedding
      * prefix against the full 64-dim exact ranking — how much retrieval
      * quality survives 4× dimensionality compression (MRL-style serving). */
    Q("q_matryoshka",
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
              ex AS (SELECT query_id, vec_id FROM (
                 SELECT q.query_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY round(${duckCos("e.v", "q.qv")}, 6) DESC, e.vec_id) AS rn
                 FROM q, e WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
              e16 AS (SELECT vec_id, v[1:16] AS v FROM e),
              q16 AS (SELECT query_id, qv[1:16] AS qv FROM q),
              ap AS (SELECT query_id, vec_id FROM (
                 SELECT q.query_id, e.vec_id,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY round(${duckCos("e.v", "q.qv")}, 6) DESC, e.vec_id) AS rn
                 FROM q16 q, e16 e WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
              n AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
                    FROM ex GROUP BY 1),
              h AS (SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_hits
                    FROM ex x JOIN ap a
                      ON x.query_id = a.query_id AND x.vec_id = a.vec_id
                    GROUP BY 1)
         SELECT n.query_id, n.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
                round(COALESCE(h.n_hits, 0) / CAST(n.n_exact AS DOUBLE), 6)
                  AS recall
         FROM n LEFT JOIN h USING (query_id)""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val exact = Similarity.bruteForceTopKMulti(
        emb, "vec_id", "embedding", queries, "query_id", "qv", 10)
      val emb16 = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val q16 = queries.select(col("query_id"),
        slice(col("qv"), 1, 16).as("qv"))
      val approx = Similarity.bruteForceTopKMulti(
        emb16, "vec_id", "embedding", q16, "query_id", "qv", 10)
      Similarity.recallAtK(exact, approx, "query_id", "vec_id")
    },

    /** §2b multimodal plumbing: opaque binary payload + typed metadata.
      * (Text bytes stand in for image bytes; decode itself is stubbed in
      * graft.operators.Multimodal — the Spark-side schema/batching is real.) */
    Q("q_multimodal_meta",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                substring(text, 1, 4) AS magic
         FROM documents""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          substring(col("text"), 1, 4).as("magic"))
    },

    /** §2b REAL image decode via `javax.imageio` (closes the r12 stub
      * gap): per document, a deterministic closed-form PNG fixture is
      * synthesized ([[graft.operators.Multimodal.synthImages]]), pushed
      * through the JDK's real PNG writer, then DECODED back with the
      * registered ImageIO reader — format, intrinsic dimensions and exact
      * per-channel sRGB means. PNG is lossless, so the decoded means must
      * reproduce the closed form bit-for-bit; the oracle computes them in
      * SQL with no codec at all (generate_series pixel grid). Scale
      * shape: two chained map-side partition batches, zero shuffles. */
    Q("q_image_decode",
      // Closed-form pixel grid: the oracle needs NO codec — PNG is
      // lossless so the engine's real ImageIO roundtrip must land on the
      // formula exactly (sums are exact ints; one double division each).
      """WITH ids AS (SELECT doc_id AS id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
                        CAST(8 + doc_id % 7 AS INTEGER) AS h
                      FROM documents),
              px AS (SELECT id, w, h, xs.x, ys.y
                     FROM ids,
                          UNNEST(generate_series(0, CAST(w - 1 AS BIGINT)))
                            AS xs(x),
                          UNNEST(generate_series(0, CAST(h - 1 AS BIGINT)))
                            AS ys(y))
         SELECT id AS asset_id, 'png' AS format, w AS width, h AS height,
                CAST(SUM((7*id + 3*x + 5*y) % 256) AS DOUBLE) / (w*h)
                  AS mean_r,
                CAST(SUM((11*id + 2*x + 7*y) % 256) AS DOUBLE) / (w*h)
                  AS mean_g,
                CAST(SUM((13*id + 4*x + y) % 256) AS DOUBLE) / (w*h)
                  AS mean_b
         FROM px GROUP BY 1, 2, 3, 4""") { (s, d) =>
      Multimodal.decodeImage(
        Multimodal.synthImages(Tables.documents(s, d), "doc_id", "png"))
        .select(col("asset_id"), col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    },

    /** §2b JPEG decode through the same real ImageIO boundary: lossy
      * codec, so the oracle pins the exact invariants (format name and
      * intrinsic dimensions survive any conformant JPEG roundtrip) while
      * channel-mean fidelity is spec-checked with a tolerance
      * (MultimodalSpec). */
    Q("q_image_decode_jpeg",
      // JPEG is lossy: the oracle pins what any conformant codec
      // preserves (format, intrinsic dimensions).
      """SELECT doc_id AS asset_id, 'jpeg' AS format,
                CAST(8 + doc_id % 9 AS INTEGER) AS width,
                CAST(8 + doc_id % 7 AS INTEGER) AS height
         FROM documents""") { (s, d) =>
      Multimodal.decodeImage(
        Multimodal.synthImages(Tables.documents(s, d), "doc_id", "jpg"))
        .select(col("asset_id"), col("format"), col("width"), col("height"))
    },

    /** §2b image near-duplicate detection over the REAL codec path — the
      * multimodal leg of the dedup stack, end-to-end: each document yields
      * an original PNG and a re-exposed copy (+4 clamped brightness,
      * [[graft.operators.Multimodal.synthImages]]'s closed-form knob), both
      * decoded with real ImageIO, aHashed, and compared with the codegen'd
      * bit_count(xor) Hamming distance — near-dup iff ≤ 8 of 64 bits
      * differ. The oracle recomputes BOTH hashes from the closed form (the
      * brightened twin via LEAST(255, ·+4)) with no codec. Map-side
      * everywhere; the pair join is per-document (id = id), never a
      * blocking fan-out. */
    Q("q_image_neardup",
      // Both aHashes from the closed form (brightened twin via
      // LEAST(255, .+4)); hamming = bit_count(xor) over the two halves.
      imageCellsSql + """
              luma AS (SELECT id, cy*8 + cx AS bit,
                         (299*((7*id + 3*sx + 5*sy) % 256)
                          + 587*((11*id + 2*sx + 7*sy) % 256)
                          + 114*((13*id + 4*sx + sy) % 256)) // 1000 AS la,
                         (299*least(255, (7*id + 3*sx + 5*sy) % 256 + 4)
                          + 587*least(255, (11*id + 2*sx + 7*sy) % 256 + 4)
                          + 114*least(255, (13*id + 4*sx + sy) % 256 + 4))
                           // 1000 AS lb
                       FROM cells),
              m AS (SELECT id, CAST(SUM(la) // 64 AS BIGINT) AS ma,
                           CAST(SUM(lb) // 64 AS BIGINT) AS mb
                    FROM luma GROUP BY 1),
              hsh AS (SELECT luma.id,
                        CAST(SUM(CASE WHEN la > ma AND bit >= 32
                          THEN CAST(1 AS BIGINT) << CAST(bit - 32 AS INTEGER)
                          ELSE 0 END) AS BIGINT) AS ha_hi,
                        CAST(SUM(CASE WHEN la > ma AND bit < 32
                          THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                          ELSE 0 END) AS BIGINT) AS ha_lo,
                        CAST(SUM(CASE WHEN lb > mb AND bit >= 32
                          THEN CAST(1 AS BIGINT) << CAST(bit - 32 AS INTEGER)
                          ELSE 0 END) AS BIGINT) AS hb_hi,
                        CAST(SUM(CASE WHEN lb > mb AND bit < 32
                          THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                          ELSE 0 END) AS BIGINT) AS hb_lo
                      FROM luma JOIN m ON m.id = luma.id GROUP BY 1)
         SELECT id AS doc_id,
                CAST(bit_count(xor(ha_hi, hb_hi))
                  + bit_count(xor(ha_lo, hb_lo)) AS BIGINT) AS hamming,
                (bit_count(xor(ha_hi, hb_hi))
                  + bit_count(xor(ha_lo, hb_lo))) <= 8 AS is_near_dup
         FROM hsh""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val orig = Multimodal.aHashImage(
        Multimodal.synthImages(docs, "doc_id", "png"))
        .select(col("asset_id").as("doc_id"), col("ahash").as("__ha"))
      val bright = Multimodal.aHashImage(
        Multimodal.synthImages(docs, "doc_id", "png", brighten = 4))
        .select(col("asset_id").as("doc_id"), col("ahash").as("__hb"))
      orig.join(bright, Seq("doc_id"))
        .select(col("doc_id"),
          bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long")
            .as("hamming"))
        .withColumn("is_near_dup", col("hamming") <= 8)
    },

    /** §2b perceptual average-hash over the REAL PNG decode
      * ([[graft.operators.Multimodal.aHashImage]]), emitted as unsigned
      * 32-bit halves so both engines carry exact BIGINTs (no signed-bit-63
      * convention to disagree on). Map-side only. */
    Q("q_image_ahash",
      // aHash from the same closed form: 8x8 nearest-neighbor cells,
      // integer Rec.601 luma, integer mean, unsigned 32-bit halves.
      imageCellsSql + """
              luma AS (SELECT id, cy*8 + cx AS bit,
                         (299*((7*id + 3*sx + 5*sy) % 256)
                          + 587*((11*id + 2*sx + 7*sy) % 256)
                          + 114*((13*id + 4*sx + sy) % 256)) // 1000 AS l
                       FROM cells),
              m AS (SELECT id, CAST(SUM(l) // 64 AS BIGINT) AS mn
                    FROM luma GROUP BY 1)
         SELECT luma.id AS asset_id,
                CAST(SUM(CASE WHEN l > mn AND bit >= 32
                  THEN CAST(1 AS BIGINT) << CAST(bit - 32 AS INTEGER)
                  ELSE 0 END) AS BIGINT) AS ahash_hi,
                CAST(SUM(CASE WHEN l > mn AND bit < 32
                  THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                  ELSE 0 END) AS BIGINT) AS ahash_lo
         FROM luma JOIN m ON m.id = luma.id GROUP BY 1""") { (s, d) =>
      Multimodal.aHashImage(
        Multimodal.synthImages(Tables.documents(s, d), "doc_id", "png"))
        .select(col("asset_id"),
          expr("shiftrightunsigned(ahash, 32)").as("ahash_hi"),
          col("ahash").bitwiseAND(lit(0xffffffffL)).as("ahash_lo"))
    },

    /** §2b LSH ANN top-k: probe only the query's hyperplane bucket, exact
      * re-rank inside it (single-probe; the collected 1-row query vector is
      * the legitimate tiny-collect, like the centroid table). */
    Q("q_lsh_topk", lshTopkOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .limit(1).collect().headOption
        .getOrElse(sys.error(
          s"q_lsh_topk: embeddings at $d must contain query vector vec_id=0"))
        .getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.lshTopK(emb, "vec_id", "embedding", qv, 10,
        Similarity.hyperplanes(6, 64))
    },

    /** §2b multi-probe LSH ANN top-k: the query's bucket plus the 3 buckets
      * across its lowest-margin hyperplanes (Similarity.lshProbeBuckets) —
      * recovers neighbors a near-zero-margin plane split away at ~4/2^6 of
      * the corpus scanned. Same tiny-collect for the query vector. */
    Q("q_lsh_topk_mp", lshTopkMpOracleSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .limit(1).collect().headOption
        .getOrElse(sys.error(
          s"q_lsh_topk_mp: embeddings at $d must contain query vector vec_id=0"))
        .getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.lshTopK(emb, "vec_id", "embedding", qv, 10,
        Similarity.hyperplanes(6, 64), probes = 4)
    },

    /** §2b product-quantization ANN: 64 dims → 4 subspaces × 8 codes
      * (codebooks sliced from the same vec_id<8 seeds the IVF family uses,
      * so the oracle rebuilds them in SQL), then ADC top-10 against the
      * vec_id=0 query — per-row scoring is 4 lookups + 3 adds regardless of
      * dimension. Codes are in the output, so the oracle checks the encode
      * step per subspace, not just the ranking. */
    Q("q_pq_topk", pqTopkOracleSql()) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val seeds = seedCentroids(emb)
      val codebooks = Similarity.sliceCodebooks(seeds, nSub = 4)
      val assigned = Similarity.pqAssign(emb, "vec_id", "embedding", codebooks)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.pqTopK(assigned, "vec_id", codebooks, q, "qv", k = 10)
    },

    /** §2b product quantization at a PRODUCTION codebook size — 4 subspaces
      * × 256 codes × 16 dims = 16k terms — through the broadcast-codebook
      * encode ([[Similarity.pqAssignBroadcast]]) and the table-built ADC
      * LUT ([[Similarity.pqTopKBroadcast]]): the query×codebook distances
      * are nSub×ksub tiny rows, so nothing JIT-compiles per codebook entry
      * (the literal twin's measured 2.7→9.3 s variance regime). Bit-
      * identical to the literal path at equal codebooks (SimilaritySpec). */
    Q("q_pq_topk_bcast", pqTopkOracleSql(nCodes = 256)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val seeds = Similarity.collectCentroids(
        emb.filter(col("vec_id") < 256), "vec_id", "embedding")
      val codebooks = Similarity.sliceCodebooks(seeds, nSub = 4)
      val cbT = Similarity.codebooksAsTable(s, codebooks)
      val assigned = Similarity.pqAssignBroadcast(emb, "vec_id", "embedding",
        cbT, nSub = 4, subDim = 16)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.pqTopKBroadcast(assigned, "vec_id", cbT, q, "qv",
        k = 10, subDim = 16)
    },

    /** §2b pairs-free class cohesion: mean intra-label pairwise cosine via
      * the ‖Σu‖²−n identity — two aggregates, the pair count never appears
      * in the plan; the embedding-collapse monitor. */
    Q("q_class_cohesion",
      """WITH nrm AS (SELECT label, vec_id, embedding,
                             sqrt(list_dot_product(embedding, embedding)) AS nn
                      FROM embeddings
                      WHERE sqrt(list_dot_product(embedding, embedding)) > 0),
              u AS (SELECT label, CAST(i AS BIGINT) AS pos,
                           CAST(embedding[i] AS DOUBLE) / nn AS uv
                    FROM nrm,
                         UNNEST(generate_series(1, len(embedding))) AS t(i)),
              cnt AS (SELECT label, COUNT(*) AS n FROM nrm GROUP BY 1),
              s AS (SELECT label, pos, SUM(uv) AS sv FROM u GROUP BY 1, 2),
              ss AS (SELECT label, SUM(sv * sv) AS ss FROM s GROUP BY 1)
         SELECT cnt.label, cnt.n,
                round(CASE WHEN cnt.n > 1
                  THEN (ss.ss - cnt.n) / (cnt.n * (cnt.n - 1)) END, 6)
                  AS cohesion
         FROM cnt JOIN ss USING (label)""") { (s, d) =>
      Similarity.intraClassCohesion(Tables.embeddings(s, d),
        "label", "embedding")
    },

    /** §2b int8 embedding quantization: absmax scalar quantization of the
      * embeddings table — pure map-side array projection (runs at read
      * bandwidth at any scale); error columns are the acceptance readout.
      * The raw array<int> `codes` column is projected to an md5 digest +
      * length for the harness (the driver's pandas canonicalizer cannot
      * sort raw arrays — round-6 red); the digest still pins every code
      * byte-for-byte, and q_int8_topk / q_int8_recall exercise the raw
      * codes end-to-end. */
    Q("q_quantize_int8",
      """WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
              s AS (SELECT vec_id, e,
                      list_max(list_transform(e, x -> abs(x))) / 127.0
                        AS scale
                    FROM v),
              q AS (SELECT vec_id, scale,
                      CASE WHEN scale > 0
                        THEN list_transform(e,
                          x -> CAST(round(x / scale) AS INTEGER))
                        ELSE list_transform(e, x -> 0) END AS codes,
                      CASE WHEN scale > 0
                        THEN list_transform(e,
                          x -> abs(x - round(x / scale) * scale))
                        ELSE list_transform(e, x -> 0.0) END AS errs
                    FROM s)
         SELECT vec_id, round(scale, 6) AS scale,
                md5(array_to_string(
                  list_transform(codes, x -> CAST(x AS VARCHAR)), ','))
                  AS codes_md5,
                len(codes) AS dim,
                round(list_max(errs), 6) AS max_abs_err,
                round(list_sum(list_transform(errs, x -> x * x))
                  / len(errs), 6) AS mse
         FROM q""") { (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          md5(concat_ws(",", transform(col("codes"), c => c.cast("string"))))
            .as("codes_md5"),
          size(col("codes")).cast("long").as("dim"),
          col("max_abs_err"), col("mse"))
    },

    /** §2b int8 MIPS top-k: inner-product search ON the quantized codes
      * (integer MACs + one float multiply per row) against the vec_id=0
      * query — the search path that justifies storing int8; map-side
      * scoring + TakeOrdered, zero shuffle. */
    Q("q_int8_topk",
      s"""WITH $int8QuantCteSql,
              qv AS (SELECT scale AS qs, codes AS qc FROM v
                     WHERE vec_id = 0)
         SELECT vec_id,
                round(scale * qs * CAST(ds AS DOUBLE), 6) AS approx_dot
         FROM (SELECT vec_id, scale, qs,
                 list_sum(list_transform(generate_series(1, len(codes)),
                   i -> CAST(codes[i] AS BIGINT) * qc[i])) AS ds
               FROM v, qv WHERE vec_id <> 0)
         ORDER BY approx_dot DESC, vec_id ASC LIMIT 10""") { (s, d) =>
      Similarity.int8TopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 10)
    },

    /** §2b 1-bit embedding quantization ([[Similarity.binarize]]): sign
      * bits packed into two exact 32-bit words per 64-dim vector (32×
      * smaller than float32 — the first-pass scan format), plus the set-bit
      * density whose corpus mean ≈ dim/2 is the centered-embedding sanity
      * readout. Pure map-side integer arithmetic — zero shuffle. */
    Q("q_binary_quantize",
      """WITH b AS (SELECT vec_id,
                      CAST(list_sum(list_transform(generate_series(0, 31), i -> CASE WHEN embedding[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
                      CAST(list_sum(list_transform(generate_series(0, 31), i -> CASE WHEN embedding[i + 33] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
                    FROM embeddings)
         SELECT vec_id, w0, w1,
                CAST(bit_count(w0) + bit_count(w1) AS BIGINT) AS n_set
         FROM b""") { (s, d) =>
      Similarity.binarize(Tables.embeddings(s, d), "vec_id", "embedding", 64)
        .select(col("vec_id"),
          element_at(col("bits"), 1).as("w0"),
          element_at(col("bits"), 2).as("w1"),
          (bit_count(element_at(col("bits"), 1)) +
            bit_count(element_at(col("bits"), 2))).cast("long").as("n_set"))
    },

    /** §2b binary-quantization retrieval ([[Similarity.hammingTopK]]):
      * XOR+popcount Hamming scan over the packed bits (integer-exact,
      * memory-bandwidth bound) keeps a 50-candidate pool, exact float dot
      * rerank returns the top 10 — the two-stage loop that makes 1-bit
      * storage competitive in recall. Map-side + TakeOrdered twice. */
    Q("q_hamming_topk",
      """WITH b AS (SELECT vec_id, embedding,
                      CAST(list_sum(list_transform(generate_series(0, 31), i -> CASE WHEN embedding[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
                      CAST(list_sum(list_transform(generate_series(0, 31), i -> CASE WHEN embedding[i + 33] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
                    FROM embeddings),
              q AS (SELECT w0 AS qw0, w1 AS qw1, embedding AS qe
                    FROM b WHERE vec_id = 0),
              h AS (SELECT vec_id, embedding,
                      CAST(bit_count(xor(w0, qw0)) + bit_count(xor(w1, qw1))
                        AS BIGINT) AS hamming
                    FROM b, q WHERE vec_id <> 0),
              cand AS (SELECT vec_id, embedding, hamming FROM h
                       ORDER BY hamming ASC, vec_id ASC LIMIT 50)
         SELECT c.vec_id, c.hamming,
                round(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))), 6)
                  AS exact_dot
         FROM cand c, q
         ORDER BY exact_dot DESC, vec_id ASC
         LIMIT 10""") { (s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, queryId = 0L, k = 10, rerankPool = 50)
    },

    /** §2b quantization-loss eval: recall@10 of the int8 MIPS ranking
      * against the exact float inner-product ranking for the same query —
      * the acceptance readout that decides whether 4× compression costs
      * any retrieval quality on this corpus. */
    Q("q_int8_recall",
      s"""WITH $int8QuantCteSql,
              qv AS (SELECT scale AS qs, codes AS qc FROM v
                     WHERE vec_id = 0),
              approx AS (SELECT vec_id FROM (
                           SELECT vec_id,
                                  round(scale * qs * CAST(ds AS DOUBLE), 6)
                                    AS approx_dot
                           FROM (SELECT vec_id, scale, qs,
                                   list_sum(list_transform(
                                     generate_series(1, len(codes)),
                                     i -> CAST(codes[i] AS BIGINT) * qc[i]))
                                     AS ds
                                 FROM v, qv WHERE vec_id <> 0))
                         ORDER BY approx_dot DESC, vec_id ASC LIMIT 10),
              eq AS (SELECT CAST(embedding AS DOUBLE[]) AS qd
                     FROM embeddings WHERE vec_id = 0),
              ex AS (SELECT vec_id FROM (
                       SELECT vec_id,
                              round(list_dot_product(
                                CAST(embedding AS DOUBLE[]), qd), 6) AS dot
                       FROM embeddings, eq WHERE vec_id <> 0)
                     ORDER BY dot DESC, vec_id ASC LIMIT 10),
              hits AS (SELECT count(*) AS n_hits
                       FROM ex JOIN approx USING (vec_id))
         SELECT CAST(0 AS BIGINT) AS query_id, CAST(10 AS BIGINT) AS n_exact,
                CAST(n_hits AS BIGINT) AS n_hits,
                round(CAST(n_hits AS DOUBLE) / 10.0, 6) AS recall
         FROM hits""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.dotProduct(col("embedding"), col("qv")), 6)
            .as("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc).limit(10)
        .select(lit(0L).as("query_id"), col("vec_id"))
      val approx = Similarity
        .int8TopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
        .select(lit(0L).as("query_id"), col("vec_id"))
      Similarity.recallAtK(exact, approx, "query_id", "vec_id")
    },

    /** §2b Johnson–Lindenstrauss distortion audit: project 64→16 dims and
      * report per-pair distance ratios over a bounded id range — the
      * (1±ε) readout that licenses indexing the projected vectors instead
      * of the wide ones. Projection is map-side with the plane matrix as
      * literals; the pair join is the documented bounded-input oracle
      * primitive. */
    Q("q_jl_distortion",
      s"""WITH pl AS (SELECT ${jlPlanes.map(p =>
                "[" + p.map(_.toString).mkString(", ") + "]")
                .mkString("[", ", ", "]")} AS p),
              e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings WHERE vec_id < 40),
              pr AS MATERIALIZED (
                    SELECT vec_id, v,
                      list_transform(generate_series(1, 16),
                        j -> list_sum(list_transform(generate_series(1, 64),
                               i -> v[i] * p[j][i])) * $jlScale) AS proj
                    FROM e, pl),
              d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      sqrt(list_sum(list_transform(generate_series(1, 64),
                        i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))))
                        AS dorig,
                      sqrt(list_sum(list_transform(generate_series(1, 16),
                        i -> (a.proj[i] - b.proj[i])
                           * (a.proj[i] - b.proj[i])))) AS dproj
                    FROM pr a JOIN pr b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(dorig, 6) AS dist_orig,
                round(dproj, 6) AS dist_proj,
                round(CASE WHEN dorig > 0 THEN dproj / dorig END, 6)
                  AS ratio
         FROM d""") { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 40)
      val proj = Similarity.randomProject(emb, "vec_id", "embedding", jlPlanes)
      val joined = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .join(proj, "vec_id")
      val a = joined.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("proj").as("pa"))
      val b = joined.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("proj").as("pb"))
      def dist(x: Column, y: Column) = sqrt(aggregate(
        zip_with(x, y, (u, w) => (u - w) * (u - w)), lit(0.0),
        (acc, t) => acc + t))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(dist(col("va"), col("vb")), 6).as("dist_orig"),
          round(dist(col("pa"), col("pb")), 6).as("dist_proj"),
          round(when(dist(col("va"), col("vb")) > 0,
            dist(col("pa"), col("pb")) / dist(col("va"), col("vb"))), 6)
            .as("ratio"))
    },

    /** §2b MMR diversified re-rank: top-20 cosine pool for query vec_id=0,
      * greedily ordered by λ·relevance − (1−λ)·max-sim-to-selected (λ=0.7,
      * k=10) — the redundancy-aware retrieval step. Oracle = unrolled
      * MATERIALIZED greedy rounds over the same pool. */
    Q("q_mmr_rerank", mmrOracleSql(20, 10, 0.7)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .limit(1).collect().headOption
        .getOrElse(sys.error(
          s"q_mmr_rerank: embeddings at $d must contain query vector vec_id=0"))
        .getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.mmrRerank(emb, "vec_id", "embedding", qv,
        poolSize = 20, k = 10, lambda = 0.7)
    },

    /** §2b diversity coreset: greedy k-center (farthest-point) selection of 8
      * maximally-spread exemplars from the embedding table; radius column =
      * covering-distance bound at each pick. Oracle = 7 unrolled MATERIALIZED
      * selection rounds. */
    Q("q_kcenter", kcenterOracleSql(8)) { (s, d) =>
      Similarity.kCenterSelect(Tables.embeddings(s, d), "vec_id", "embedding", 8)
    },

    /** §2b TwoNN intrinsic-dimension estimate of the embedding column over
      * the same bounded brute-force id range as q_embedding_pairs — the
      * "how many dims does this space actually use" readout that prices
      * the matryoshka/quantization trade. */
    Q("q_twonn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 150),
              d AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                      list_dot_product(a.v, a.v)
                        + list_dot_product(b.v, b.v)
                        - 2.0 * list_dot_product(a.v, b.v) AS d2
                    FROM e a JOIN e b ON a.vec_id <> b.vec_id),
              r AS (SELECT ia, d2,
                      ROW_NUMBER() OVER (PARTITION BY ia
                        ORDER BY d2 ASC, ib ASC) AS rn
                    FROM d),
              nn AS (SELECT ia,
                       min(CASE WHEN rn = 1 THEN d2 END) AS d1,
                       min(CASE WHEN rn = 2 THEN d2 END) AS dd2
                     FROM r WHERE rn <= 2 GROUP BY 1),
              agg AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                        CAST(sum(CASE WHEN d1 > 0.0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_used,
                        sum(CASE WHEN d1 > 0.0 THEN ln(dd2 / d1) END)
                          AS slog
                      FROM nn)
         SELECT n_points, n_used,
                round(CASE WHEN slog > 0.0
                  THEN 2.0 * CAST(n_used AS DOUBLE) / slog END, 6)
                  AS intrinsic_dim
         FROM agg""") { (s, d) =>
      Similarity.twoNN(Tables.embeddings(s, d).filter(col("vec_id") < 150),
        "vec_id", "embedding")
    },
  )
}
