package graft
package queries

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph queries: PageRank, HITS, personalized PageRank, label
  * propagation, k-core, k-truss, triangles and near-dup-graph metrics. */
object GraphQueries {
  import Shared._

  /** DIRECTED part→supplier purchase edges from lineitem, LONG-id encoded
    * for the float-rank families (r13 sf10 probe: every pageRank/HITS round
    * was shuffling BUILT STRINGS): parts ↦ 2·pk, suppliers ↦ 2·sk+1 — injective into
    * disjoint even/odd spaces, so the iteration loop joins and
    * aggregates 8-byte longs and the ids decode to the pinned
    * "p…"/"s…" strings only at the |V|-row output
    * ([[decodeGraphId]]). q_label_prop additionally needs the min-label
    * tie-break over the STRING id ordering, which this even/odd long
    * encoding does NOT preserve — it layers the order-isomorphic
    * digit-string embedding on top (see q_label_prop). */
  private def partSupplierPairsLong(s: SparkSession, d: String): DataFrame =
    // widen on the distinct key BEFORE the distinct (r15, guide §2.5 +
    // §2.4): the repartition's exchange is hash-compatible with the
    // aggregate, so the distinct runs wide with NO extra shuffle — the
    // single-row-group scan otherwise runs the partial agg in one task
    graft.operators.FanOut.widen(
        Tables.lineitem(s, d)
          .select(col("l_partkey").as("__pk"), col("l_suppkey").as("__sk")),
        col("__pk"), col("__sk"))
      .distinct()
      .select((col("__pk") * 2).as("src"), (col("__sk") * 2 + 1).as("dst"))

  private def decodeGraphId(c: Column): Column =
    when(c % 2 === 0,
      concat(lit("p"), shiftright(c, 1).cast("string")))
      .otherwise(concat(lit("s"), shiftright(c, 1).cast("string")))

  /** DuckDB oracle for [[q_kcore]]: `rounds` unrolled peel rounds over
    * the same thinned edge set — each round is one degree aggregate +
    * an induced-subgraph join, and rounds past the fixpoint are no-ops.
    * Every CTE is MATERIALIZED: each e/n level is referenced twice, and
    * DuckDB's default inlining would otherwise expand the chain to 2^R
    * copies of the base join (measured: minutes instead of
    * milliseconds). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val base =
      s"""pp AS MATERIALIZED (
                 SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                 FROM lineitem a JOIN lineitem b
                   ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey),
          th AS MATERIALIZED (
                 SELECT x, y FROM pp
                 WHERE CAST(('0x' || substring(md5('kcore:'
                     || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)),
                     1, 8)) AS BIGINT) / 4294967296.0 < 0.07),
          e0 AS MATERIALIZED (
                 SELECT x AS src, y AS dst FROM th
                 UNION SELECT y, x FROM th)"""
    val peel = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (
                  SELECT src AS id, count(*) AS degree FROM e${i - 1}
                  GROUP BY src HAVING count(*) >= $k),
          e$i AS MATERIALIZED (
                  SELECT e.src, e.dst FROM e${i - 1} e
                  JOIN n$i a ON e.src = a.id
                  JOIN n$i b ON e.dst = b.id)"""
    }.mkString(",\n          ")
    // self-checking: if the unroll did NOT reach the fixpoint (a deeper-
    // peeling fixture or a changed thinning constant), emit a poison row
    // no Spark run can produce — the compare then fails attributably to
    // unroll depth, not to some phantom portability bug
    s"WITH $base,\n          $peel\n" +
      s"   SELECT id, CAST(degree AS BIGINT) AS degree FROM n$rounds\n" +
      s"   UNION ALL\n" +
      s"   SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)\n" +
      s"   WHERE (SELECT count(*) FROM n$rounds)\n" +
      s"      <> (SELECT count(*) FROM n${rounds - 1})"
  }

  /** `ep`: the distinct part → supplier edges of lineitem. */
  private val partSupplierEpSql: String =
    """ep AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                         's' || CAST(l_suppkey AS VARCHAR) AS dst
                  FROM lineitem)"""

  /** Generated oracle for q_pagerank: the engine's 3 fixed iterations
    * unrolled as CTEs ([[Shared.uniformPageRankSql]]). */
  private def pageRankOracleSql: String =
    s"""WITH $partSupplierEpSql, $uniformPageRankSql
        SELECT id, round(rank, 9) AS rank FROM r3"""

  /** Generated oracle for q_ppr: personalized PageRank's 3 iterations
    * unrolled; the teleport column is built with the same left join +
    * coalesce/|S| division the engine computes, and (1 − 0.85) is spelled
    * as the same subtraction. */
  private def pprOracleSql: String =
    s"""WITH $partSupplierEpSql, $undirectedEdgesSql,
            nodes AS (SELECT DISTINCT src AS id FROM e),
            seeds AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS id
                      FROM lineitem WHERE l_suppkey < 5),
            ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
            tele AS (SELECT nodes.id,
                            COALESCE(s.one, 0.0) / (SELECT n FROM ns) AS t
                     FROM nodes LEFT JOIN
                       (SELECT id, 1.0 AS one FROM seeds) s USING (id)),
            od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            r0 AS (SELECT id, t AS rank FROM tele),
            ${pageRankItersSql("tele", "(CAST(1 AS DOUBLE) - 0.85) * tele.t")}
        SELECT id, round(rank, 9) AS rank FROM r3"""

  /** Generated oracle for q_label_prop: 3 synchronous label-propagation
    * rounds unrolled as CTEs; the argmax-with-min-label-tiebreak is the
    * same (count desc, label asc) ordering the engine's min_by struct
    * encodes. */
  private def labelPropOracleSql: String = {
    val iters = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst AS id, l${i - 1}.label, COUNT(*) AS c
                  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.id
                  GROUP BY 1, 2),
          l$i AS (SELECT id, label FROM c$i
                  QUALIFY row_number() OVER (PARTITION BY id
                    ORDER BY c DESC, label ASC) = 1)"""
    }.mkString(",\n")
    s"""WITH $partSupplierEpSql, $undirectedEdgesSql,
            l0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
            $iters
        SELECT id, label FROM l3"""
  }

  /** Generated HITS oracle: the same unrolled a/h rounds, MATERIALIZED
    * (each level is referenced twice). All sums stay integer-valued
    * doubles, so the only real arithmetic is the final max division. */
  private def hitsOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val hp = s"h${r - 1}"
      s"""a$r AS MATERIALIZED (
            SELECT e.dst AS id, sum($hp.val) AS val
            FROM e JOIN $hp ON e.src = $hp.id GROUP BY 1),
          h$r AS MATERIALIZED (
            SELECT e.src AS id, sum(a$r.val) AS val
            FROM e JOIN a$r ON e.dst = a$r.id GROUP BY 1)"""
    }
    s"""WITH e AS MATERIALIZED (
          SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                 's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem),
        n AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT id, CAST(1 AS DOUBLE) AS val FROM n),
        ${rounds.mkString(",\n        ")},
        m AS (SELECT (SELECT max(val) FROM a$iters) AS ma,
                     (SELECT max(val) FROM h$iters) AS mh)
     SELECT n.id, round(COALESCE(a$iters.val, 0) / ma, 6) AS authority,
            round(COALESCE(h$iters.val, 0) / mh, 6) AS hub
     FROM n LEFT JOIN a$iters USING (id) LEFT JOIN h$iters USING (id), m"""
  }

  val all: Seq[Q] = Seq(
    /** §2b PageRank (3 fixed iterations) over the undirected part↔supplier
      * graph from lineitem — importance scoring, the other iterative-join
      * workhorse next to connected components. Prefixed string node ids
      * keep the two key spaces disjoint; both edge directions satisfy
      * Graph.pageRank's every-node-is-a-src contract. */
    Q("q_pagerank", pageRankOracleSql) { (s, d) =>
      val ps = partSupplierPairsLong(s, d)
      val edges = ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, 3)
        .select(decodeGraphId(col("id")).as("id"),
          round(col("rank"), 9).as("rank"))
    },

    /** §2b HITS hubs & authorities: 3 unrolled rounds over the DIRECTED
      * part→supplier purchase graph — parts score as hubs, suppliers as
      * authorities; integer-exact sums, max-normalized once at the end. */
    Q("q_hits", hitsOracleSql(3)) { (s, d) =>
      // long-id iteration (see partSupplierPairsLong); pre-distinct on the
      // long keys makes hits' internal distinct a no-op at 100×
      Graph.hits(partSupplierPairsLong(s, d), 3)
        .select(decodeGraphId(col("id")).as("id"),
          col("authority"), col("hub"))
    },

    /** §2b triangle counting over the part co-occurrence graph (parts
      * appearing in the same order, one-in-three order slice): per-node
      * triangle participation — ordered wedge join + closing-edge semi-join,
      * no cross product. */
    Q("q_triangles",
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem WHERE l_orderkey % 3 = 0),
              e AS (SELECT DISTINCT l.pk AS a, r.pk AS b FROM li l
                    JOIN li r ON l.ok = r.ok AND l.pk < r.pk),
              t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM e e1 JOIN e e2 ON e1.b = e2.a
                    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
         FROM (SELECT x AS id FROM t
               UNION ALL SELECT y FROM t
               UNION ALL SELECT z FROM t)
         GROUP BY id""") { (s, d) =>
      // widen on the join key before distinct + self-join (r15, §2.5 +
      // §2.4): hash(ok) satisfies the distinct's (ok, pk) clustering AND
      // co-partitions both self-join sides — one exchange, all wide
      val li = graft.operators.FanOut.widen(
          Tables.lineitem(s, d).filter(col("l_orderkey") % 3 === 0)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
          col("ok"))
        .distinct()
      val edges = li.as("l").join(li.as("r"),
          col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
        .select(col("l.pk").as("src"), col("r.pk").as("dst"))
      Graph.triangleCount(edges)
    },

    /** §2b label propagation (3 fixed synchronous rounds) over the same
      * undirected part↔supplier graph as q_pagerank — community detection
      * as joins + argmax aggregates, deterministic via the (count desc,
      * label asc) tie-break. */
    Q("q_label_prop", labelPropOracleSql) { (s, d) =>
      // long-id edges AND long labels (r14): the min-label tie-break is
      // defined over the "p…"/"s…" STRING ordering, but that order embeds
      // order-isomorphically into a long for this digit-string domain —
      // bit 62 = isSupplier ("p" < "s"), below it the digits left-aligned
      // to width 15 (lexicographic digit compare = left-aligned numeric
      // compare), low 4 bits = digit count (the shorter-prefix tie, "p1" <
      // "p10"). Every round then shuffles and min_by-compares (long, long)
      // rows instead of built strings — same winners, bit-identical output
      // after the final decode — which cut the sf10 round cost ~2×.
      val ps = partSupplierPairsLong(s, d)
      val edges = ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst")))
      val encodeLabel = (c: Column) => {
        val v = shiftright(c, 1) // the raw part/supplier key (digits, no sign)
        val dd = length(v.cast("string")).cast("long")
        // v * 10^(15-d) < 10^15 < 2^53: exact in double, exact after cast
        val leftAligned = (v.cast("double")
          * pow(lit(10.0), lit(15L) - dd)).cast("long")
        (c % 2) * lit(1L << 62) + leftAligned * 16L + dd
      }
      val decodeLabel = (c: Column) => {
        val sBit = shiftright(c, 62)
        val rest = c.bitwiseAND(lit((1L << 62) - 1))
        val dd = rest % 16
        val v = (shiftright(rest, 4).cast("double")
          / pow(lit(10.0), lit(15L) - dd)).cast("long")
        concat(when(sBit === 1, lit("s")).otherwise(lit("p")),
          v.cast("string"))
      }
      Graph.labelPropagation(edges, 3, encodeLabel)
        .select(decodeGraphId(col("id")).as("id"),
          decodeLabel(col("label")).as("label"))
    },

    /** §2b personalized PageRank (3 rounds): teleport mass pinned to the
      * five s0–s4 supplier seeds — proximity-to-seeds ordering over the
      * same part↔supplier graph as q_pagerank. */
    Q("q_ppr", pprOracleSql) { (s, d) =>
      val ps = partSupplierPairsLong(s, d)
      val edges = ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.lineitem(s, d).filter(col("l_suppkey") < 5)
        .select(col("l_suppkey")).distinct()
        .select((col("l_suppkey") * 2 + 1).as("id"))
      Graph.personalizedPageRank(edges, seeds, 3)
        .select(decodeGraphId(col("id")).as("id"),
          round(col("rank"), 9).as("rank"))
    },

    /** §2b k-core backbone: the 4-core of the hash-thinned (7%) part
      * co-purchase graph. Thinning mirrors production sparsification of a
      * dense co-occurrence graph — and gives the fixture REAL peel depth
      * (2-4 data-dependent rounds at every SF, simulated up front), so the
      * fixpoint loop is exercised, not vacuous. The oracle unrolls 8 peel
      * rounds: sound for any true depth ≤ 8 because peeling is idempotent
      * at the fixpoint. */
    Q("q_kcore", kCoreOracleSql(k = 4, rounds = 12)) { (s, d) =>
      // fan the unsplittable scan out on the join key BEFORE the pair
      // build: the self-join's wedge expansion + distinct partial is the
      // query's CPU (a 3.6 s single-threaded stage at sf0.1, r15 probe),
      // and one co-partitioned exchange serves BOTH join sides
      val li = graft.operators.FanOut.widen(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"))
      val pp = li.as("a")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
        .distinct()
        .filter(Corpus.hashUnit(concat(col("x").cast("string"), lit(":"),
          col("y").cast("string")), "kcore") < 0.07)
      val edges = pp.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(pp.select(col("y").as("src"), col("x").as("dst")))
      Graph.kCore(edges, 4)
    },

    /** §2b degree-resolved assortativity curve k_nn(k) over the
      * part↔supplier graph ([[Graph.avgNeighborDegree]]) — exact-integer
      * class sums, long-id edges (ids never reach the output). */
    Q("q_knn_degree",
      // Exact-integer class sums: knn(k) = sum(nbr degrees)/(k*n_k).
      """WITH pairs AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
                        FROM lineitem),
              e AS (SELECT pk * 2 AS src, sk * 2 + 1 AS dst FROM pairs
                    UNION ALL
                    SELECT sk * 2 + 1 AS src, pk * 2 AS dst FROM pairs),
              deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
                      FROM e GROUP BY 1),
              pn AS (SELECT e.src,
                            CAST(SUM(dd.d) AS BIGINT) AS sumnbr,
                            CAST(count(*) AS BIGINT) AS k
                     FROM e JOIN deg dd ON dd.id = e.dst
                     GROUP BY 1)
         SELECT k AS degree, CAST(count(*) AS BIGINT) AS n_nodes,
                round(CAST(SUM(sumnbr) AS DOUBLE)
                  / CAST(k * count(*) AS DOUBLE), 6) AS avg_knn
         FROM pn GROUP BY 1""") { (s, d) =>
      val ps = partSupplierPairsLong(s, d)
      Graph.avgNeighborDegree(ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst"))))
    },

    /** §2b reciprocity of the SIGNIFICANT event-type transition graph:
      * per-user consecutive transitions, edges kept when their count
      * exceeds the mean pair count (exact integer c·k > Σc comparison —
      * no float threshold), then [[Graph.reciprocity]]'s L↔/L ratio —
      * "is the journey graph conversational or one-way". */
    Q("q_reciprocity",
      // Significant-transition graph (exact c*k > sum threshold), then
      // L_mutual / L with self-loops excluded.
      """WITH tr AS (SELECT event_type AS src,
                            lead(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
                     FROM events WHERE event_type IS NOT NULL),
              cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
                      FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                             CAST(count(*) AS BIGINT) AS k
                      FROM cnt),
              sig AS (SELECT src, dst FROM cnt, tot WHERE c * k > t),
              e AS (SELECT DISTINCT src, dst FROM sig
                    WHERE src IS NOT NULL AND dst IS NOT NULL
                      AND src <> dst),
              m AS (SELECT count(*) AS n_mut FROM e a
                    WHERE EXISTS (SELECT 1 FROM e b
                                  WHERE b.src = a.dst AND b.dst = a.src))
         SELECT CAST(count(*) AS BIGINT) AS n_edges,
                CAST(max(m.n_mut) AS BIGINT) AS n_reciprocated,
                round(CASE WHEN count(*) > 0
                  THEN CAST(max(m.n_mut) AS DOUBLE) / count(*) END, 6)
                  AS reciprocity
         FROM e, m""") { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("__next", lead(col("event_type"), 1).over(w))
        .filter(col("__next").isNotNull && col("event_type").isNotNull)
        .select(col("event_type").as("src"), col("__next").as("dst"))
      // bounded (type x type) grid, consumed by the threshold total AND
      // the significant-edge filter AND reciprocity's self-semi-join —
      // localCheckpoint or each consumer re-scans events (plan audit)
      val counts = trans.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("__c"))
        .localCheckpoint()
      val tot = counts.agg(sum(col("__c")).as("__t"),
        count(lit(1)).as("__k"))
      val sig = counts.crossJoin(broadcast(tot))
        .filter(col("__c") * col("__k") > col("__t"))
        .select(col("src"), col("dst"))
      Graph.reciprocity(sig)
    },

    /** §2b landmark BFS over the part↔supplier graph
      * ([[Graph.landmarkDistances]]): exact distances from the 4 smallest
      * node ids, depth ≤ 4 — reach, eccentricity-within-horizon and
      * harmonic centrality per landmark; the distance family the
      * iterative-join suite (pagerank/kcore/CC) did not yet cover. */
    Q("q_landmark_bfs",
      // Min-distance BFS as a depth-capped recursive CTE (UNION dedups
      // (l, node, d) rows; min(d) = first-discovery depth = the engine's
      // frontier anti-join). Harmonic sum folds as the exact integer
      // lcm(1..4)/d before its single division.
      """WITH RECURSIVE pairs AS (SELECT DISTINCT l_partkey * 2 AS src,
                                         l_suppkey * 2 + 1 AS dst
                                  FROM lineitem),
              e AS (SELECT src, dst FROM pairs
                    UNION SELECT dst, src FROM pairs),
              lm AS (SELECT src AS l FROM (SELECT DISTINCT src FROM e)
                     ORDER BY src LIMIT 4),
              reach(l, node, d) AS (
                SELECT l, l, 0 FROM lm
                UNION
                SELECT r.l, e.dst, r.d + 1
                FROM reach r JOIN e ON e.src = r.node
                WHERE r.d < 4),
              best AS (SELECT l, node, min(d) AS d
                       FROM reach GROUP BY 1, 2)
         SELECT l AS landmark,
                CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_reached,
                CAST(max(d) AS BIGINT) AS max_dist,
                round(CAST(sum(CASE WHEN d > 0 THEN 12 // d ELSE 0 END)
                    AS DOUBLE) / 12.0, 6) AS harmonic_centrality
         FROM best GROUP BY 1""") { (s, d) =>
      val ps = partSupplierPairsLong(s, d)
      Graph.landmarkDistances(ps.unionByName(
        ps.select(col("dst").as("src"), col("src").as("dst"))),
        numLandmarks = 4, maxDepth = 4)
    },
  )
}
