package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph algorithms over edge-list DataFrames (SURVEY.md §2b). The dedup
  * family already runs connected components (Dedup.duplicateClusters);
  * this adds importance scoring — the other iterative-join workhorse a
  * corpus pipeline needs (authority weighting of crawl sources, picking
  * the canonical page among near-dups by link importance).
  */
object Graph {

  /** Data-proportional shuffle width for the iterative graph family
    * (r15). The session default is sized for the bench SF; at |E| ≳ 10⁸
    * the per-round |E|-scale exchanges put tens of millions of rows in
    * each task and spill-thrash — the r14 sf100 experiment measured
    * 32 → 256 partitions = −32% wall on labelPropagation. AQE coalesces
    * partitions DOWN but never splits them up, so the width has to be
    * right before the first exchange, from the operator itself — not a
    * probe-time env knob. Derived from the SUM OF LEAF SCAN BYTES of the
    * input's optimized plan (zero-cost, no action: parquet scans report
    * file bytes) at ~32 MB per partition — on the sf100 label-prop graph
    * (1.18 B edge rows read from a persisted pair parquet) this lands
    * near the experimentally-best 256. Leaf bytes, NOT full-plan stats:
    * the size-only estimator multiplies through joins (a bench-SF
    * self-join "estimates" terabytes and would pin 2048 tiny
    * partitions), while leaf sums can only UNDER-estimate a computed
    * blow-up — degrading to the session default, i.e. exactly the r14
    * shape. Floors at the session default (bench-scale plans stay
    * byte-identical: callers keep the ADAPTIVE no-width repartition
    * there), caps at 2048, and treats an unknown size
    * ([[Sizing.leafBytes]] is `None`) as the session default. */
  private[graft] def edgeWidth(edges: DataFrame): Int = {
    val base = edges.sparkSession.sessionState.conf.numShufflePartitions
    Sizing.leafBytes(edges).fold(base)(bytes =>
      math.max(base, math.min(2048L, bytes / (32L << 20) + 1L).toInt))
  }

  /** `repartition` that stays ADAPTIVE (no pinned width, AQE-coalescible
    * — the bench-SF plan of every caller, unchanged from r14) unless the
    * sized width exceeds the session default. */
  private def repartitionBy(df: DataFrame, width: Int, cols: Column*): DataFrame = {
    val base = df.sparkSession.sessionState.conf.numShufflePartitions
    if (width > base) df.repartition(width, cols: _*) else df.repartition(cols: _*)
  }

  /** PageRank with a FIXED iteration count (public: Page et al. '99) —
    * fixed rather than convergence-tested so the result is a
    * deterministic, oracle-checkable function of the input.
    *
    * `edges` must have `src`/`dst` columns; every node is expected to
    * appear as a `src` at least once (pass both directions for an
    * undirected graph — that also removes the dangling-node special case,
    * whose redistribution term is the one non-portable piece of the
    * textbook formulation). Ranks start uniform at 1/N and update as
    * rank'(v) = (1-d)/N + d·Σ_{(u,v)∈E} rank(u)/outdeg(u).
    *
    * Scale shape: per iteration ONE equi-join of the per-node
    * rank/outdeg weight against the edge list + ONE hash aggregate on
    * dst — shuffle ∝ |E|, never N². The node count is a single scalar
    * aggregate collected once (legitimate tiny-collect, like the IVF
    * centroids). Iterations are a fixed small constant, so the unrolled
    * plan stays shallow — no checkpointing needed (contrast the
    * data-dependent loop in Dedup.duplicateClusters). */
  /** Per-node triangle participation counts (public: the ordered
    * wedge-join formulation, e.g. Suri & Vassilvitskii WWW'11 "Counting
    * triangles and the curse of the last reducer"). Triangles measure
    * local clustering — in a corpus link graph they separate genuinely
    * interlinked communities from star-shaped spam hubs, and they are the
    * standard smoke test that an edge pipeline preserved adjacency.
    *
    * Accepts an undirected edge list in any form (either or both
    * directions, duplicates, self-loops); canonicalizes to `a < b` first,
    * so each triangle {x,y,z} materializes exactly once as the ordered
    * triple x<y<z. Returns `(id, triangles)` — each node's triangle
    * count — for nodes in ≥1 triangle.
    *
    * Scale shape: two equi-joins, no cross product. Edges are oriented
    * low-degree → high-degree (tiebreak id) before the wedge join, so
    * every wedge is centered at its LOWEST-degree vertex: wedge volume is
    * Σ_v outdeg(v)², with outdeg(v) ≤ max(deg(v), √(2|E|)) under this
    * orientation — total O(|E|^1.5) (Suri & Vassilvitskii WWW'11). A hub
    * of degree h has out-degree ~0 (everything points AT it), so the
    * skewed-graph "curse of the last reducer" — one reducer holding h²
    * wedges — cannot happen. The closing-edge check is a plain equi-join
    * on the oriented (y, z) pair. Everything shuffles on edge keys —
    * never on the node set squared. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // the oriented DAG feeds the wedge join TWICE plus the closing-edge
    // semi-join — cache it so the dedup + degree derivation runs once
    val o = orientedEdges(edges).cache()
    val tris = wedgesOf(o).join(o.as("e3"),
      col("y") === col("e3.u") && col("z") === col("e3.v"), "left_semi")
    val out = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
      .localCheckpoint()
    o.unpersist()
    out
  }

  /** Dedup + canonicalize an undirected edge list, then orient each edge
    * from its lower-(degree, id) endpoint to the higher one. The result
    * is a DAG `(u, v, dv)` (dv = degree of v, carried so wedge pairs can
    * be canonically ordered without re-joining degrees). */
  private[graft] def orientedEdges(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // join degree for both endpoints (two |E|-keyed equi-joins; the |V|
    // degree side is the hash-build side — no |E|-sized sort), then
    // orient: a→b when (dega, a) < (degb, b); a<b already, so equal
    // degrees keep a→b
    und
      .join(deg.select(col("id").as("a"), col("deg").as("__da"))
        .hint("shuffle_hash"), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("__db"))
        .hint("shuffle_hash"), "b")
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("u"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("v"),
        when(col("__da") <= col("__db"), col("__db")).otherwise(col("__da"))
          .as("dv"))
  }

  /** Candidate wedges (x, y, z): x is the lowest-(deg, id) vertex, y ≺ z
    * among its out-neighbors — each potential triangle appears exactly
    * once. Exposed for the skewed-graph spec that pins the wedge-volume
    * reduction vs naive id-ordering. */
  private[graft] def orientedWedges(edges: DataFrame): DataFrame =
    wedgesOf(orientedEdges(edges))

  private def wedgesOf(o: DataFrame): DataFrame =
    o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))

  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (fixed, unrolled plan): $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0, 1): $damping")
    // the edge list is the big invariant side of every iteration's join:
    // pre-partition it on the join key ONCE and cache — InMemoryRelation
    // preserves the partitioning, so each iteration shuffles only the
    // |V|-sized weight table, never |E| again. Width is data-sized (r15,
    // see edgeWidth): every iteration's probe side runs in these
    // partitions, so an under-partitioned cache spills 10× per run.
    val e0 = edges.select(col("src"), col("dst"))
    val e = repartitionBy(e0, edgeWidth(e0), col("src")).cache()
    // the node table CARRIES outdeg (r13: fused — outdeg is static, so
    // joining a separate |V| outdeg table against the rank table every
    // round paid one |V|-vs-|V| join per iteration for nothing); it is
    // |V|-sized and referenced by EVERY unrolled iteration — cache it or
    // each iteration re-runs the |E|-sized aggregate that derives it.
    // contract: every node appears as src (see scaladoc) — so src alone
    // covers the graph, and outdeg is never 0/null
    val nodesDeg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("__outdeg")).cache()
    val n = nodesDeg.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    // teleport computed as (1 - damping) in BOTH engines: 1.0 - 0.85 is
    // NOT the double 0.15, so the oracle must spell the same subtraction
    val teleport = (1.0 - damping) / n
    var ranks = nodesDeg.withColumn("rank", lit(1.0 / n))
    (1 to iters).foreach { _ =>
      val weight = ranks
        .select(col("id").as("__u"), (col("rank") / col("__outdeg")).as("__w"))
      // SHUFFLE_HASH on the weight side: hash-build the |V| rows, probe
      // the pre-partitioned edges — no |E|-sized sort (SMJ would re-sort
      // the edge list every iteration), no |V|-must-fit-on-the-driver
      // broadcast assumption (a billion-node graph still works)
      val contrib = e.join(weight.hint("shuffle_hash"), e("src") === col("__u"))
        .groupBy(col("dst")).agg(sum(col("__w")).as("__c"))
        .withColumnRenamed("dst", "id")
      // left join keeps zero-indegree nodes; shuffle-hash build on the
      // aggregated contrib side — both sides are id-hashed |V| tables,
      // so no sort and no re-exchange
      ranks = nodesDeg.join(contrib.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("__outdeg"),
          (lit(teleport) + lit(damping) * coalesce(col("__c"), lit(0.0)))
            .as("rank"))
    }
    // materialize the |V|-row result, then release the caches — a long
    // session (the harness runs ~160 queries in one SparkSession) would
    // otherwise accumulate a pinned edge table per graph call
    val out = ranks.select(col("id"), col("rank")).localCheckpoint()
    Seq(e, nodesDeg).foreach(_.unpersist())
    out
  }

  /** HITS hubs & authorities (Kleinberg, JACM'99) over a DIRECTED edge
    * list, `iters` unrolled rounds: a_r(v) = Σ_{u→v} h_{r−1}(u), then
    * h_r(u) = Σ_{u→v} a_r(v) — run UNNORMALIZED and divided by the final
    * max once at the end. On integer-seeded graphs every intermediate
    * score stays an integer-valued double (sums of integers), so as long
    * as magnitudes stay under 2⁵³ — deg³-ish growth, comfortably true for
    * ≤ ~4 rounds at warehouse degrees — every aggregate is EXACT and
    * order-independent, and the final max-division is the only real
    * arithmetic. No per-round L1/L2 normalization, whose global float
    * sum would be schedule-dependent.
    *
    * Same per-round shape as [[pageRank]]: the edge list is cached twice,
    * pre-partitioned on src AND on dst (each update joins a |V|-row score
    * table against the matching copy with a shuffle-hash hint — no
    * per-round |E| sort, no broadcast assumption); per-node sums are one
    * hash aggregate with map-side combine. Nodes missing from a side
    * (pure hubs / pure authorities) score 0 there. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"iters must be in [1, 4] (integer-exact growth bound): $iters")
    val e0 = edges.select(col("src"), col("dst")).distinct()
    val w = edgeWidth(e0)
    val eSrc = repartitionBy(e0, w, col("src")).cache()
    val eDst = repartitionBy(eSrc, w, col("dst")).cache()
    val nodes = eSrc.select(col("src").as("id"))
      .unionByName(eSrc.select(col("dst").as("id"))).distinct().cache()
    var h = nodes.withColumn("val", lit(1.0))
    var a: DataFrame = null
    (1 to iters).foreach { _ =>
      val hRen = h.select(col("id").as("__u"), col("val"))
      a = eSrc.join(hRen.hint("shuffle_hash"), eSrc("src") === col("__u"))
        .groupBy(eSrc("dst").as("id")).agg(sum(col("val")).as("val"))
      val aRen = a.select(col("id").as("__v"), col("val"))
      h = eDst.join(aRen.hint("shuffle_hash"), eDst("dst") === col("__v"))
        .groupBy(eDst("src").as("id")).agg(sum(col("val")).as("val"))
    }
    // the h-side lineage CONTAINS the a-side's (h_r joins a_r), and both
    // feed the max aggregates AND the output joins below — materialize
    // once or the 6-join round lineage is re-evaluated up to 4×
    a = a.localCheckpoint()
    h = h.localCheckpoint()
    val maxes = a.agg(max(col("val")).as("__ma"))
      .crossJoin(h.agg(max(col("val")).as("__mh")))
    val out = nodes
      .join(a.select(col("id"), col("val").as("__a")), Seq("id"), "left")
      .join(h.select(col("id"), col("val").as("__h")), Seq("id"), "left")
      .crossJoin(broadcast(maxes))
      .select(col("id"),
        round(coalesce(col("__a"), lit(0.0)) / col("__ma"), 6).as("authority"),
        round(coalesce(col("__h"), lit(0.0)) / col("__mh"), 6).as("hub"))
      .localCheckpoint()
    Seq(eSrc, eDst, nodes).foreach(_.unpersist())
    out
  }

  /** Personalized PageRank (public: Page et al. '99 §6 "personalized";
    * Jeh & Widom WWW'03): identical update to [[pageRank]] except the
    * teleport mass returns to a SEED SET instead of spreading uniformly —
    * rank'(v) = (1−d)·seed(v)/|S| + d·Σ rank(u)/outdeg(u), d = 0.85. The
    * "related to THESE" primitive: seed the near-dup cluster / trusted
    * domains / one document, and the ranks order the graph by proximity
    * to the seeds (far components decay to exactly 0).
    *
    * Same edge contract and per-iteration shape as pageRank (edges
    * pre-partitioned + cached, shuffle-hash weight join, one hash
    * aggregate per round); `seeds` is one extra |S|-row join building
    * the teleport column. Seeds not present in the graph contribute
    * teleport mass that simply decays — they are counted in |S|, which
    * keeps the formula a function of the caller's declared seed set. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (fixed, unrolled plan): $iters")
    val damping = 0.85
    // same data-sized width as pageRank (r15, see edgeWidth)
    val e0 = edges.select(col("src"), col("dst"))
    val e = repartitionBy(e0, edgeWidth(e0), col("src")).cache()
    val seedIds = seeds.select(col("id")).distinct().cache()
    val nSeeds = seedIds.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    // fused static node table (r13, same as pageRank): outdeg AND the
    // per-node teleport mass ride along with the rank column, so a round
    // is one edge join + one aggregate + one co-partitioned |V| join —
    // no separate outdeg or teleport join per iteration
    val withTele = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("__outdeg"))
      .join(seedIds.withColumn("__s", lit(1.0)), Seq("id"), "left")
      .select(col("id"), col("__outdeg"),
        (coalesce(col("__s"), lit(0.0)) / nSeeds).as("__tele")).cache()
    var ranks = withTele.withColumn("rank", col("__tele"))
    (1 to iters).foreach { _ =>
      val weight = ranks
        .select(col("id").as("__u"), (col("rank") / col("__outdeg")).as("__w"))
      val contrib = e.join(weight.hint("shuffle_hash"), e("src") === col("__u"))
        .groupBy(col("dst")).agg(sum(col("__w")).as("__c"))
        .withColumnRenamed("dst", "id")
      ranks = withTele.join(contrib.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), col("__outdeg"), col("__tele"),
          (lit(1.0 - damping) * col("__tele")
            + lit(damping) * coalesce(col("__c"), lit(0.0))).as("rank"))
    }
    val out = ranks.select(col("id"), col("rank")).localCheckpoint()
    Seq(e, seedIds, withTele).foreach(_.unpersist())
    out
  }

  /** Synchronous label propagation (public: Raghavan et al. '07) with a
    * FIXED iteration count and a deterministic tie-break — community
    * detection as pure joins/aggregates, the third iterative-join
    * workhorse next to connected components and PageRank (cluster a crawl
    * host graph, group near-dup clusters into families).
    *
    * Same edge contract as [[pageRank]]: `src`/`dst`, both directions for
    * undirected graphs (which also guarantees every node receives
    * contributions each round). Labels start as each node's own id; each
    * iteration every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — argmax count then min
    * label makes the update a total function, so the unrolled result is
    * oracle-checkable. Synchronous rounds up to a FIXED cap, with a
    * zero-change early exit (r14): each round is a deterministic function
    * of the label table, so a round that changes NO label is a fixed
    * point and every remaining round is an identical no-op — stopping
    * there returns bit-for-bit the fixed-round result (spec-pinned
    * against the lazily-unrolled twin in GraphSpec). Convergence-tested
    * LPA in the order-dependent/asynchronous sense stays out: bipartite
    * structure can oscillate forever (a known property, not a bug), so
    * the cap still bounds the loop and the output stays a deterministic
    * function of the input.
    *
    * Scale shape per iteration: ONE equi-join of labels onto the edge
    * list + TWO hash aggregates (label counts per dst, then argmax via
    * `min_by` over (−count, label) — no window, no per-node sort), then a
    * |V|-row change count on the checkpointed label tables (both sides
    * id-hash partitioned — the kCoreRun 1-row monotone check shape).
    * Shuffle ∝ |E|; the label table never exceeds |V| rows. */
  def labelPropagation(edges: DataFrame, iters: Int,
                       labelOf: Column => Column = identity): DataFrame =
    labelPropagationRun(edges, iters, labelOf).result

  /** [[labelPropagation]] with its [[Rounds]] telemetry — same contract,
    * same result; see the scaladoc there. Rounds 1 and `iters` run
    * unprobed (`None`); every other round's count is 1 while some label
    * still moves (a `limit(1)` probe), 0 at the fixed point. */
  def labelPropagationRun(edges: DataFrame, iters: Int,
                          labelOf: Column => Column = identity): Rounds[DataFrame] = {
    require(iters >= 1 && iters <= 8,
      s"iters must be in [1, 8] (fixed cap, bounded loop): $iters")
    // same iteration shape as pageRank: edges pre-partitioned on the join
    // key and cached (shuffled once), the |V|-sized label table joins via
    // shuffle-hash — no per-iteration |E| sort, no broadcast assumption.
    // Width is data-sized (r15, edgeWidth): the sf100 probe measured the
    // session default costing +47% on this exact operator.
    val e0 = edges.select(col("src"), col("dst"))
    val w = edgeWidth(e0)
    val e = repartitionBy(e0, w, col("src")).cache()
    val nodes = e.select(col("src").as("id")).distinct()
    // labelOf (r13): seed labels as a FUNCTION of the node id — callers
    // with an expensive id domain (built strings) can run every join and
    // exchange on a cheap surrogate id while the label values (whose
    // ORDERING defines the min-label tie-break) stay in the original
    // domain; identity preserves the classic labels-start-as-ids form
    // the seed stays LAZY: round 1's job folds the distinct + seed into
    // its own join (the r13 fused shape) — no separate |V| job for it
    var labels = nodes.withColumn("label", labelOf(col("id")))
    Rounds.run(edges.sparkSession, "labelPropagation", iters, None) { round =>
      // ONE exchange per round (r13): repartition the joined stream by
      // dst BEFORE aggregating — dst-hash co-locates every (dst, label)
      // AND every dst, so both the count and the argmax aggregate run
      // exchange-free on top of it. The old shape paid two exchanges
      // ((dst,label) partials, then dst), and in the early rounds labels
      // are near-distinct so the (dst,label) partial aggregation
      // collapsed nothing — the first exchange carried ~|E| rows either
      // way, plus a second ~|E|-row exchange the fused shape skips.
      val counts0 = e.join(
          labels.select(col("id").as("__u"), col("label")).hint("shuffle_hash"),
          e("src") === col("__u"))
        .select(col("dst"), col("label"))
      val counts = repartitionBy(counts0, w, col("dst"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__c"))
      val next = counts.groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label").as("lb"))).as("label"))
        .select(col("dst").as("id"), col("label"))
        .localCheckpoint()
      // zero-change fixed-point check: both sides are checkpointed
      // |V|-row tables, so the probe is one small join, never touches
      // |E|. FULL-OUTER + null-safe (r15): the next round's label table
      // is a deterministic function of this round's, so exiting is sound
      // iff next ≡ labels as a MAP — on directed inputs source-only
      // nodes drop out of the table after round 1, so an intersection-
      // only (inner) probe can fire while the id set is still shrinking
      // and miss the flip a later round would apply (advisor
      // counterexample: m→{u1,u2,b}, u1→b, u2→b, v→v, v→b with m
      // minimal — rounds 1 and 2 agree on the surviving {b,v} but round
      // 3 flips b to v; pinned in GraphSpec). The full-outer join counts
      // one-sided ids as mismatches, and <=> keeps a null-producing
      // labelOf from masking a change. Skipped after round 1: labels
      // start pairwise-distinct, so on any self-loop-free graph round 1
      // relabels every node with an edge and the check cannot fire (a
      // pure-self-loop graph just runs its remaining no-op rounds —
      // same result, no wrong exit).
      val changed = Option.when(round >= 2 && round < iters)(next
        .join(labels.withColumnRenamed("label", "__prev"),
          Seq("id"), "full_outer")
        .filter(not(col("label") <=> col("__prev")))
        .limit(1).count())
      labels = next
      changed
    } { e.unpersist(); labels }
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k
    * (public: Seidman '83, computed by iterated peeling) — the dense-
    * backbone extraction that separates genuinely interlinked regions
    * from peripheral tendrils (crawl-graph spam cores, co-occurrence
    * backbones). Returns `(id, degree)` for core members, degree counted
    * WITHIN the core.
    *
    * `edges` must carry both directions of an undirected graph (like
    * pageRank). Self-loops and duplicate edges are dropped up front —
    * both would inflate degrees.
    *
    * INCREMENTAL degree maintenance (the kTruss trick applied one rung
    * down): degrees are aggregated ONCE up front; each peel round then
    * decrements only the NEIGHBORS of that round's peeled nodes — one
    * broadcast semi-join of the edge list against the removed ids plus
    * a tiny aggregate, never a re-aggregation over all surviving edges.
    * Edge pruning is DEFERRED: a minority round leaves the edge state
    * stale (dead-endpoint edges are provably inert — a node is removed
    * exactly once and dead srcs drop in the survivors join) and only a
    * majority round reconciles it, so a minority round is ONE deg-update
    * job. Per-round shuffle is ∝ the affected set (removed nodes +
    * their incident edges).
    *
    * ADAPTIVE direction, same as [[kTrussRun]]: a round that peels the
    * MAJORITY of surviving nodes (typical for round one, where most
    * nodes never had k neighbors) instead re-aggregates degrees over
    * the small survivor-induced subgraph directly — decrementing
    * through a removed set that is most of the graph costs more than
    * one hash aggregate over the few survivors. Per-round cost is
    * min(agg(survivors), decrement(removed)). [[kCoreRecompute]] keeps
    * the pure recompute-per-round form as the spec oracle; GraphSpec
    * pins incremental ≡ recompute across fixtures that exercise both
    * branches.
    *
    * The loop is data-dependent (peel depth), localCheckpoint'd each
    * round to keep the plan flat; convergence, direction choice, and
    * the broadcast-size bound all come from ONE 1-row aggregate per
    * round (alive count, below-k count) — a round with zero removals
    * ends the loop without executing any subgraph work, so there is no
    * fixpoint-confirming round.
    *
    * The DuckDB oracle unrolls a FIXED number of peel rounds; that is
    * sound because a peel round is IDEMPOTENT at the fixpoint (peeling
    * a k-core returns the same k-core), so any unroll depth ≥ the true
    * peel depth yields the exact answer. */
  def kCore(edges: DataFrame, k: Int): DataFrame =
    kCoreRun(edges, k).result

  /** [[kCore]] with its [[Rounds]] telemetry (same plan, same result —
    * q_kcore runs through this path). A round's count is the number of
    * surviving nodes still below k after it — the 1-row stats aggregate
    * the loop already computes, so telemetry costs nothing extra. The
    * round count is the peel depth, which is DATA-DEPENDENT (measured
    * 1.6 s → 10.7 s over 100× data growth on the bench graph as depth
    * grew) — this readout is what lets an operator distinguish "deep
    * peel structure" from "plan regression" at a glance, and `converged`
    * makes the maxIter cap observable instead of silently returning a
    * partially-peeled set. */
  def kCoreRun(edges: DataFrame, k: Int, maxIter: Int = 30): Rounds[DataFrame] = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    // broadcast the removed ids / decrement table only while provably
    // small (same discipline as kTrussRun). 8M rows ≈ 64 MB of longs —
    // comfortably inside Spark's broadcast ceiling and any executor
    // heap, and far cheaper than the alternative: the r14 sf100 soak
    // caught round 1's ~2M-row removed set falling off the old 1M-row
    // bound and paying two full-|E| exchanges for a set a map-side
    // semi-join handles (the broadcast-bound crossing WAS the cliff)
    val bcastLimit = 8000000L
    // data-sized width for the one full-|E| exchange (the dedup
    // aggregate): at the bench SF the sized width equals the session
    // default and the plan keeps its r14 shape (partial-agg → exchange);
    // above it, pre-clustering on (src,dst) sets the exchange width the
    // aggregate then reuses — the lost pre-exchange combine only ever
    // collapsed duplicate edges, which the contract says are rare
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val w = edgeWidth(e0)
    val eSized =
      if (w > e0.sparkSession.sessionState.conf.numShufflePartitions)
        e0.repartition(w, col("src"), col("dst"))
      else e0
    var e = eSized.distinct()
      .localCheckpoint()
    var deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    // (alive, below-k count) in ONE action: the convergence check, the
    // adaptive direction choice, and the removed-ids broadcast bound for
    // the same round
    def stats(): (Long, Long) = {
      val r = deg.agg(count(lit(1)), count(when(col("degree") < k, 1)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var (alive, rCount) = stats()
    Rounds.run(edges.sparkSession, "kCore", maxIter, Some(rCount)) { _ =>
      val survivors = deg.filter(col("degree") >= k)
      if (rCount > alive - rCount) {
        // majority peeled (typical round one): one degree aggregate
        // over the small survivor-induced subgraph beats decrementing
        // through a removed set that is most of the graph. This branch
        // also RECONCILES the deferred edge pruning (see below): the
        // semi-joins against the true survivor set drop every edge any
        // earlier minority round left stale.
        val keep = survivors.select(col("id"))
        e = e
          .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .localCheckpoint()
        deg = e.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("degree"))
          .localCheckpoint()
      } else {
        // minority peeled: decrement only the neighbors of the peeled
        // nodes — a semi-join against the broadcast removed ids plus a
        // tiny aggregate. The edge state is deliberately NOT rewritten:
        // a node is removed exactly once, so a later round never probes
        // this round's dst again, and stale edges whose src is already
        // dead only produce dec rows the survivors join drops — pruning
        // e every round cost a full anti-join + localCheckpoint
        // materialization per round and measurably LOST to plain
        // recompute on deep peels (BASELINE.md round-11 kCore table);
        // deferring it makes a minority round ONE deg update job.
        val removedIds0 = deg.filter(col("degree") < k).select(col("id"))
        val removedIds =
          if (rCount <= bcastLimit) broadcast(removedIds0) else removedIds0
        // dec rows ≤ distinct neighbors of the removed set in the stale
        // edge state (dead srcs included) — not provably small, so no
        // broadcast hint: AQE sizes the join at runtime
        val dec = e
          .join(removedIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("__dec"))
        deg = survivors.join(dec, Seq("id"), "left")
          .select(col("id"),
            (col("degree") - coalesce(col("__dec"), lit(0L))).as("degree"))
          .localCheckpoint()
      }
      val next = stats()
      alive = next._1; rCount = next._2
      Some(rCount)
    } { deg.filter(col("degree") >= k) }
  }

  /** The pre-round-11 recompute-per-round k-core — degree aggregate +
    * two semi-joins + filter every round. Kept as the independent
    * oracle for [[kCoreRun]]'s incremental degree maintenance
    * (GraphSpec pins result equality across both adaptive branches);
    * O(rounds · E), so never the production path. */
  private[graft] def kCoreRecompute(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    var survivors = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k).localCheckpoint()
    var prev = -1L
    var i = 0
    var n = survivors.count()
    while (prev != n && i < 30) {
      prev = n
      val keep = survivors.select(col("id"))
      e = e
        .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint()
      survivors = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k).localCheckpoint()
      n = survivors.count()
      i += 1
    }
    survivors
  }

  /** Degree assortativity coefficient (public: Newman PRL'02): the
    * Pearson correlation of the degrees at the two ends of an edge,
    * over the edge list with both orientations (the standard symmetric
    * form). r > 0 — hubs link to hubs (social-graph shape); r < 0 —
    * hubs link to leaves (star/spam-hub shape, also most crawl graphs);
    * r ≈ 0 — degree-random wiring. Alongside [[modularity]] and
    * triangles, the third structural readout that tells a corpus
    * pipeline WHAT KIND of link graph it ingested.
    *
    * Built from the engines' shared covar_samp/var_samp aggregates over
    * exact integer degree pairs (hash-stable per the stats battery),
    * composed as cov/√(vx·vy) IN THE SAME TREE on both engines and
    * 6dp-rounded — `corr` itself both throws under ANSI on zero
    * variance and composes √vx·√vy differently at the last ulp.
    * Degenerate graphs (no edges, or degree-regular so var = 0) yield
    * null r, never NaN. Shape: canonicalize + one degree aggregate +
    * two equi-joins + ONE stats aggregate — shuffle ∝ |E|, no
    * iteration. */
  def assortativity(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("__id"))
      .unionAll(canon.select(col("b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
    val both = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
    val x = col("deg_a").cast("double")
    val y = col("deg_b").cast("double")
    both
      .join(deg.toDF("a", "deg_a"), Seq("a"))
      .join(deg.toDF("b", "deg_b"), Seq("b"))
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        covar_samp(x, y).as("__cov"),
        var_samp(x).as("__vx"), var_samp(y).as("__vy"))
      // regular graphs have zero degree variance: r is undefined → null
      // (plain corr throws DIVIDE_BY_ZERO under ANSI mode)
      .select(col("n_edges"),
        when(col("__vx") > 0 && col("__vy") > 0,
          round(col("__cov") / sqrt(col("__vx") * col("__vy")), 6))
          .as("assortativity"))
  }

  /** Rich-club coefficient φ(k) (public: Zhou & Mondragón, Nat. Phys.
    * lineage '04): among the nodes of degree > k, the realized edge
    * density 2·E_k/(N_k(N_k−1)) — "do the hubs wire to each other".
    * φ(k) → 1 marks an elite clique (in a dedup graph: a block of
    * templates all near-duplicating each other); low φ at high k marks
    * hubs that bridge disjoint regions. The hub-structure readout
    * beside [[assortativity]]'s single correlation number, emitted for
    * each requested k.
    *
    * Scale shape: canonicalize + ONE degree aggregate + one
    * degree-annotated edge pass exploded over the literal k list —
    * work ∝ |E|·|ks|, all counts exact integers; the closing division
    * is one double op per k row. */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "at least one k")
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // feeds the degree aggregate AND the edge pass
    val deg = canon.select(col("a").as("__id"))
      .unionAll(canon.select(col("b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
      .localCheckpoint() // feeds nk and both endpoint joins
    val ksArr = array(ks.map(k => lit(k.toLong)): _*)
    val nk = deg.select(explode(ksArr).as("k"), col("__deg"))
      .groupBy(col("k"))
      .agg(sum(when(col("__deg") > col("k"), 1L).otherwise(0L))
        .as("n_nodes"))
    val ek = canon
      .join(deg.toDF("a", "__dga"), Seq("a"))
      .join(deg.toDF("b", "__dgb"), Seq("b"))
      .select(explode(ksArr).as("k"), col("__dga"), col("__dgb"))
      .groupBy(col("k"))
      .agg(sum(when(col("__dga") > col("k") && col("__dgb") > col("k"),
        1L).otherwise(0L)).as("e_club"))
    val n = col("n_nodes").cast("double")
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("e_club"), lit(0L)).as("e_club"),
        round(when(col("n_nodes") >= 2,
          lit(2.0) * coalesce(col("e_club"), lit(0L)).cast("double")
            / (n * (n - 1.0))), 6).as("phi"))
  }

  /** Newman modularity of a given node partition (public: Newman & Girvan
    * PRE'04): per community c, Q_c = e_c/m − (d_c/2m)² — intra-community
    * edge share minus the share expected under the degree-preserving null
    * model; Q = Σ_c Q_c ∈ [−½, 1). THE acceptance readout for any
    * community/cluster assignment over a graph (label propagation,
    * near-dup connected components): Q ≈ 0 means the "communities" are no
    * better than random wiring, so a dedup/community pass that reports
    * high Q structure actually found it. Emitted PER COMMUNITY (n_nodes,
    * intra edges e_c, degree mass d_c, 6dp-rounded contribution) so the
    * suspicious communities are identifiable; Σ contribution = Q.
    *
    * `edges` is an undirected edge list in any form (either/both
    * directions, dups, self-loops — canonicalized to a<b first);
    * `labels` maps EVERY node id (isolated nodes included, d_c = 0 rows
    * contribute 0) to its community. Exact integer counts everywhere;
    * the only doubles are the two final divisions.
    *
    * Scale shape: canonicalize (one distinct), two label equi-joins on
    * the edge list, one degree aggregate + label join, two community hash
    * aggregates and a 1-row total broadcast — shuffle ∝ |E|, no
    * iteration, no window. */
  def modularity(edges: DataFrame, labels: DataFrame, idCol: String,
                 communityCol: String): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lab = labels.select(col(idCol).as("__id"),
      col(communityCol).as("__c"))
    val m = canon.agg(count(lit(1)).as("__m"))
    // intra-community edges: both endpoints carry the same label
    val intra = canon
      .join(lab.toDF("a", "__ca"), Seq("a"))
      .join(lab.toDF("b", "__cb"), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c"))
      .agg(count(lit(1)).as("e_c"))
    // degree mass: every canonical edge contributes 1 to each endpoint
    val deg = canon.select(col("a").as("__id"))
      .unionAll(canon.select(col("b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
    val dMass = lab.join(deg, Seq("__id"), "left")
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__deg"), lit(0L))).as("d_c"))
    dMass.join(intra, Seq("__c"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select(col("__c").as(communityCol), col("n_nodes"),
        col("e_c"), col("d_c"),
        // edgeless graph → null contribution (never NaN/∞)
        when(col("__m") > 0,
          round(col("e_c").cast("double") / col("__m")
            - (col("d_c").cast("double") / (lit(2.0) * col("__m")))
              * (col("d_c").cast("double") / (lit(2.0) * col("__m"))), 6))
          .as("q_contrib"))
  }

  /** Adamic–Adar link prediction (public: Adamic & Adar, Social Networks
    * '03): for each NON-adjacent pair (u,v) with ≥1 common neighbor,
    * AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — shared rare neighbors
    * count more than shared hubs. Over the near-dup pair graph this is
    * the "which documents are probably duplicates we MISSED" review
    * queue: a pair joined to the same small cluster of near-dups but not
    * yet paired directly is the classic transitive-miss of thresholded
    * LSH. Returns the top `topN` predicted pairs
    * (src, dst, n_common, aa_score), score desc, (src, dst) tiebreak.
    *
    * `maxDeg` drops hub centers (deg w > maxDeg) from the wedge join —
    * the standard skew guard: a hub of degree h generates h² candidate
    * wedges yet contributes only 1/ln(h) → 0 information per pair, so
    * capping bounds the blowup at negligible score cost. Common
    * neighbors always have deg ≥ 2, so ln(deg w) ≥ ln 2 — no division
    * hazard.
    *
    * Scale shape: canonicalize (one distinct) + one degree aggregate;
    * candidates come from ONE self-equi-join of the adjacency on the
    * CENTER w (wedge volume Σ_{deg w ≤ maxDeg} deg(w)² — bounded by the
    * cap, shuffled on w, never all-pairs); then one hash aggregate on
    * (u,v), one anti-join against the edge set, and a global top-N
    * (TakeOrdered — no full sort). */
  def adamicAdar(edges: DataFrame, topN: Int, maxDeg: Long = 1000L): DataFrame = {
    require(topN > 0 && maxDeg >= 2, s"need topN > 0, maxDeg >= 2: $topN/$maxDeg")
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("__id"))
      .unionAll(canon.select(col("b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
    val both = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .toDF("w", "u") // adjacency: center w -> neighbor u
    val centers = deg.filter(col("__deg") <= maxDeg)
      .select(col("__id").as("w"), col("__deg").as("deg_w"))
    both.join(centers, Seq("w"))
      .join(both.toDF("w", "v"), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("deg_w").cast("double"))).as("__aa"))
      // predicted links only: drop pairs already adjacent
      .join(canon, col("u") === col("a") && col("v") === col("b"), "left_anti")
      .select(col("u").as("src"), col("v").as("dst"), col("n_common"),
        round(col("__aa"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("src").asc, col("dst").asc)
      .limit(topN)
  }
  /** Local clustering coefficient (Watts & Strogatz Nature'98):
    * lcc(v) = 2·T(v)/(deg(v)·(deg(v)−1)) — the fraction of v's neighbor
    * pairs that are themselves connected. Per node, the
    * community-vs-star separation [[triangleCount]] gives in aggregate:
    * a template-spam hub scores ~0 (spokes unconnected), a genuine
    * near-dup clique scores 1. Nodes with deg < 2 have no neighbor pair
    * — null lcc, never NaN. Returns (id, degree, triangles, lcc) for
    * every node of the canonical graph.
    *
    * Scale shape: [[triangleCount]]'s two oriented equi-joins (the
    * O(|E|^1.5) bound) + one degree aggregate + one left join; exact
    * integer counts, one division per node at the end. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tri = triangleCount(canon.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2L) * coalesce(col("triangles"), lit(0L))
            / (col("degree") * (col("degree") - lit(1L))), 6)).as("lcc"))
  }

  /** Triangle list (x, y, z) of the canonical `(a < b)` edge set via the
    * degree-oriented wedge join — each triangle exactly once. Shared by
    * [[triangleCount]]-style aggregates and the [[kTruss]] peel. The
    * caller owns caching of the oriented DAG via the returned pair. */
  private def triangleListOf(canonAb: DataFrame,
                             width: Int = 0): (DataFrame, DataFrame) = {
    // input is already DISTINCT canonical a<b (the kTruss loop maintains
    // it) — orient by degree directly, skipping orientedEdges'
    // canonicalize+distinct shuffle (one exchange saved PER PEEL ROUND)
    val base = canonAb.sparkSession.sessionState.conf.numShufflePartitions
    val deg = canonAb.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val o0 = canonAb
      .join(deg.select(col("id").as("a"), col("deg").as("__da"))
        .hint("shuffle_hash"), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("__db"))
        .hint("shuffle_hash"), "b")
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("u"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("v"),
        when(col("__da") <= col("__db"), col("__db")).otherwise(col("__da"))
          .as("dv"))
    // r15 scale path (width > session default — the bench-SF plan is the
    // r14 shape, unchanged): (a) pre-cluster the cached DAG on the wedge
    // join key so both self-join sides read it exchange-free; (b) the
    // closing-edge probe gets the WEDGE-VOLUME treatment — the wedge
    // stream is Σ outdeg² ≫ |E|, so its exchange is re-widened 8× (cap
    // 2048) and the semi-join hash-builds on the |E|-sized o partition
    // instead of default SMJ, which externally SORTS the wedge volume —
    // the sf100 soak's "spill hierarchy" 18.5× was exactly that sort
    if (width > base) {
      val o = o0.repartition(width, col("u"))
      val wWedge = math.min(2048, width * 8)
      val tris = wedgesOf(o)
        .repartition(wWedge, col("y"), col("z"))
        .join(o.as("e3").hint("shuffle_hash"),
          col("y") === col("e3.u") && col("z") === col("e3.v"), "left_semi")
      (o, tris)
    } else {
      val tris = wedgesOf(o0).join(o0.as("e3"),
        col("y") === col("e3.u") && col("z") === col("e3.v"), "left_semi")
      (o0, tris)
    }
  }

  /** Per-edge triangle support of a canonical `(a < b)` edge frame via
    * ONE oriented wedge join — the O(|E|^1.5) step both truss paths pay
    * exactly once. Zero-triangle edges get support 0. */
  private def supportOf(canonAb: DataFrame, width: Int = 0): DataFrame = {
    val (o, tris) = triangleListOf(canonAb, width)
    o.cache()
    val supp = tris
      .select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    val out = canonAb.join(supp, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint()
    o.unpersist()
    out
  }

  /** k-truss (Cohen NSA TR'08): the maximal subgraph in which every
    * edge closes at least k−2 triangles WITHIN the subgraph — the
    * edge-level community backbone one rung above [[kCore]] (a k-truss
    * edge needs k−2 common neighbors that themselves survive, so
    * bridge/spam edges that k-core keeps are peeled). Returns the
    * surviving canonical edges with their final within-truss support.
    *
    * INCREMENTAL support maintenance: the O(|E|^1.5) oriented wedge
    * join runs ONCE to seed per-edge support; each peel round then
    * discovers only the triangles DESTROYED by that round's removals —
    * for each removed edge (a,b), its triangles are the common
    * neighbors w with (a,w) and (b,w) still in the pre-round edge set,
    * found by two equi-joins of the removed set against the adjacency
    * (broadcast when the removed set is small, which it is in every
    * round past the first) — dedups them by sorted vertex triple (a
    * triangle losing 2–3 edges in one round still dies once), and
    * decrements the support of each dead triangle's SURVIVING edges.
    * Per-round shuffle is therefore ∝ removed edges + destroyed
    * triangles (the affected set), never |E|; the full-graph cost per
    * round is one in-memory pass over the localCheckpoint'd edge state
    * to fold the decrements in.
    *
    * ADAPTIVE direction: a round that peels the MAJORITY of surviving
    * edges (typical for round one on a sparse graph, where most edges
    * never had k−2 triangles) instead recomputes support over the small
    * survivor set directly — probing triangles through a removed set
    * that is nearly all of E costs more than one wedge join over the
    * few survivors. Each round takes whichever side of the
    * removed-vs-survivors count is smaller, so per-round cost is
    * min(wedge(survivors), probe(removed)) — never worse than the old
    * recompute-every-round shape (the round-8/9 verdicts' flagged
    * scale-killer, O(rounds · E^1.5) on deep peels), and ∝ the affected
    * set on the long shallow tails where that shape drowned.
    * [[kTrussRecompute]] keeps the pure recompute form as the spec
    * oracle, and GraphSpec pins incremental ≡ recompute across k values
    * that exercise both branches. Same data-dependent fixpoint contract
    * as [[kCoreRun]]: rounds continue until no edge falls below k−2
    * (1-row aggregate per round) or `maxIter` caps, returning the
    * partially-peeled set. */
  def kTruss(edges: DataFrame, k: Int): DataFrame =
    kTrussRun(edges, k).result

  /** [[kTruss]] with its [[Rounds]] telemetry (same plan, same result —
    * q_ktruss runs through this path). A round's count is the number of
    * edges still below k−2 after it — the 1-row convergence aggregate
    * the loop already computes. A huge count before round 1 means the
    * graph is mostly below the truss threshold; a long tail of small
    * counts means deep peel structure. */
  def kTrussRun(edges: DataFrame, k: Int, maxIter: Int = 20): Rounds[DataFrame] = {
    require(k >= 3, s"k must be >= 3: $k")
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    // broadcast the removed set / decrement table only while provably
    // small — a first round that peels most of a sparse graph must not
    // be forced through a driver-sized broadcast. These rows are edge
    // PAIRS (two longs, ~16 B raw each — HALF the id-shaped kCore
    // bound's headroom, and a hash-relation in memory is several × raw),
    // so the bound is 4M pairs ≈ 64 MB raw: the same byte budget as
    // kCoreRun's 8M single-long ids under the 8 GB local driver (r15,
    // fixing the r14 comment that understated pair bytes 2×). The r14
    // sf100 soak showed the bound CROSSING, not the peel, sets the wall
    // clock, so the budget is spent where it pays: per-round removed
    // sets, which shrink fast after round one.
    val bcastLimit = 4000000L
    val canon0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
    // data-sized width for the full-|E| exchanges (r15, see edgeWidth):
    // the dedup aggregate here, then every wedge-volume exchange inside
    // supportOf — at the bench SF both keep their r14 shapes
    val w = edgeWidth(canon0)
    val base = canon0.sparkSession.sessionState.conf.numShufflePartitions
    val canon = (if (w > base) canon0.repartition(w, col("a"), col("b"))
                 else canon0).distinct()
      .localCheckpoint()
    var aliveCount = canon.count()
    var supp = supportOf(canon, w)
    // (count, Σsupport) of the edges failing the threshold — one action;
    // Σsupport bounds the destroyed-triangle count for the same round
    def removedStats(): (Long, Long) = {
      val r = supp.filter(col("support") < k - 2)
        .agg(count(lit(1)), coalesce(sum(col("support")), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var (rCount, rSuppSum) = removedStats()
    Rounds.run(edges.sparkSession, "kTruss", maxIter, Some(rCount)) { _ =>
      val survivors = supp.filter(col("support") >= k - 2)
      if (rCount > aliveCount - rCount) {
        // majority peeled: one wedge join over the (small) survivor set
        // beats probing triangles through a removed set that is most of
        // E. Width scales with the SURVIVOR share of the entry width —
        // the survivor set is ≤ (alive − removed)/alive of the graph
        val wSurv = math.max(base,
          (w.toLong * (aliveCount - rCount) / math.max(1L, aliveCount)).toInt)
        supp = supportOf(survivors.select(col("a"), col("b")), wSurv)
      } else {
        val removed0 = supp.filter(col("support") < k - 2)
          .select(col("a"), col("b"))
        val removed = if (rCount <= bcastLimit) broadcast(removed0) else removed0
        // pre-round adjacency (survivors ∪ removed), both directions
        val adj = supp.select(col("a").as("u"), col("b").as("w"))
          .unionAll(supp.select(col("b").as("u"), col("a").as("w")))
        // triangles of each removed edge: common neighbors in the pre set
        val deadTris = removed
          .join(adj.select(col("u").as("a"), col("w")), Seq("a"))
          .join(adj.select(col("u").as("b"), col("w")), Seq("b", "w"), "left_semi")
          .select(sort_array(array(col("a"), col("b"), col("w"))).as("t"))
          .select(col("t").getItem(0).as("x"), col("t").getItem(1).as("y"),
            col("t").getItem(2).as("z"))
          .distinct()
        // each dead triangle decrements its SURVIVING edges once
        val dec0 = deadTris
          .select(explode(array(
            struct(col("x").as("a"), col("y").as("b")),
            struct(col("x").as("a"), col("z").as("b")),
            struct(col("y").as("a"), col("z").as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .join(removed, Seq("a", "b"), "left_anti")
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__dec"))
        val dec = if (3 * rSuppSum <= bcastLimit) broadcast(dec0) else dec0
        supp = survivors.join(dec, Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("support") - coalesce(col("__dec"), lit(0L))).as("support"))
          .localCheckpoint()
      }
      aliveCount -= rCount
      val next = removedStats()
      rCount = next._1; rSuppSum = next._2
      Some(rCount)
    } {
      supp.filter(col("support") >= k - 2)
        .select(col("a").as("src"), col("b").as("dst"), col("support"))
    }
  }

  /** The pre-round-10 recompute-per-round k-truss — full wedge join +
    * support aggregate + filter every round. Kept as the independent
    * oracle for [[kTrussRun]]'s incremental maintenance (GraphSpec pins
    * result equality); O(rounds · E^1.5), so never the production path. */
  private[graft] def kTrussRecompute(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    var canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
      .localCheckpoint()
    var result = canon.withColumn("support", lit(0L)).limit(0)
    var prev = -1L
    var n = canon.count()
    var i = 0
    while (prev != n && i < 20) {
      prev = n
      val filtered = supportOf(canon)
        .filter(col("support") >= k - 2)
        .localCheckpoint()
      result = filtered
      canon = filtered.select(col("a"), col("b"))
      n = filtered.count()
      i += 1
    }
    result.select(col("a").as("src"), col("b").as("dst"), col("support"))
  }

  /** Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    * CIKM'03 battery): for NON-adjacent pairs, |Γ(u)∩Γ(v)| over
    * |Γ(u)∪Γ(v)| — the size-normalized sibling of [[adamicAdar]] (AA
    * rewards rare shared neighbors; Jaccard asks what FRACTION of the
    * combined neighborhoods is shared, so two low-degree nodes sharing
    * most of their world outrank two hubs sharing a sliver). Top-N by
    * (score, src, dst) — the same "duplicates the threshold missed"
    * review-queue contract.
    *
    * Scale shape: identical to adamicAdar — common neighbors via the
    * center-keyed wedge join with the `maxDeg` hub cap bounding Σdeg²
    * (capped CENTERS only thin the common-neighbor evidence through
    * hubs; endpoint degrees in the union stay exact), one (u,v)
    * aggregate, two degree joins, anti-join vs adjacency, TakeOrdered.
    * The score is an exact integer ratio — one division, 6dp. */
  def jaccardLinkPrediction(edges: DataFrame, topN: Int,
                            maxDeg: Long = 1000L): DataFrame = {
    require(topN > 0 && maxDeg >= 2, s"need topN > 0, maxDeg >= 2: $topN/$maxDeg")
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("__id"))
      .unionAll(canon.select(col("b").as("__id")))
      .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
    val both = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .toDF("w", "u")
    val centers = deg.filter(col("__deg") <= maxDeg)
      .select(col("__id").as("w"))
    both.join(centers, Seq("w"))
      .join(both.toDF("w", "v"), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"))
      .join(deg.select(col("__id").as("u"), col("__deg").as("__du")), Seq("u"))
      .join(deg.select(col("__id").as("v"), col("__deg").as("__dv")), Seq("v"))
      .join(canon, col("u") === col("a") && col("v") === col("b"), "left_anti")
      .select(col("u").as("src"), col("v").as("dst"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("__du") + col("__dv") - col("n_common")).cast("double"), 6)
          .as("jaccard_score"))
      .orderBy(col("jaccard_score").desc, col("src").asc, col("dst").asc)
      .limit(topN)
  }

  /** Average-nearest-neighbor-degree curve k_nn(k) (public: Pastor-
    * Satorras, Vázquez & Vespignani PRL'01) — the degree-resolved
    * assortativity readout beside [[assortativity]]'s single
    * coefficient: for each degree class k, the mean over k-degree nodes
    * of their neighbors' average degree. Rising curve = assortative
    * hubs-with-hubs, falling = disassortative hub-and-spoke (the shape
    * says WHERE mixing happens, which the one-number correlation
    * can't).
    *
    * `edges` must carry both directions (the pageRank contract), so
    * degree = src count. EXACT-integer class formulation: every node in
    * class k shares the same denominator, so
    * k_nn(k) = (Σ_v Σ_{u~v} deg u) / (k · n_k) — one double division of
    * exact longs per class, no per-node rational sums to drift
    * (order-independent, engine-portable at any scale). Shape: one
    * degree aggregate, one |E| join carrying the neighbor degree, two
    * bounded aggregates. */
  def avgNeighborDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("__id"))
      .agg(count(lit(1)).as("__deg"))
    val perNode = e
      .join(deg.withColumnRenamed("__id", "dst").hint("shuffle_hash"),
        Seq("dst"))
      .groupBy(col("src"))
      .agg(sum(col("__deg")).as("__sumNbrDeg"), count(lit(1)).as("__k"))
    perNode.groupBy(col("__k").as("degree"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("__sumNbrDeg")).as("__classSum"))
      .select(col("degree"), col("n_nodes"),
        round(col("__classSum").cast("double")
          / (col("degree") * col("n_nodes")).cast("double"), 6)
          .as("avg_knn"))
  }

  /** Directed-graph reciprocity (public: Garlaschelli & Loffredo
    * PRL'04, the unweighted ratio form): r = L↔ / L — the fraction of
    * directed edges whose reverse edge also exists. The one-number
    * answer to "is this interaction graph conversational or
    * broadcast-shaped" (crawl link graphs, reply graphs, here the
    * event-type transition graph). Self-loops are excluded from both
    * counts by convention.
    *
    * Scale shape: edges collapse to the DISTINCT (src, dst) set in one
    * aggregate; L↔ is a self-semi-join on the reversed key — both
    * bounded by the distinct edge count, never the row count. Exact
    * integers throughout. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val mutual = e.join(rev, Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_reciprocated"))))
      .select(col("n_edges"), col("n_reciprocated"),
        round(when(col("n_edges") > 0,
          col("n_reciprocated").cast("double") / col("n_edges")), 6)
          .as("reciprocity"))
  }

  /** Multi-source BFS from deterministic landmarks (public: the
    * landmark/pivot method for distance estimation on massive graphs —
    * Potamias et al. CIKM'09; harmonic centrality per Boldi & Vigna
    * "Axioms for centrality" '14). Exact all-pairs distances are
    * infeasible at 100 TB; per-landmark BFS IS the scale method: state
    * is one (landmark, node, d) row per reached pair, each round is one
    * equi-join of the current frontier against the pre-partitioned edge
    * list plus one anti-join against the visited set — shuffle ∝
    * landmarks·|E| worst case, never N². First discovery is minimal
    * depth by BFS construction, so no min-recomputation is needed.
    *
    * `edges` must contain both directions for an undirected graph (the
    * pageRank contract). Landmarks are the `numLandmarks` SMALLEST node
    * ids — a deterministic, oracle-checkable choice (the published
    * method samples; a fixed seed set is the same estimator). Depth is
    * capped at `maxDepth`, with early exit once a round discovers
    * nothing new (identical output to the uncapped run when the graph's
    * eccentricity from the landmarks is smaller).
    *
    * Emits per landmark: nodes reached (excluding itself), max
    * distance, and harmonic centrality Σ_{d>0} 1/d — accumulated as the
    * exact integer Σ lcm(1..maxDepth)/d and divided ONCE, so the float
    * is a single deterministic rounding on both engines. */
  def landmarkDistances(edges: DataFrame, numLandmarks: Int = 4,
                        maxDepth: Int = 4): DataFrame =
    landmarkDistancesRun(edges, numLandmarks, maxDepth).result

  /** [[landmarkDistances]] with its [[Rounds]] telemetry (same plan, same
    * result): a round's count is 1 while the BFS discovers a node, 0 once
    * the frontier is exhausted (the `isEmpty` probe). */
  def landmarkDistancesRun(edges: DataFrame, numLandmarks: Int,
                           maxDepth: Int): Rounds[DataFrame] = {
    require(numLandmarks >= 1 && numLandmarks <= 64,
      s"numLandmarks must be in [1, 64]: $numLandmarks")
    require(maxDepth >= 1 && maxDepth <= 12,
      s"maxDepth must be in [1, 12]: $maxDepth")
    // the edge list is the invariant side of every round's frontier
    // join: pre-partition on the join key once and cache (the pageRank
    // contract — InMemoryRelation preserves the partitioning, so each
    // round shuffles only the frontier)
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).cache()
    val seeds = e.select(col("src")).distinct()
      .orderBy(col("src")).limit(numLandmarks)
    var dist = seeds.select(col("src").as("landmark"),
      col("src").as("node"), lit(0).as("d")).localCheckpoint()
    var frontier = dist
    Rounds.run(edges.sparkSession, "landmarkDistances", maxDepth, None) { depth =>
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("landmark"), col("dst").as("node"))
        .distinct()
        .join(dist, Seq("landmark", "node"), "left_anti")
        .select(col("landmark"), col("node"), lit(depth).as("d"))
        .localCheckpoint()
      if (next.isEmpty) Some(0L)
      else {
        dist = dist.unionByName(next).localCheckpoint()
        frontier = next
        Some(1L)
      }
    } {
      e.unpersist()
      val lcmAll = (1 to maxDepth).foldLeft(1L) { (a, b) =>
        a / BigInt(a).gcd(BigInt(b)).toLong * b
      }
      dist.groupBy(col("landmark"))
        .agg(sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"),
          max(col("d")).cast("long").as("max_dist"),
          sum(when(col("d") > 0,
            floor(lit(lcmAll.toDouble) / col("d")).cast("long"))
            .otherwise(0L)).as("__hsum"))
        .select(col("landmark"), col("n_reached"), col("max_dist"),
          round(col("__hsum").cast("double") / lcmAll.toDouble, 6)
            .as("harmonic_centrality"))
    }
  }
}
