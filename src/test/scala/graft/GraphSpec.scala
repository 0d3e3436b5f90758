package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSuite {
  import spark.implicits._

  private def close(a: Double, b: Double, eps: Double = 1e-12): Boolean =
    math.abs(a - b) < eps

  test("pageRank: symmetric 2-node graph stays uniform") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = Graph.pageRank(edges, 3).as[(String, Double)].collect().toMap
    assert(close(out("a"), 0.5) && close(out("b"), 0.5), out.toString)
  }

  test("pageRank: hub outranks spokes, mass conserved, hand-check 1 iter") {
    // undirected star: hub h connected to s1..s3 (both directions)
    val spokes = Seq("s1", "s2", "s3")
    val edges = (spokes.map(("h", _)) ++ spokes.map((_, "h")))
      .toDF("src", "dst")
    val one = Graph.pageRank(edges, 1).as[(String, Double)].collect().toMap
    // after 1 iter from uniform 1/4: hub = (1-d)/4 + d·(3·(1/4)/1)
    // (each spoke's outdeg is 1); spoke = (1-d)/4 + d·((1/4)/3)
    assert(close(one("h"), (1 - 0.85) / 4 + 0.85 * 3.0 / 4), one.toString)
    spokes.foreach { s =>
      assert(close(one(s), (1 - 0.85) / 4 + 0.85 / 12), one.toString)
    }
    val three = Graph.pageRank(edges, 3).as[(String, Double)].collect().toMap
    assert(three("h") > three("s1"))
    // every node has an out-edge → no dangling leakage, Σrank = 1
    assert(close(three.values.sum, 1.0, 1e-9), three.toString)
  }

  test("triangleCount: K4 minus an edge, robust to direction/dup/self-loop") {
    // K4 on {1,2,3,4} minus edge (1,4): triangles {1,2,3} and {2,3,4};
    // fed as a messy mix of directions, duplicates and a self-loop
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 2L),
      (2L, 4L), (4L, 3L), (2L, 2L)).toDF("src", "dst")
    val out = Graph.triangleCount(edges).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), out.toString)
  }

  test("triangleCount: triangle-free graph returns no rows") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCount(path).isEmpty)
  }

  test("triangleCount: degree orientation kills hub wedges on skewed graph") {
    // hub 50 with a MIDDLE id, 40 leaves below (1..40) and 40 above
    // (51..90), plus one triangle {1, 2, 50}. The old id-ordered wedge
    // join centers a wedge at every (smaller, 50, larger) pair: 40·40 =
    // 1600 wedges land in the hub's reducer. Degree ordering points every
    // leaf AT the hub (deg 80), so the hub emits zero wedges.
    val star = ((1L to 40L) ++ (51L to 90L)).map((50L, _))
    val edges = (star ++ Seq((1L, 2L))).toDF("src", "dst")
    // id-ordered wedge volume (the old formulation), for contrast
    val und = edges.select(least($"src", $"dst").as("a"),
      greatest($"src", $"dst").as("b")).distinct()
    val idWedges = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .count()
    val degWedges = Graph.orientedWedges(edges).count()
    // degree orientation: only node 1 (deg 2) has two out-edges — toward
    // node 2 (deg 2, by id tiebreak) and toward the hub — giving exactly
    // the single candidate wedge (1, 2, 50), which closes via 2→50
    assert(degWedges == 1L, s"degree-ordered wedges: $degWedges")
    assert(idWedges >= 1600L, s"id-ordered wedges should blow up: $idWedges")
    val out = Graph.triangleCount(edges).as[(Long, Long)].collect().toMap
    assert(out == Map(50L -> 1L, 1L -> 1L, 2L -> 1L), out.toString)
  }

  test("labelPropagation: two cliques joined by a bridge split cleanly") {
    // cliques {a,b,c} and {x,y,z} plus bridge c—x; undirected (both dirs).
    // Round 1: inside a triangle every node sees two distinct neighbor
    // labels once each → tie → min label; clique 1 converges to "a",
    // clique 2's non-bridge nodes tend to "x"
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, 4)
      .as[(String, String)].collect().toMap
    assert(out.keySet === Set("a", "b", "c", "x", "y", "z"))
    // the two cliques must not merge into one label
    assert(Set(out("a"), out("b")) != Set(out("y"), out("z")), out.toString)

    // hand-check 1 round on a path a—b—c: b sees {a,c} once each → "a";
    // a sees only b → "b"; c sees only b → "b"
    val path = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val one = Graph.labelPropagation(path, 1)
      .as[(String, String)].collect().toMap
    assert(one === Map("a" -> "b", "b" -> "a", "c" -> "b"), one.toString)
  }

  test("personalizedPageRank: teleport returns to the seed, hand-checked") {
    // 2-node symmetric graph, seed {a}: r0 = (1, 0);
    // r1 = (0.15·1 + 0.85·0, 0.85·1); r2 = (0.15 + 0.85·0.85, 0.85·0.15);
    // r3 = (0.15 + 0.85·0.1275, 0.85·0.8725) = (0.258375, 0.741625)
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val seeds = Seq("a").toDF("id")
    val out = Graph.personalizedPageRank(edges, seeds, 3)
      .as[(String, Double)].collect().toMap
    assert(close(out("a"), 0.15 + 0.85 * (0.85 * 0.15)), out.toString)
    assert(close(out("b"), 0.85 * (0.15 + 0.85 * 0.85)), out.toString)
    // an unreachable component gets rank exactly 0
    val twoComp = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val pr = Graph.personalizedPageRank(twoComp, seeds, 3)
      .as[(String, Double)].collect().toMap
    assert(pr("x") === 0.0 && pr("y") === 0.0, pr.toString)
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(edges, seeds.filter($"id" === "zz"), 3))
  }

  test("labelPropagation: zero-change early exit returns the fixed-round " +
    "result bit-for-bit (unrolled twin) and reports the short round count") {
    // a single triangle converges: r1 = (a→b, b→a, c→a), r2 = all "a",
    // r3 = r2 → the zero-change probe fires after round 3 and rounds 4-8
    // are skipped as provable no-ops
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"))
    val tri = (und ++ und.map(_.swap)).toDF("src", "dst")
    val run = Graph.labelPropagationRun(tri, 8)
    assert(run.rounds === 3, s"expected early exit after round 3: $run")
    // round 1 runs unprobed; round 2 still moves a label, round 3 is the
    // zero-change fixpoint witness
    assert(run.converged && run.perRound === Seq(None, Some(1L), Some(0L)))
    // lazily-unrolled 8-round twin: the same round body folded with no
    // checkpoint and no exit — the pre-r14 fixed-round plan
    import org.apache.spark.sql.functions._
    val e = tri.select(col("src"), col("dst"))
    var twin = e.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to 8).foreach { _ =>
      val counts = e.join(
          twin.select(col("id").as("__u"), col("label")), e("src") === col("__u"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__c"))
      twin = counts.groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label").as("lb"))).as("label"))
        .select(col("dst").as("id"), col("label"))
    }
    val got = run.result.as[(String, String)].collect().toMap
    val want = twin.as[(String, String)].collect().toMap
    assert(got === want, s"early-exit result diverged from unrolled twin")

    // a 2-node oscillator never reaches a fixed point: the cap holds and
    // every round runs (the bipartite-oscillation contract in the doc)
    val osc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val capped = Graph.labelPropagationRun(osc, 4)
    assert(capped.rounds === 4 && !capped.converged)
    // the closing round is unprobed, so only rounds 2-3 report a count
    assert(capped.perRound === Seq(None, Some(1L), Some(1L), None))
  }

  test("labelPropagation: directed shrinking id set must not fire the " +
    "early exit (r15 advisor counterexample)") {
    import org.apache.spark.sql.functions._
    // m→{u1,u2,b}, u1→b, u2→b, v→v, v→b with m the minimal label:
    // source-only nodes drop out of the label table after round 1, so
    // rounds 1 and 2 AGREE on the surviving intersection {b, v} (b = m
    // both rounds) — an inner-join probe fires there — but the true
    // fixed point (round 3+) flips b to v once m's influence is gone.
    val m = "a_m"; val u1 = "b_u1"; val u2 = "c_u2"; val b = "d_b"; val v = "e_v"
    val edges = Seq(m -> u1, m -> u2, m -> b, u1 -> b, u2 -> b,
      v -> v, v -> b).toDF("src", "dst")
    val run = Graph.labelPropagationRun(edges, 8)
    val got = run.result.as[(String, String)].collect().toMap
    // unrolled twin (no probe, no exit): the pre-r14 fixed-round plan
    val e = edges.select(col("src"), col("dst"))
    var twin = e.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to 8).foreach { _ =>
      val counts = e.join(
          twin.select(col("id").as("__u"), col("label")), e("src") === col("__u"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__c"))
      twin = counts.groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label").as("lb"))).as("label"))
        .select(col("dst").as("id"), col("label"))
    }
    val want = twin.as[(String, String)].collect().toMap
    assert(got === want,
      s"directed early exit returned a non-fixed-point: $got vs $want")
    assert(got(b) === v, s"b must converge to v's label, got ${got(b)}")
  }

  test("edgeWidth: floors at the session default for bench-scale and " +
    "join-derived inputs, scales with leaf bytes") {
    import org.apache.spark.sql.functions._
    val base = spark.sessionState.conf.numShufflePartitions
    val small = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(Graph.edgeWidth(small) === base, "tiny input must keep the default")
    // a self-join: the size-only estimator multiplies children — the
    // leaf-sum estimator must NOT inherit that blow-up (q_kcore's edge
    // build is exactly this shape at bench SF)
    val joined = small.as("a").join(small.as("b"),
        col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
    assert(Graph.edgeWidth(joined) === base,
      "join-derived bench input must keep the default width")
  }

  test("labelPropagation validates its arguments") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.labelPropagation(edges, 0))
    intercept[IllegalArgumentException](Graph.labelPropagation(edges, 9))
  }

  test("pageRank validates its arguments") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(edges, 0))
    intercept[IllegalArgumentException](Graph.pageRank(edges, 11))
    intercept[IllegalArgumentException](Graph.pageRank(edges, 3, damping = 1.0))
    intercept[IllegalArgumentException](
      Graph.pageRank(edges.filter(col("src") === "zz"), 3))
  }

  test("kCore: cascading peel strips the tail, keeps the clique, reports core degrees") {
    // triangle {1,2,3} + a chain 3—4—5: peeling 5 (deg 1) exposes 4
    // (deg 1) — a 2-round cascade; the 2-core is exactly the triangle
    def undirected(pairs: (Long, Long)*) =
      pairs.toDF("src", "dst").unionByName(
        pairs.map(_.swap).toDF("src", "dst"))
    val g = undirected((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core = Graph.kCore(g, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be the triangle with in-core degrees: $core")
    // k above the max degree: empty core, loop still terminates
    assert(Graph.kCore(g, 10).isEmpty)
    // self-loops and duplicate edges don't inflate degrees
    val noisy = g.unionByName(Seq((1L, 1L), (1L, 2L)).toDF("src", "dst"))
    val core2 = Graph.kCore(noisy, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === core)
  }

  test("kCoreRun telemetry: deep-tail peel depth, per-round counts, maxIter cap observable") {
    def undirected(pairs: (Long, Long)*) =
      pairs.toDF("src", "dst").unionByName(
        pairs.map(_.swap).toDF("src", "dst"))
    // triangle {1,2,3} + a 6-node chain 3—4—5—6—7—8—9: each round peels
    // only the current chain endpoint (degree 1), so peel depth = 6
    // cascading rounds + 1 confirming round at the fixpoint
    val g = undirected((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val run = Graph.kCoreRun(g, 2)
    assert(run.converged)
    // round 1 peels node 9 (deg 1); each round then leaves exactly one
    // new chain endpoint below k, down to the triangle
    assert(run.perRound === Seq(1L, 1L, 1L, 1L, 1L, 0L).map(Some(_)))
    assert(run.rounds === 6)
    // heavy tail = genuinely deep structure; the final 0 is the
    // fixpoint witness
    assert(run.perRound.last === Some(0L))
    assert(run.perRound.init.forall(_.exists(_ > 0L)))
    assert(run.result.collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    // a capped run surfaces non-convergence instead of silently
    // returning a partially peeled set
    val capped = Graph.kCoreRun(g, 2, maxIter = 2)
    assert(!capped.converged)
    assert(capped.perRound === Seq(Some(1L), Some(1L)))
    assert(capped.result.count() === 6L, "8 survivors minus 2 peel rounds")
  }

  test("kCore incremental maintenance ≡ recompute across both adaptive branches") {
    def undirected(pairs: (Long, Long)*) =
      pairs.toDF("src", "dst").unionByName(
        pairs.map(_.swap).toDF("src", "dst"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // MINORITY-peel fixture: chain off a triangle — every round removes
    // one chain endpoint (1 of many survivors), driving the decrement
    // branch for the whole cascade
    val chain = undirected((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    assert(asMap(Graph.kCoreRun(chain, 2).result) ===
      asMap(Graph.kCoreRecompute(chain, 2)))
    // MAJORITY-peel fixture: a 5-clique with 20 degree-1 leaves hanging
    // off node 1 — round one peels 20 of 25 nodes (recompute branch),
    // and the follow-up rounds (if any) go incremental
    val leaves = (100L to 119L).map(l => (1L, l))
    val clique = for {
      a <- 1L to 5L; b <- 1L to 5L if a < b
    } yield (a, b)
    val hub = undirected((clique ++ leaves): _*)
    assert(asMap(Graph.kCoreRun(hub, 4).result) ===
      asMap(Graph.kCoreRecompute(hub, 4)))
    assert(asMap(Graph.kCoreRun(hub, 2).result) ===
      asMap(Graph.kCoreRecompute(hub, 2)))
    // MIXED fixture: two 4-cliques bridged by a path whose interior
    // nodes have degree 2 — k=3 first peels the bridge (minority),
    // cascades, and the cores keep their within-core degrees
    val cliqueA = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val cliqueB = for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)
    val bridge = Seq((4L, 21L), (21L, 22L), (22L, 11L))
    val mixed = undirected((cliqueA ++ cliqueB ++ bridge): _*)
    assert(asMap(Graph.kCoreRun(mixed, 3).result) ===
      asMap(Graph.kCoreRecompute(mixed, 3)))
  }

  test("hits: hand-traced 3 rounds on a directed bipartite graph") {
    // p1→s1, p2→s1, p2→s2: a3 = (s1:13, s2:8), h3 = (p1:13, p2:21)
    val edges = Seq(("p1", "s1"), ("p2", "s1"), ("p2", "s2"))
      .toDF("src", "dst")
    val out = Graph.hits(edges, 3).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Map(
      "s1" -> ((1.0, 0.0)),
      "s2" -> ((r6(8.0 / 13), 0.0)),
      "p1" -> ((0.0, r6(13.0 / 21))),
      "p2" -> ((0.0, 1.0))))
    intercept[IllegalArgumentException] { Graph.hits(edges, 5) }
  }

  test("richClub: clique-plus-pendant hand-check, empty club nulls phi") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4–1: degrees 3,2,2,1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val out = Graph.richClub(edges, Seq(0, 1, 2)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    // k=0: all 4 nodes, 4 edges → φ = 8/12
    assert(out(0L)._1 === 4L && out(0L)._2 === 4L &&
      math.abs(out(0L)._3 - 2.0 / 3.0) < 1e-6)
    // k=1: the triangle is a perfect club
    assert(out(1L) === ((3L, 3L, 1.0)))
    // k=2: only node 1 qualifies → no pairs → null φ
    assert(out(2L)._1 === 1L && out(2L)._2 === 0L && out(2L)._3.isNaN)
  }

  test("assortativity: star is -1, regular graph is null, mixed hand-checked") {
    // star 0-{1,2,3}: every edge joins degree 3 to degree 1 → r = −1
    val star = Seq((0, 1), (0, 2), (0, 3)).toDF("src", "dst")
    val s = Graph.assortativity(star).collect().head
    assert(s.getLong(0) === 3L && s.getDouble(1) === -1.0)
    // 1-regular graph (two disjoint edges): zero degree variance → null
    val regular = Seq((1, 2), (3, 4)).toDF("src", "dst")
    val r = Graph.assortativity(regular).collect().head
    assert(r.getLong(0) === 2L && r.isNullAt(1))
    // triangle {1,2,3} + pendant 3-4, fed messy (dup edge, reversal,
    // self-loop): degrees 2,2,3,1 → r = −2.5/3.5 = −0.714286 by hand
    val mixed = Seq((1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (3, 4), (4, 4))
      .toDF("src", "dst")
    val m = Graph.assortativity(mixed).collect().head
    assert(m.getLong(0) === 4L && m.getDouble(1) === -0.714286)
  }

  test("modularity: the two-triangles-and-a-bridge hand-checked example") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4: m = 7.
    // Partitioned into the two triangles: e_c = 3 each, degree mass
    // d_c = 2+2+3 = 7 each → Q_c = 3/7 − (7/14)² = 0.178571, Q = 0.357143
    // (the textbook planted-communities value). Edges fed messy on
    // purpose: both directions for one edge, a dup, a self-loop.
    val edges = Seq((1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
      (2, 1), (4, 5), (6, 6)).toDF("src", "dst")
    val labels = Seq(1 -> "t1", 2 -> "t1", 3 -> "t1",
      4 -> "t2", 5 -> "t2", 6 -> "t2").toDF("id", "community")
    val out = Graph.modularity(edges, labels, "id", "community").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out === Map(
      "t1" -> ((3L, 3L, 7L, 0.178571)),
      "t2" -> ((3L, 3L, 7L, 0.178571))))
    // the all-in-one partition scores ~0 (e_c/m = 1 but (d_c/2m)² = 1):
    // communities indistinguishable from random wiring earn nothing
    val one = Graph.modularity(edges,
      labels.select(col("id"), lit("all").as("community")), "id", "community")
      .collect().head
    assert(one.getDouble(4) === 0.0)
    // an isolated node contributes a zero row, never null/NaN
    val iso = Graph.modularity(edges,
      labels.unionByName(Seq(9 -> "lone").toDF("id", "community")),
      "id", "community").collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(iso("lone") === 0.0)
  }

  test("adamicAdar: square hand-check, adjacency excluded, hub cap") {
    // square 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share the
    // two degree-2 corners → AA = 2/ln 2 = 2.885390; adjacent pairs are
    // excluded. Fed one edge duplicated + reversed to exercise canon.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val out = Graph.adamicAdar(sq, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out === Map((1L, 3L) -> ((2L, 2.88539)), (2L, 4L) -> ((2L, 2.88539))))
    // path 1-2-3: one common neighbor of deg 2 → 1/ln 2 = 1.442695
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.adamicAdar(path, topN = 10).collect()
    assert(p.length === 1 &&
      p.head.getLong(0) === 1L && p.head.getLong(1) === 3L &&
      p.head.getDouble(3) === 1.442695)
    // maxDeg drops hub CENTERS: star spokes share only the hub, so with
    // the hub over the cap no candidate pair survives
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    assert(Graph.adamicAdar(star, topN = 10, maxDeg = 2L).isEmpty)
    assert(Graph.adamicAdar(star, topN = 10).count() === 3L) // uncapped: 3 spoke pairs
  }
  test("clusteringCoefficient: K4-minus-an-edge hand-check, deg<2 null") {
    // edges 1-2,1-3,2-3,2-4,3-4: triangles {1,2,3},{2,3,4};
    // lcc: 1 -> 1.0 (its two neighbors connect), 2 -> 2*2/(3*2) = 2/3
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val out = Graph.clusteringCoefficient(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    assert(out === Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((3L, 2L, 0.666667)),
      3L -> ((3L, 2L, 0.666667)), 4L -> ((2L, 1L, 1.0))))
    // path: middle node's neighbors don't connect -> 0; endpoints null
    val p = Graph.clusteringCoefficient(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(p === Map(1L -> -1.0, 2L -> 0.0, 3L -> -1.0))
  }

  test("kTruss: clique survives with exact supports, appendix peels off") {
    // 4-clique {1,2,3,4} + pendant triangle {3,4,5}: at k=4 the clique
    // edges each close exactly 2 within-truss triangles; 5's edges close
    // 1 and peel in round one — which also drops (3,4)'s support 3 → 2
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((3L, 5L), (4L, 5L))).toDF("src", "dst")
    val out = Graph.kTruss(edges, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === clique.toSet)
    assert(out.values.forall(_ === 2L), out.toString)
    // cascade: a triangle strip's interior edges have support 2 but lose
    // it once the boundary peels — the truss empties over TWO rounds
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("src", "dst")
    assert(Graph.kTruss(strip, k = 4).count() === 0L)
    // k=3 keeps every triangle edge of the strip
    assert(Graph.kTruss(strip, k = 3).count() === 7L)
    // direction/duplicate tolerance: reversed + repeated edges canonize
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (1L, 4L),
      (2L, 4L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    assert(Graph.kTruss(messy, k = 4).count() === 6L)
    intercept[IllegalArgumentException](Graph.kTruss(strip, k = 2))
  }

  test("kTruss: incremental support maintenance equals per-round recompute") {
    // deterministic pseudo-random graph, dense enough for a multi-round
    // peel with cascades: ~60 nodes, hash-selected edges
    val n = 60L
    val edges = (for {
      a <- 1L until n; b <- (a + 1) to n
      if ((a * 2654435761L + b * 40503L) % 97) < 22
    } yield (a, b)).toDF("src", "dst")
    // round 1 peels the edges below k−2 in the whole graph: counted
    // here on the driver from the edge list, independently of the operator
    val pairs = edges.as[(Long, Long)].collect().toSet
    val nbrs = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    def firstPeel(k: Int): Long =
      pairs.count { case (a, b) => (nbrs(a) & nbrs(b)).size < k - 2 }.toLong
    for (k <- Seq(3, 4, 5)) {
      val inc = Graph.kTrussRun(edges, k)
      val ref = Graph.kTrussRecompute(edges, k)
      assert(inc.result.exceptAll(ref).isEmpty && ref.exceptAll(inc.result).isEmpty,
        s"incremental != recompute at k=$k")
      assert(inc.converged && inc.perRound.lastOption.forall(_.contains(0L)))
      // every non-closing round left edges to peel, and round 1's
      // removals plus each round's count sum to the peeled edge count —
      // the telemetry is the audit trail
      assert(inc.perRound.init.forall(_.exists(_ > 0L)))
      val canon = edges.select(least(col("src"), col("dst")),
        greatest(col("src"), col("dst"))).distinct().count()
      assert(firstPeel(k) + inc.perRound.flatten.sum === canon - inc.result.count())
    }
    // maxIter cap: partially-peeled set, observable non-convergence
    val capped = Graph.kTrussRun(edges, k = 5, maxIter = 1)
    assert(!capped.converged && capped.rounds === 1)
  }

  test("jaccardLinkPrediction: exact ratios, adjacency excluded, hub cap") {
    // square 1-2-3-4-1: the two diagonals share BOTH neighbors → 1.0
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Graph.jaccardLinkPrediction(sq, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out === Map((1L, 3L) -> ((2L, 1.0)), (2L, 4L) -> ((2L, 1.0))))
    // path 1-2-3-4: (1,3) share {2} of union {2}∪{2,4} → 1/2;
    // (2,4) share {3} of {1,3}∪{3} → 1/2; (1,4) share none → absent
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val po = Graph.jaccardLinkPrediction(path, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(po === Map((1L, 3L) -> 0.5, (2L, 4L) -> 0.5))
    // hub cap: a degree-3 star center above maxDeg contributes no
    // common-neighbor evidence → no candidates at all
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    assert(Graph.jaccardLinkPrediction(star, topN = 10, maxDeg = 2)
      .count() === 0L)
    assert(Graph.jaccardLinkPrediction(star, topN = 10).count() === 3L)
  }
  test("avgNeighborDegree: star graph gives the two exact degree classes") {
    val star = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"),
      ("l1", "c"), ("l2", "c"), ("l3", "c")).toDF("src", "dst")
    val out = Graph.avgNeighborDegree(star).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(3L).getLong(1) === 1L && out(3L).getDouble(2) === 1.0)
    assert(out(1L).getLong(1) === 3L && out(1L).getDouble(2) === 3.0)
  }

  test("reciprocity: mutual fraction, self-loops and duplicates excluded") {
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("c", "c"))
      .toDF("src", "dst")
    val r = Graph.reciprocity(e).collect().head
    assert(r.getLong(0) === 3L, "distinct non-loop edges")
    assert(r.getLong(1) === 2L, "a<->b both directions")
    assert(r.getDouble(2) === 0.666667)
  }

  test("landmarkDistances: exact path-graph distances, early exit = capped run") {
    // path 1-2-3-4-5 (both directions), landmarks = two smallest ids
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (p ++ p.map(_.swap)).toDF("src", "dst")
    val out = Graph.landmarkDistances(e, numLandmarks = 2, maxDepth = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // L1: d = 1,2,3,4 -> harmonic (12+6+4+3)/12; L2: d = 1,1,2,3
    assert(out === Map(
      1L -> ((4L, 4L, 2.083333)),
      2L -> ((4L, 3L, 2.833333))))
    // a generous depth cap early-exits to the identical result
    val deep = Graph.landmarkDistances(e, numLandmarks = 2, maxDepth = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(deep === Map(1L -> ((4L, 4L)), 2L -> ((4L, 3L))))
    // depth cap binds: maxDepth=2 sees only the 2-hop ball
    val near = Graph.landmarkDistances(e, numLandmarks = 1, maxDepth = 2)
      .collect().head
    assert(near.getLong(1) === 2L && near.getLong(2) === 2L)
  }

}
