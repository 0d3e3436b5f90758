package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("cosineSimilarity matches hand-computed values") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),   // identical → 1
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),   // orthogonal → 0
      (3L, Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f)),  // opposite → -1
      (4L, Seq(0.0f, 0.0f), Seq(1.0f, 0.0f)))   // zero-norm → 0 (guarded)
      .toDF("id", "a", "b")
    val out = df.select($"id",
      VectorFunctions.cosineSimilarity($"a", $"b").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) + 1.0) < 1e-12)
    assert(out(4L) === 0.0)
  }

  test("bruteForceTopK returns self first for a vector from the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 7).select($"embedding")
      .as[Seq[Float]].collect().head.map(_.toDouble)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 7L)
    assert(math.abs(top.head._2 - 1.0) < 1e-9)
    // descending similarity
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("lshTopK results are a subset of the corpus ranked identically within bucket") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 7).select($"embedding")
      .as[Seq[Float]].collect().head.map(_.toDouble)
    val planes = Similarity.hyperplanes(4, 64)
    val top = Similarity.lshTopK(emb, "vec_id", "embedding", q, 5, planes)
      .as[(Long, Double)].collect()
    // the query's own bucket contains the query vector → exact self-match first
    assert(top.head._1 === 7L)
  }

  test("nearDupPairs is a subset of exactPairs and finds planted duplicates") {
    val base = Tables.embeddings(spark, sf).filter($"vec_id" < 50)
      .select($"vec_id", $"embedding")
    // plant an exact duplicate of vec 3 with id 9003
    val dup = base.filter($"vec_id" === 3)
      .select(lit(9003L).as("vec_id"), $"embedding")
    val emb = base.unionByName(dup)
    val planes = Similarity.hyperplanes(6, 64)
    val lsh = Similarity.nearDupPairs(emb, "vec_id", "embedding", planes, 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.exactPairs(emb, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((3L, 9003L)))  // identical vectors share every bucket
  }

  test("hyperplanes are deterministic") {
    assert(Similarity.hyperplanes(3, 8) === Similarity.hyperplanes(3, 8))
  }

  test("lshProbeBuckets: base first, distinct one-bit perturbations, bounds") {
    val planes = Similarity.hyperplanes(6, 64)
    val q = (0 until 64).map(i => math.sin(i + 1.0))
    val buckets = Similarity.lshProbeBuckets(q, planes, 4)
    assert(buckets.size === 4)
    assert(buckets.distinct.size === 4)
    val base = buckets.head
    // every perturbation is exactly one sign-bit flip away from the base
    buckets.tail.foreach(b => assert(Integer.bitCount(b ^ base) === 1))
    assert(Similarity.lshProbeBuckets(q, planes, 1) === Seq(base))
    intercept[IllegalArgumentException] {
      Similarity.lshProbeBuckets(q, planes, 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshProbeBuckets(q, planes, 8) // > numPlanes + 1
    }
  }

  test("multi-probe lshTopK recall vs exact is >= single-probe recall") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 7).select($"embedding")
      .as[Seq[Float]].collect().head.map(_.toDouble)
    val planes = Similarity.hyperplanes(6, 64)
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k)
      .select($"vec_id").as[Long].collect().toSet
    def recall(probes: Int): Double = {
      val ids = Similarity.lshTopK(emb, "vec_id", "embedding", q, k, planes, probes)
        .select($"vec_id").as[Long].collect().toSet
      (ids intersect exact).size.toDouble / k
    }
    val single = recall(1)
    val multi = recall(4)
    assert(multi >= single,
      s"multi-probe recall $multi must not be below single-probe $single")
    // probing more buckets can only widen the candidate set; the self-match
    // lives in the base bucket, so it must survive at any probe count
    assert(Similarity.lshTopK(emb, "vec_id", "embedding", q, k, planes, 4)
      .select($"vec_id").as[Long].collect().head === 7L)
  }

  test("ivfAssign puts every centroid in its own cell; ivfTopK finds the query") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.collectCentroids(
      emb.filter($"vec_id" < 8), "vec_id", "embedding")
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    // a centroid's nearest centroid is itself (cosine 1)
    val centCells = assigned.filter($"vec_id" < 8)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    (0L until 8L).foreach(i => assert(centCells(i) === i))
    // every vector lands in exactly one cell
    assert(assigned.count() === emb.count())

    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding",
      cents, q, "qv", k = 5, nprobe = 2)
      .select($"vec_id", $"cosine_sim").as[(Long, Double)].collect()
    assert(top.head._1 === 0L)              // query is in a probed cell
    assert(math.abs(top.head._2 - 1.0) < 1e-6)
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("kmeansStep computes exact per-cell means; assignment honors cosine") {
    // values chosen exact in binary floating point so means are exact
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),    // seed centroid 0
      (1L, Seq(0.0f, 1.0f)),    // seed centroid 1
      (2L, Seq(1.0f, 0.5f)),    // nearer (1,0) → cell 0
      (3L, Seq(0.5f, 1.0f)))    // nearer (0,1) → cell 1
      .toDF("vec_id", "embedding")
    val cents = Similarity.collectCentroids(
      emb.filter($"vec_id" < 2), "vec_id", "embedding")
    val step = Similarity.kmeansStep(emb, "vec_id", "embedding", cents)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(step((0L, 0)) === ((1.0, 2L)))    // mean(1.0, 1.0)
    assert(step((0L, 1)) === ((0.25, 2L)))   // mean(0.0, 0.5)
    assert(step((1L, 0)) === ((0.25, 2L)))
    assert(step((1L, 1)) === ((1.0, 2L)))
    val trained = Similarity.kmeansTrain(emb, "vec_id", "embedding", 2, 1).toMap
    assert(trained(0L) === Seq(1.0, 0.25))
    assert(trained(1L) === Seq(0.25, 1.0))
  }

  test("kmeansTrain keeps the previous centroid for a cell that empties") {
    // identical seed vectors: ties assign everything to cell 0, cell 1
    // gets no members — its centroid must survive unchanged, not vanish
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val trained = Similarity.kmeansTrain(emb, "vec_id", "embedding", 2, 3).toMap
    assert(trained.keySet === Set(0L, 1L))
    assert(trained(1L) === Seq(1.0, 0.0))
  }

  test("semanticDedup clusters tight within-cell groups, keeps lowest id") {
    // two tight clusters near the two centroids + one lone vector
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),      // centroids
      (2L, Seq(0.99f, 0.1f)), (3L, Seq(0.98f, 0.12f)),   // near centroid 0
      (4L, Seq(0.1f, 0.99f)),                            // near centroid 1
      (5L, Seq(-1.0f, -0.1f))                            // lone (own component)
    ).toDF("vec_id", "embedding")
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val byId = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.95)
      .select("vec_id", "cluster", "is_canonical")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(0L) === ((0L, true)))
    assert(byId(2L) === ((0L, false)), "tight pair joins centroid-0 cluster")
    assert(byId(3L) === ((0L, false)))
    assert(byId(1L)._1 === 1L)
    assert(byId(5L) === ((5L, true)), "lone vector is its own canonical")
    assert(byId.size === 6)
  }

  test("semanticPairs only pairs within a cell") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.45f)), (3L, Seq(0.45f, 0.9f))  // similar but split cells
    ).toDF("vec_id", "embedding")
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val pairs = Similarity.semanticPairs(assigned, "vec_id", "embedding", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 2 and 3 have cosine ~0.8 but live in different cells → not paired
    assert(!pairs.contains((2L, 3L)))
    assert(pairs.contains((0L, 2L)))
    assert(pairs.contains((1L, 3L)))
  }

  test("ivfTopKMulti with full probe matches bruteForceTopKMulti (recall 1)") {
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 100)
    val cents = Similarity.collectCentroids(
      emb.filter($"vec_id" < 4), "vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val exact = Similarity.bruteForceTopKMulti(
      emb, "vec_id", "embedding", queries, "query_id", "qv", 5)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val full = Similarity.ivfTopKMulti(assigned, "vec_id", "embedding",
      cents, queries, "query_id", "qv", 5, nprobe = 4)
    val rec = Similarity.recallAtK(exact, full, "query_id", "vec_id")
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(rec.values.forall(_ === 1.0), s"full probe must be exact: $rec")
    // partial probe recall is defined and <= 1
    val part = Similarity.ivfTopKMulti(assigned, "vec_id", "embedding",
      cents, queries, "query_id", "qv", 5, nprobe = 1)
    val recP = Similarity.recallAtK(exact, part, "query_id", "vec_id")
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(recP.values.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("recallAtK: hand-built lists incl. a zero-hit query") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 11L), (1L, 99L), (2L, 98L), (2L, 99L))
      .toDF("query_id", "vec_id")
    val m = Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      .select("query_id", "n_exact", "n_hits", "recall")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(m(1L) === ((2L, 1L, 0.5)))
    assert(m(2L) === ((2L, 0L, 0.0)), "zero-hit query must appear with recall 0")
  }

  test("frameSample counts and fingerprints sampled frames") {
    import graft.operators.Multimodal
    val df = Seq((1L, "a" * 100), (2L, "xy")).toDF("id", "text")
    val out = Multimodal.frameSample(df, "id", "text", frameChars = 32, every = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((4L, 1L)))  // 100 chars → 4 frames, sample frame 0 only
    assert(out(2L) === ((1L, 1L)))  // short text → 1 frame, sampled
  }

  test("pqAssign picks the nearest subspace centroid; pqTopK ranks by ADC") {
    // 4 dims, 2 subspaces of 2; seeds: code 0 = (0,0 | 0,0),
    // code 1 = (10,10 | 10,10)
    val seeds = Seq(0L -> Seq(0.0, 0.0, 0.0, 0.0),
      1L -> Seq(10.0, 10.0, 10.0, 10.0))
    val cbs = Similarity.sliceCodebooks(seeds, nSub = 2)
    assert(cbs.length === 2 && cbs.head.head._2 === Seq(0.0, 0.0))
    // v1 near code0 in both; v2 near code1 in sub0 but code0 in sub1;
    // v3 near code1 in both
    val emb = Seq(
      (1L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Seq(9.0f, 9.0f, 1.0f, 1.0f)),
      (3L, Seq(9.0f, 9.0f, 9.0f, 9.0f))).toDF("vec_id", "embedding")
    val assigned = Similarity.pqAssign(emb, "vec_id", "embedding", cbs)
    assert(assigned.columns.toSeq ===
      Seq("vec_id", "embedding", "code_0", "code_1"))
    val byId = assigned.select($"vec_id", $"code_0", $"code_1")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L) === ((0L, 0L)))
    assert(byId(2L) === ((1L, 0L)))
    assert(byId(3L) === ((1L, 1L)))
    // query at the origin: ADC dist = sum of sub-distances from q to the
    // ASSIGNED centroids: v1 → 0+0 = 0; v2 → 200+0; v3 → 200+200
    val q = Seq(Tuple1(Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("qv")
    val top = Similarity.pqTopK(assigned, "vec_id", cbs, q, "qv", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(top.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(top.map(_._4).toSeq === Seq(0.0, 200.0, 400.0))
  }

  test("ivfAssignBroadcast is bit-identical to literal ivfAssign; auto dispatches") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.collectCentroids(
      emb.filter($"vec_id" < 8), "vec_id", "embedding")
    val lit = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val bc = Similarity.ivfAssignBroadcast(emb, "vec_id", "embedding",
      Similarity.centroidsAsTable(spark, cents))
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(bc === lit)

    // a codebook past LiteralTermLimit (40 × 64 = 2560 terms) dispatches
    // to the broadcast path and still matches the literal assignment
    val bigCents = Similarity.collectCentroids(
      emb.filter($"vec_id" < 40), "vec_id", "embedding")
    assert(bigCents.iterator.map(_._2.length).sum > Similarity.LiteralTermLimit)
    val litBig = Similarity.ivfAssign(emb, "vec_id", "embedding", bigCents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val autoBig = Similarity.ivfAssignAuto(emb, "vec_id", "embedding", bigCents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(autoBig === litBig)
  }

  test("pqAssignBroadcast / pqTopKBroadcast are bit-identical to the literal PQ path") {
    val emb = Tables.embeddings(spark, sf)
    val seeds = Similarity.collectCentroids(
      emb.filter($"vec_id" < 8), "vec_id", "embedding")
    val cbs = Similarity.sliceCodebooks(seeds, nSub = 4)
    val subDim = cbs.head.head._2.length
    val cbTable = Similarity.codebooksAsTable(spark, cbs)

    val litAssigned = Similarity.pqAssign(emb, "vec_id", "embedding", cbs)
    val bcAssigned = Similarity.pqAssignBroadcast(emb, "vec_id", "embedding",
      cbTable, nSub = 4, subDim = subDim)
    assert(bcAssigned.columns.toSeq === litAssigned.columns.toSeq)
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"code_0", $"code_1", $"code_2", $"code_3")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(codesOf(bcAssigned) === codesOf(litAssigned))

    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val litTop = Similarity.pqTopK(litAssigned, "vec_id", cbs, q, "qv", k = 10)
      .collect().map(_.toSeq).toSeq
    val bcTop = Similarity.pqTopKBroadcast(bcAssigned, "vec_id", cbTable,
      q, "qv", k = 10, subDim = subDim)
      .collect().map(_.toSeq).toSeq
    assert(bcTop === litTop) // same rows, same order, bit-equal adc_dist
  }

  test("intraClassCohesion: polarization identity matches hand pairs") {
    // label 0: two x-axis + one y-axis unit vector → ordered pairs
    // (1,1,0,0,0,0) → mean = 2/6; identity: s=(2,1), ‖s‖²−n = 5−3 = 2
    // label 1: identical direction pair (norms differ — normalization
    // must erase that) → cohesion exactly 1
    // label 2: singleton → null; zero vector dropped before counting
    val df = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(1.0f, 0.0f)), (0, Seq(0.0f, 1.0f)),
      (1, Seq(2.0f, 0.0f)), (1, Seq(5.0f, 0.0f)),
      (2, Seq(1.0f, 1.0f)), (2, Seq(0.0f, 0.0f)))
      .toDF("label", "embedding")
    val out = Similarity.intraClassCohesion(df, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getLong(1) === 3L && out(0).getDouble(2) === 0.333333)
    assert(out(1).getDouble(2) === 1.0)
    assert(out(2).getLong(1) === 1L && out(2).isNullAt(2))
  }

  test("pq codes are codebook positions, so sparse labels can't skew ADC") {
    // sparse centroid labels {3, 9}: codes must be positions {0, 1}, and
    // the LUT lookup must hit the right centroid's distance
    val seeds = Seq(3L -> Seq(0.0, 0.0), 9L -> Seq(10.0, 10.0))
    val cbs = Similarity.sliceCodebooks(seeds, nSub = 1)
    val emb = Seq((1L, Seq(9.0f, 9.0f))).toDF("vec_id", "embedding")
    val assigned = Similarity.pqAssign(emb, "vec_id", "embedding", cbs)
    assert(assigned.select($"code_0").as[Long].collect().toSeq === Seq(1L))
    val q = Seq(Tuple1(Seq(0.0f, 0.0f))).toDF("qv")
    val top = Similarity.pqTopK(assigned, "vec_id", cbs, q, "qv", k = 1)
      .collect().head
    assert(top.getDouble(2) === 200.0, top.toString) // dist(q, (10,10))
  }

  test("pq ties break to the lowest code") {
    // two identical centroids → equidistant from everything → code 0
    val seeds = Seq(0L -> Seq(5.0, 5.0), 1L -> Seq(5.0, 5.0))
    val cbs = Similarity.sliceCodebooks(seeds, nSub = 1)
    val emb = Seq((1L, Seq(7.0f, 3.0f))).toDF("vec_id", "embedding")
    val out = Similarity.pqAssign(emb, "vec_id", "embedding", cbs)
      .select($"code_0").as[Long].collect()
    assert(out.toSeq === Seq(0L))
  }

  test("quantizeInt8: hand-computed codes and errors; zero vector is guarded") {
    val emb = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r).toMap
    // scale = 1/127; codes = round(x·127): [127, -64, 32]
    assert(out(1L).getDouble(1) === 0.007874)
    assert(out(1L).getSeq[Int](2) === Seq(127, -64, 32))
    // worst error |−0.5 − (−64/127)| = 0.003937 ≤ scale/2 + ulp
    assert(out(1L).getDouble(3) === 0.003937)
    assert(out(1L).getDouble(3) <= out(1L).getDouble(1) / 2 + 1e-9)
    // mse = (0² + 0.003937…² + 0.001968…²)/3 → 0.000006 at 6dp
    assert(out(1L).getDouble(4) === 0.000006)
    // all-zero vector: scale 0, zero codes, zero error — never NaN
    assert(out(2L).getDouble(1) === 0.0)
    assert(out(2L).getSeq[Int](2) === Seq(0, 0, 0))
    assert(out(2L).getDouble(3) === 0.0 && out(2L).getDouble(4) === 0.0)
  }

  test("int8TopK preserves the exact inner-product ranking on separated vectors") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),            // query
      (1L, Seq(2.0f, 0.0f)),            // dot 2
      (2L, Seq(1.0f, 1.0f)),            // dot 1
      (3L, Seq(0.0f, 1.0f))             // dot 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8TopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 3).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // reconstructed dots land within quantization error of the truth
    val dots = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(dots(1L) - 2.0) < 0.02, dots.toString)
    assert(math.abs(dots(2L) - 1.0) < 0.02, dots.toString)
    assert(math.abs(dots(3L)) < 0.02, dots.toString)
    // missing query id fails loudly
    intercept[IllegalArgumentException](
      Similarity.int8TopK(emb, "vec_id", "embedding", queryId = 99L, k = 1))
  }

  test("randomProject: exact on basis vectors, dims and determinism pinned") {
    val planes = Similarity.hyperplanes(16, 64, 7L)
    // e_1 projects to exactly √(3/16)·(first component of each plane)
    val e1 = (1.0f +: Seq.fill(63)(0.0f)).toSeq
    val df = Seq((1L, e1)).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "vec_id", "embedding", planes)
      .head().getSeq[Double](1)
    assert(out.length === 16)
    val sc = math.sqrt(3.0 / 16)
    planes.indices.foreach(j => assert(out(j) === planes(j).head * sc,
      s"dim $j"))
    // deterministic: same planes, same projection
    val again = Similarity.randomProject(df, "vec_id", "embedding", planes)
      .head().getSeq[Double](1)
    assert(out === again)
    // JL on real data: distance ratios concentrate near 1
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 20)
    val proj = Similarity.randomProject(emb, "vec_id", "embedding", planes)
      .withColumnRenamed("vec_id", "id")
    import org.apache.spark.sql.functions._
    val orig = emb.select($"vec_id".as("id"),
      transform($"embedding", x => x.cast("double")).as("v"))
      .join(proj, "id")
    val a = orig.select($"id".as("ia"), $"v".as("va"), $"proj".as("pa"))
    val b = orig.select($"id".as("ib"), $"v".as("vb"), $"proj".as("pb"))
    def dist(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      sqrt(aggregate(zip_with(x, y, (u, w) => (u - w) * (u - w)),
        lit(0.0), (acc, t) => acc + t))
    val ratios = a.join(b, $"ia" < $"ib")
      .select((dist($"pa", $"pb") / dist($"va", $"vb")).as("r"))
      .collect().map(_.getDouble(0))
    assert(ratios.nonEmpty)
    ratios.foreach(r => assert(r > 0.2 && r < 2.5, s"ratio $r out of range"))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean ratio $mean")
  }

  test("rrfFuse: hand-computed fusion; single-list ids contribute one term") {
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(a, b, "id").collect()
    // id2 = 1/61 + 1/62, id1 = 1/61, id3 = 1/62
    assert(out.map(_.getLong(0)).toSeq === Seq(2L, 1L, 3L))
    val m = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m(2L) === r6(1.0 / 61 + 1.0 / 62))
    assert(m(1L) === r6(1.0 / 61))
    assert(m(3L) === r6(1.0 / 62))
    // absent ranks surface as nulls, not zeros
    val row3 = out.find(_.getLong(0) === 3L).get
    assert(row3.isNullAt(2) && row3.getLong(3) === 2L)
  }

  test("mmrRerank: redundancy penalty reorders a near-dup below a diverse hit") {
    // query = x-axis; 1 and 2 are a near-dup pair ABOVE the axis, 3 is
    // the mirror-image hit BELOW it (same relevance as 2 but far from 1).
    // Pure relevance ranks (1, 2, 3) — 2 beats 3 only on id tiebreak;
    // MMR round 2 scores: cand 2 ≈ .5·0.894 − .5·0.99995 < 0 while
    // cand 3 ≈ .5·0.894 − .5·0.607 > 0 → order (1, 3, 2).
    val e = Seq(
      (1L, Array(0.9f, 0.44f)),
      (2L, Array(0.9f, 0.45f)),      // near-dup of 1
      (3L, Array(0.9f, -0.45f))      // mirror image: diverse, same rel as 2
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(e, "vec_id", "embedding",
      Seq(1.0, 0.0), poolSize = 3, k = 3, lambda = 0.5)
      .collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 2L),
      "near-dup must be demoted below the diverse equally-relevant hit")
    // seed row carries no mmr_score; later rows do, and the demoted
    // near-dup's score is negative (penalty exceeds relevance share)
    assert(out.head.isNullAt(3) && out.tail.forall(!_.isNullAt(3)))
    assert(out(1).getDouble(3) > 0 && out(2).getDouble(3) < 0)
    // k clamps to pool when fewer candidates exist
    assert(Similarity.mmrRerank(e, "vec_id", "embedding",
      Seq(1.0, 0.0), 10, 10, 0.5).count() === 3)
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(e, "vec_id", "embedding", Seq(1.0, 0.0), 2, 4, 0.5)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(e, "vec_id", "embedding", Seq(1.0, 0.0), 4, 2, 1.5)
    }
  }

  test("daviesBouldin: hand-checked scatter/separation ratios, tie to lowest cell") {
    // centroids: c0 = x-axis, c1 = y-axis (orthogonal → separation 1).
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),                 // centroid seeds double as members
      (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.8f, 0.6f)),                // cell 0, dist 0.2
      (11L, Array(0.6f, 0.8f)),                // cell 1, dist 0.2
      (14L, Array(0.7071068f, 0.7071068f))     // equidistant → lowest cell (0)
    ).toDF("vec_id", "embedding")
    val cents = Similarity.collectCentroids(
      e.filter(col("vec_id") < 2), "vec_id", "embedding")
    val out = Similarity.daviesBouldin(e, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // S0 = (0 + 0.2 + 0.292893)/3, S1 = (0 + 0.2)/2; M01 = 1
    assert(out(0L) === ((3L, 0.164298, 1L, 0.264298)))
    assert(out(1L) === ((2L, 0.1, 0L, 0.264298)))
    intercept[IllegalArgumentException] {
      Similarity.daviesBouldin(e, "vec_id", "embedding", cents.take(1))
    }
  }

  test("ndcgAtK: graded demotion hand-check; perfect ranking scores exactly 1") {
    // q7: exact top-3 = (1,2,3); approx puts the weakest hit first, drops
    // item 2 for an irrelevant item 4. q8: approx misses entirely.
    val exact = Seq((7L, 1L, 1L), (7L, 2L, 2L), (7L, 3L, 3L), (8L, 5L, 1L))
      .toDF("query_id", "vec_id", "rnk")
    val approx = Seq((7L, 3L, 1L), (7L, 1L, 2L), (7L, 4L, 3L), (8L, 6L, 1L))
      .toDF("query_id", "vec_id", "rnk")
    val out = Similarity.ndcgAtK(exact, approx, "query_id", "vec_id", "rnk", 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d = Similarity.ndcgDiscounts(3)
    assert(d(0) === 1.0 && d(2) === 0.5, "log2(2) and log2(4) discounts are exact")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rel: item1→3 (gain 7), item2→2 (gain 3), item3→1 (gain 1)
    val dcg = 1.0 * d(0) + 7.0 * d(1)
    val idcg = 7.0 * d(0) + 3.0 * d(1) + 1.0 * d(2)
    val q7 = out(7L)
    assert(q7.getDouble(1) === r6(dcg) && q7.getDouble(2) === r6(idcg))
    assert(q7.getDouble(3) === r6(dcg / idcg))
    assert(q7.getLong(4) === 1L && q7.getDouble(5) === 1.0)
    // total miss: zero DCG, null first_hit/rr
    val q8 = out(8L)
    assert(q8.getDouble(3) === 0.0 && q8.isNullAt(4) && q8.isNullAt(5))
    // approx == exact must score EXACTLY 1 (dyadic sums are bit-equal)
    val perfect = Similarity.ndcgAtK(exact, exact, "query_id", "vec_id", "rnk", 3)
      .collect().map(r => r.getDouble(3))
    assert(perfect.forall(_ === 1.0))
  }

  test("mutualNearestNeighbors: reciprocal pairs only, one-directional hubs drop") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),     // mutual pair
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.95f)),    // mutual pair
      (5L, Array(0.8f, 0.2f))                               // nn(5)=2 but nn(2)=1
    ).toDF("vec_id", "embedding")
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top1 = Similarity.bruteForceTopKMulti(e, "vec_id", "embedding",
      q, "query_id", "qv", 1)
    val out = Similarity.mutualNearestNeighbors(top1, "query_id", "vec_id",
      "cosine_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (3L, 4L)),
      "only reciprocal nearest neighbors survive; the hub edge 5→2 does not")
  }

  test("rboAtK: per-item suffix-sum contributions, identical lists hit the truncated max") {
    val a = Seq((7L, 1L, 1L), (7L, 2L, 2L), (7L, 3L, 3L))
      .toDF("query_id", "vec_id", "rnk")
    val b = Seq((7L, 3L, 1L), (7L, 1L, 2L), (7L, 4L, 3L))
      .toDF("query_id", "vec_id", "rnk")
    val sums = Similarity.rboSuffixSums(3, 0.5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Similarity.rboAtK(a, b, "query_id", "vec_id", "rnk", 3, 0.5)
      .collect().head
    // matches: item1 at (1,2)→S(2), item3 at (3,1)→S(3)
    assert(out.getLong(1) === 2L)
    assert(out.getDouble(2) === r6((1.0 - 0.5) * (sums(1) + sums(2))))
    // identical lists: every item contributes S(its rank) → the truncated max
    val self = Similarity.rboAtK(a, a, "query_id", "vec_id", "rnk", 3, 0.5)
      .collect().head
    assert(self.getLong(1) === 3L)
    assert(self.getDouble(2) === r6((1.0 - 0.5) * sums.sum))
    intercept[IllegalArgumentException] {
      Similarity.rboAtK(a, b, "query_id", "vec_id", "rnk", 3, 1.0)
    }
  }

  test("kCenterSelect: farthest-point order and covering radii, hand-checked") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),     // seed (lowest id)
      (1L, Array(0.0f, 1.0f)),     // cosine dist 1.0 from seed
      (2L, Array(1.0f, 0.01f)),    // ~0.00005 from seed
      (3L, Array(-1.0f, 0.0f))     // dist 2.0 from seed — farthest
    ).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(e, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(out === Seq(
      (1L, 0L, None),              // seed, no radius
      (2L, 3L, Some(2.0)),         // antipode first
      (3L, 1L, Some(1.0)),         // orthogonal next
      (4L, 2L, Some(5.0e-5))))     // near-dup of the seed last
    // radius is monotonically non-increasing across picks
    val radii = out.flatMap(_._3)
    assert(radii === radii.sorted.reverse)
    intercept[IllegalArgumentException] {
      Similarity.kCenterSelect(e.filter($"vec_id" < 0), "vec_id", "embedding", 2)
    }
  }

  test("powerIterationPCA: axis-aligned covariance recovers the dominant axis") {
    // centered data, diagonal cov: var(x)=5/3, var(y)=1/12, trace=7/4
    val e = Seq(
      (1L, Array(2.0f, 0.0f)), (2L, Array(-2.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f)),
      (5L, Array(0.0f, 0.5f)), (6L, Array(0.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.powerIterationPCA(e, "vec_id", "embedding", 8)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // dominant axis is dim 1, sign convention makes it positive; the
    // residual dim-2 loading is (λ2/λ1)^8 ≈ 4e-11 → 0 at 6dp
    assert(out(1) === ((1.0, r6((5.0 / 3) / (7.0 / 4)))))
    assert(out(2)._1 === 0.0)
    intercept[IllegalArgumentException] {
      Similarity.powerIterationPCA(e, "vec_id", "embedding", 0)
    }
  }

  test("hardNegatives: same-label (and self) excluded, rank by cosine then id, k cut") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0L),
      (2L, Array(0.99f, 0.05f), 0L),  // closest to 1 but SAME label → excluded
      (3L, Array(0.9f, 0.1f), 1L),    // hardest negative for anchor 1
      (4L, Array(0.5f, 0.5f), 1L),
      (5L, Array(0.0f, 1.0f), 2L)
    ).toDF("vec_id", "embedding", "label")
    val anchors = e.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"label".as("qlabel"))
    val out = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        anchors, "query_id", "qv", "qlabel", 2)
      .collect().map(r => (r.getLong(4), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // top-2 negatives: 3 (label 1, cos≈0.994) then 4 (cos≈0.707); vector 2
    // never appears despite cos≈0.999 — it shares the anchor's label
    assert(out === Seq((1L, 3L, 1L), (2L, 4L, 1L)), out.mkString(","))
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        anchors, "query_id", "qv", "qlabel", 0)
    }
  }

  test("binarize: sign bits packed little-endian per 32-bit word, 0 counts as set") {
    // dim 4 → one word: [1, -1, 0, -2] → bits 0 and 2 set (0 ≥ 0) → 5
    val e = Seq((1L, Array(1.0f, -1.0f, 0.0f, -2.0f))).toDF("vec_id", "embedding")
    assert(Similarity.binarize(e, "vec_id", "embedding", 4)
      .select($"bits").as[Seq[Long]].head() === Seq(5L))
    // dim 40 → two words, second holds 8 valid bits: all-positive vector
    // → w0 = 2³²−1, w1 = 2⁸−1 (valid-width mask, not a full word)
    val wide = Seq((1L, Array.fill(40)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.binarize(wide, "vec_id", "embedding", 40)
      .select($"bits").as[Seq[Long]].head() === Seq((1L << 32) - 1, 255L))
    intercept[IllegalArgumentException] {
      Similarity.binarize(e, "vec_id", "embedding", 0)
    }
  }

  test("hammingTopK: hamming pool then exact-dot rerank, hand-checked") {
    val e = Seq(
      (0L, Array(1.0f, 1.0f, 1.0f, 1.0f)),   // query: bits 1111
      (1L, Array(1.0f, -1.0f, 1.0f, -1.0f)), // bits 0101 → hamming 2, dot 0
      (2L, Array(-1.0f, -1.0f, -1.0f, -1.0f)), // bits 0000 → hamming 4, dot −4
      (3L, Array(1.0f, 1.0f, 1.0f, -2.0f))  // bits 0111 → hamming 1, dot 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.hammingTopK(e, "vec_id", "embedding", dim = 4,
        queryId = 0L, k = 3, rerankPool = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // rerank orders by exact dot desc, NOT by hamming
    assert(out === Seq((3L, 1L, 1.0), (1L, 2L, 0.0), (2L, 4L, -4.0)),
      out.mkString(","))
    // pool smaller than the corpus truncates BEFORE rerank: with pool 1
    // only the hamming-best row (id 3) survives
    val pooled = Similarity.hammingTopK(e, "vec_id", "embedding", dim = 4,
      queryId = 0L, k = 1, rerankPool = 1).collect()
    assert(pooled.map(_.getLong(0)).toSeq === Seq(3L))
    intercept[IllegalArgumentException] {
      Similarity.hammingTopK(e, "vec_id", "embedding", 4, 0L, k = 5,
        rerankPool = 2)
    }
  }

  test("densityClusters: cores/border/noise hand-checked at two minPts") {
    // unit vectors by angle; cos(Δθ) ≥ 0.9 ⇔ Δθ ≤ 25.8°. Neighbor graph:
    // 1-2, 1-3, 2-3, 3-4. Degrees: 1:2, 2:2, 3:3, 4:1, 5:0.
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val e = Seq(1L -> v(0), 2L -> v(10), 3L -> v(20), 4L -> v(40),
      5L -> v(90)).toDF("vec_id", "embedding")
    val cents = Seq(0L -> Seq(1.0, 0.0)) // one cell: pairs = all thresholded
    def run(minPts: Int) =
      Similarity.densityClusters(e, "vec_id", "embedding", cents, 0.9, minPts)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2),
            if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val m2 = run(2)
    assert(m2 === Map(
      1L -> ((2L, "core", 1L)), 2L -> ((2L, "core", 1L)),
      3L -> ((3L, "core", 1L)),
      4L -> ((1L, "border", 1L)),   // attached through core 3
      5L -> ((0L, "noise", -1L))))
    // at minPts 3 only vertex 3 is dense enough: 1, 2, 4 demote to
    // border (cluster = the lone core's label), the blob does NOT chain
    val m3 = run(3)
    assert(m3 === Map(
      1L -> ((2L, "border", 3L)), 2L -> ((2L, "border", 3L)),
      3L -> ((3L, "core", 3L)),
      4L -> ((1L, "border", 3L)), 5L -> ((0L, "noise", -1L))))
    intercept[IllegalArgumentException] {
      Similarity.densityClusters(e, "vec_id", "embedding", cents, 0.9, 0)
    }
  }

  test("semantic collapse: duplicate-heavy fixture equals row-level brute force") {
    // The group-collapse forms must be bit-equal to row-pair semantics
    // in the regime they exist for: duplicate copies (identical vectors
    // pair each other at cosine 1), plus the degenerate zero vector
    // whose copies pair with NOTHING — not even each other.
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val vecs: Seq[(Long, Array[Float])] =
      Seq(1L -> v(0), 2L -> v(0), 3L -> v(0),        // 3 copies
        4L -> v(10), 5L -> v(10),                     // 2 copies, near 0°
        6L -> v(40),                                  // border-ish via 10°?
        7L -> v(90),                                  // isolated
        8L -> Array(0f, 0f), 9L -> Array(0f, 0f))     // zero copies
    val e = vecs.toDF("vec_id", "embedding")
    val cents = Seq(0L -> Seq(1.0, 0.0))
    // row-level brute force (the pre-collapse semantics)
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na > 0 && nb > 0)
        Some(BigDecimal(dot / (na * nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    val thr = 0.9
    val ids = vecs.map(_._1)
    val nbrs = ids.map { i =>
      i -> ids.filter(j => j != i && cos(vecs.find(_._1 == i).get._2,
        vecs.find(_._1 == j).get._2).exists(_ >= thr))
    }.toMap
    // CC over the qualifying pair graph, min-id labels
    def ccLabel(seed: Long): Long = {
      var comp = Set(seed); var frontier = Set(seed)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(nbrs(_)).diff(comp)
        comp ++= next; frontier = next
      }
      comp.min
    }
    val expectedClusters = ids.map(i => i -> ccLabel(i)).toMap
    val gotDedup = Similarity.semanticDedup(e, "vec_id", "embedding",
        cents, thr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDedup === expectedClusters,
      "collapsed semanticDedup must equal row-level CC (zero copies stay singletons)")
    // density at minPts = 2: brute-force roles/degrees/clusters
    val minPts = 2
    val deg = ids.map(i => i -> nbrs(i).size.toLong).toMap
    val cores = ids.filter(deg(_) >= minPts).toSet
    def coreCc(seed: Long): Long = {
      var comp = Set(seed); var frontier = Set(seed)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(i => nbrs(i).filter(cores)).diff(comp)
        comp ++= next; frontier = next
      }
      comp.min
    }
    val expectedDensity = ids.map { i =>
      val role =
        if (cores(i)) "core"
        else if (nbrs(i).exists(cores)) "border"
        else "noise"
      val cluster: Option[Long] =
        if (cores(i)) Some(coreCc(i))
        else if (nbrs(i).exists(cores))
          Some(nbrs(i).filter(cores).map(coreCc).min)
        else None
      i -> ((deg(i), role, cluster.getOrElse(-1L)))
    }.toMap
    val gotDensity = Similarity.densityClusters(e, "vec_id", "embedding",
        cents, thr, minPts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(gotDensity === expectedDensity,
      "collapsed densityClusters must equal row-level DBSCAN semantics")
    assert(deg(8L) === 0L && gotDensity(8L)._2 === "noise",
      "zero-vector copies see no neighbors, not even each other")
  }

  test("centroidDrift: orthogonal/aligned/missing-slice hand-check") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0), // even, label 0
      (1L, Array(0.0f, 1.0f), 0),                             // odd, label 0
      (4L, Array(1.0f, 1.0f), 1), (5L, Array(2.0f, 2.0f), 1), // aligned
      (6L, Array(3.0f, 0.0f), 2)                              // even only
    ).toDF("vec_id", "embedding", "label")
      .withColumn("half", (col("vec_id") % 2).cast("int"))
    val out = Similarity.centroidDrift(e, "vec_id", "embedding",
        "label", "half")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(out(0)._1 === 2L && out(0)._2 === 1L && out(0)._3 === 0.0)
    assert(out(1) === ((1L, 1L, 1.0)))
    assert(out(2)._1 === 1L && out(2)._2 === 0L && out(2)._3.isNaN) // null cos
  }
  test("silhouetteSimplified: separated, boundary-tie and mean hand-check") {
    val cents = Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0))
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),  // on c0: a=0, b=1 -> s=1
      (2L, Array(0.0f, 1.0f)),  // on c1: s=1
      (3L, Array(1.0f, 1.0f))   // exactly equidistant: tie -> cell 0, s=0
    ).toDF("vec_id", "embedding")
    val out = Similarity.silhouetteSimplified(e, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out === Map(0L -> ((2L, 0.5)), 1L -> ((1L, 1.0))))
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(e, "vec_id", "embedding",
        cents.take(1))
    }
  }
  test("mmdTest: identical slices give 0; mean shift moves linear term") {
    // slices identical up to pairing -> both MMD terms exactly 0
    val same = Seq(
      (0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 0.0f)), (3L, Array(3.0f, 0.0f))
    ).toDF("vec_id", "embedding")
      .withColumn("half", (col("vec_id") % 2).cast("int"))
    val r0 = Similarity.mmdTest(same, "vec_id", "embedding", "half")
      .collect().head
    assert(r0.getLong(0) === 2L && r0.getLong(1) === 2L)
    assert(r0.getDouble(2) === 0.0 && r0.getDouble(3) === 0.0)
    // shift slice B by (1, 0): linear MMD = 1; quadratic reacts too
    val shifted = Seq(
      (0L, Array(1.0f, 2.0f)), (1L, Array(2.0f, 2.0f)),
      (2L, Array(3.0f, 0.0f)), (3L, Array(4.0f, 0.0f))
    ).toDF("vec_id", "embedding")
      .withColumn("half", (col("vec_id") % 2).cast("int"))
    val r1 = Similarity.mmdTest(shifted, "vec_id", "embedding", "half")
      .collect().head
    assert(r1.getDouble(2) === 1.0, r1.toString)
    assert(r1.getDouble(3) > 0.0)
    // covariance-only difference: means equal, quadratic term fires
    val rot = Seq(
      (0L, Array(1.0f, 1.0f)), (2L, Array(-1.0f, -1.0f)),   // A: corr +1
      (1L, Array(1.0f, -1.0f)), (3L, Array(-1.0f, 1.0f))    // B: corr -1
    ).toDF("vec_id", "embedding")
      .withColumn("half", (col("vec_id") % 2).cast("int"))
    val r2 = Similarity.mmdTest(rot, "vec_id", "embedding", "half")
      .collect().head
    assert(r2.getDouble(2) === 0.0)      // identical (zero) means
    // M_A = [[1,1],[1,1]], M_B = [[1,-1],[-1,1]]:
    // <A,A> = <B,B> = 4, <A,B> = 0 -> MMD2 = 8
    assert(r2.getDouble(3) === 8.0, r2.toString)
  }

  test("twoNN: hand-checked line estimate, duplicate exclusion") {
    // colinear points 0,1,3,7,15 — squared 2NN ratios per point:
    // 0:(1,9)→9, 1:(1,4)→4, 3:(4,9)→9/4, 7:(16,36)→9/4,
    // 15:(64,144)→9/4; d̂ = 2·5/Σln
    val line = Seq(0.0f, 1.0f, 3.0f, 7.0f, 15.0f).zipWithIndex.map {
      case (x, i) => (i.toLong, Array(x, 0.0f))
    }.toDF("vec_id", "embedding")
    val r = Similarity.twoNN(line, "vec_id", "embedding").collect().head
    assert(r.getLong(0) === 5L && r.getLong(1) === 5L)
    val slog = math.log(9.0) + math.log(4.0) + 3.0 * math.log(2.25)
    val exp = BigDecimal(10.0 / slog)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) === exp)
    // exact duplicates have d1 = 0 on both members → excluded from the
    // estimate but counted in n_points
    val dup = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(4.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rd = Similarity.twoNN(dup, "vec_id", "embedding").collect().head
    assert(rd.getLong(0) === 4L && rd.getLong(1) === 2L)
  }
}
