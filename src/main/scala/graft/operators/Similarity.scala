package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2b similarity search).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k against a single query vector —
  *    a scan + per-row scalar expression + top-k sort. Linear, fully
  *    distributed; the baseline and the re-rank primitive.
  *  - [[lshTopK]] / [[nearDupPairs]]: random-hyperplane LSH bucketing prunes
  *    the candidate space so the pairwise work is per-bucket, not O(n²) —
  *    the 100 TB path.
  */
object Similarity {

  /** Exact top-k by cosine similarity to one literal query vector.
    * The query is inlined into the expression (no join); Spark executes a
    * TakeOrdered (per-partition top-k + merge), so no full sort/shuffle. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    embeddings
      .select(col(idCol),
        VectorFunctions.cosineSimilarity(col(vecCol), q).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (xorshift-seeded), so LSH
    * bucketing is reproducible across runs/engines. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      (state.toDouble / Long.MaxValue)
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** Assign each vector an LSH bucket id from `numPlanes` hyperplane sign
    * bits. 2^numPlanes buckets; per-bucket population n/2^p in expectation. */
  def withLshBucket(embeddings: DataFrame, vecCol: String,
                    planes: Seq[Seq[Double]]): DataFrame =
    embeddings.withColumn("lsh_bucket",
      VectorFunctions.lshBucket(col(vecCol), planes))

  /** The deterministic multi-probe bucket sequence for a query: its own
    * bucket first, then buckets reached by flipping ONE sign bit, in
    * ascending |dot(query, plane)| order — the planes the query sits
    * closest to are the ones most likely to have split true neighbors
    * into the adjacent bucket (standard multi-probe LSH perturbation).
    * Pure driver-side arithmetic on literals → reproducible anywhere. */
  def lshProbeBuckets(query: Seq[Double], planes: Seq[Seq[Double]],
                      probes: Int): Seq[Int] = {
    require(probes >= 1 && probes <= planes.size + 1,
      s"probes must be in [1, numPlanes+1] (got $probes for ${planes.size} planes)")
    val dots = planes.map(p => p.zip(query).map { case (x, y) => x * y }.sum)
    val base = dots.zipWithIndex.foldLeft(0) { case (b, (d, i)) =>
      if (d >= 0.0) b | (1 << i) else b
    }
    val flipOrder = dots.zipWithIndex.sortBy { case (d, i) => (math.abs(d), i) }
    base +: flipOrder.take(probes - 1).map { case (_, i) => base ^ (1 << i) }
  }

  /** ANN top-k: probe the query's LSH bucket (plus, with `probes` > 1, the
    * multi-probe perturbation buckets from [[lshProbeBuckets]]), exact
    * re-rank inside the probed set. Recall is tuned by numPlanes (fewer
    * planes → bigger buckets) and `probes` (more buckets scanned —
    * recovering neighbors a near-zero-margin plane split away) — cost is
    * ~probes/2^numPlanes of the corpus, still a map-side filter + TakeOrdered
    * at 100 TB (the probe set is an `isin` literal list, no join). */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, planes: Seq[Seq[Double]],
              probes: Int = 1): DataFrame = {
    val buckets = lshProbeBuckets(query, planes, probes)
    withLshBucket(embeddings, vecCol, planes)
      .filter(col("lsh_bucket").isin(buckets: _*))
      .select(col(idCol),
        // rank on the 6dp-rounded score with an id tiebreak so the top-k
        // cut is reproducible across engines (double ulps cannot flip it)
        round(VectorFunctions.cosineSimilarity(col(vecCol), array(query.map(lit): _*)), 6)
          .as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Embedding near-duplicate pairs: bucket with LSH, self-join per bucket
    * (equi-join on bucket id — shuffle ∝ Σ bucket²; with enough planes this
    * is linear-ish), exact cosine re-rank, keep pairs ≥ threshold. */
  def nearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                   planes: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val bucketed = withLshBucket(embeddings, vecCol, planes)
      .select(col(idCol), col(vecCol), col("lsh_bucket"))
    val a = bucketed.toDF("id_a", "vec_a", "lsh_bucket")
    val b = bucketed.toDF("id_b", "vec_b", "lsh_bucket")
    a.join(b, Seq("lsh_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        VectorFunctions.cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Collect a bounded centroid table to the driver (k rows — the one
    * legitimate tiny-collect, like LSH plane literals). Values widen to
    * Double so seed centroids and k-means-trained means share one type
    * (float→double is exact; the cosine math is double either way). */
  def collectCentroids(centroids: DataFrame, idCol: String, vecCol: String): Seq[(Long, Seq[Double])] =
    centroids.select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .sortBy(_._1).toSeq

  /** IVF (inverted-file) coarse quantization: assign every vector to its
    * nearest centroid by cosine (ties → lowest centroid id). The centroids
    * are inlined as literal arrays, so assignment is a per-row argmax
    * expression chain — no crossJoin row expansion, no shuffle, no window:
    * a pure map-side scan, the standard ANN index build, linear at 100 TB.
    * Centroids come from any deterministic seed set or from [[kmeansTrain]]
    * (Lloyd's iterations) for a data-adapted codebook. */
  def ivfAssign(embeddings: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    // Argmax as array_max over (cos, -cell) structs: each centroid cosine is
    // evaluated exactly once per row. (A when-chain reduce duplicates the
    // accumulated branch at every level — 2^k copies of the innermost
    // cosine by k centroids — which breaks whole-stage codegen long before
    // a realistic k=256 IVF codebook.) Struct ordering compares cos first;
    // the negated cell id makes ties resolve to the LOWEST centroid id.
    val scored = array(centroids.sortBy(_._1).map { case (cid, cvec) =>
      struct(
        VectorFunctions.cosineSimilarity(col(vecCol), array(cvec.map(lit): _*)).as("cos"),
        lit(-cid).as("negcell"))
    }: _*)
    embeddings.select(col(idCol), col(vecCol),
      (-array_max(scored).getField("negcell")).as("cell"))
  }

  /** Above this many inlined terms (k centroids × dim, or nSub × ksub ×
    * subDim for PQ), prefer the broadcast-codebook variants over literal
    * inlining: a literal argmax chain grows the generated code linearly
    * with k×dim, and past a few thousand terms it first loses whole-stage
    * codegen (64 KB JVM method limit → interpreted fallback) and before
    * that pays real JIT cost per executor (measured: the 512-term
    * q_pq_topk literal showed 2.7 s → 9.3 s run-to-run JIT variance).
    * 2048 keeps the sandbox codebooks (8×64 = 512, 4×8×16 = 512) on the
    * literal path while a production k=256×64 codebook (16k terms)
    * dispatches to broadcast. */
  val LiteralTermLimit: Int = 2048

  /** The centroid set as a (cell, cvec) DataFrame — the broadcast-side
    * representation for [[ivfAssignBroadcast]]. Inverse of
    * [[collectCentroids]]; kept tiny (k rows). */
  def centroidsAsTable(spark: org.apache.spark.sql.SparkSession,
                       centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.toDF("cell", "cvec")
  }

  /** [[ivfAssign]] with the codebook as a broadcast TABLE instead of
    * inlined literals — the ≥~2k-term scale path (k=256+, dim 64+)
    * where literal inlining would exceed JVM codegen limits.
    *
    * Shape: the k centroid rows collapse to ONE array-of-structs row
    * (sorted by cell, like the literal path's sortBy), which rides a
    * broadcast crossJoin onto every data row; the argmax is the native
    * [[VectorFunctions.nearestCentroid]] kernel, whose generated code is
    * one static call — CONSTANT in k — with the k-loop and the same
    * single-pass cosine arithmetic inside. Still zero shuffle and zero
    * per-row join expansion — strictly the literal plan shape with the
    * codebook hoisted out of the generated code. (A plain broadcast
    * join + min_by/groupBy(id) would expand n×k rows and re-shuffle on
    * id; an HOF transform/array_max formulation is interpreted, ~10×
    * per-row cost. This avoids all three.) Assignment is bit-identical
    * to [[ivfAssign]] — pinned by SimilaritySpec. */
  def ivfAssignBroadcast(embeddings: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame): DataFrame = {
    val centsRow = centroids.agg(
      sort_array(collect_list(struct(col("cell").cast("long").as("cell"),
        col("cvec").as("cvec")))).as("__cents"))
    embeddings.crossJoin(broadcast(centsRow))
      .select(col(idCol), col(vecCol),
        VectorFunctions.nearestCentroid(col(vecCol), col("__cents")).as("cell"))
  }

  /** Literal-vs-broadcast dispatch on codebook size: literal inlining
    * (fully codegen'd, fastest at small k) below [[LiteralTermLimit]]
    * total terms, broadcast table above (no codegen-size ceiling). Both
    * branches produce bit-identical assignments. */
  def ivfAssignAuto(embeddings: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val terms = centroids.iterator.map(_._2.length).sum
    if (terms <= LiteralTermLimit) ivfAssign(embeddings, idCol, vecCol, centroids)
    else ivfAssignBroadcast(embeddings, idCol, vecCol,
      centroidsAsTable(embeddings.sparkSession, centroids))
  }

  /** IVF ANN top-k: probe the `nprobe` centroid cells nearest the query,
    * exact cosine re-rank within them. Scans only ~nprobe/k of the corpus
    * (the recall/cost dial), never materializes O(n²) pairs. Ranking uses
    * the score rounded to 6dp with id tiebreak so results are reproducible
    * across engines. The query stays a (broadcast) 1-row frame — no
    * driver-side collect of data vectors. */
  def ivfTopK(assigned: DataFrame, idCol: String, vecCol: String,
              centroids: Seq[(Long, Seq[Double])],
              query: DataFrame, queryVecCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = assigned.sparkSession
    import spark.implicits._
    val centsDf = centroids.toDF("cell", "cvec") // k rows
    val qcells = centsDf
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .withColumn("__qcos",
        round(VectorFunctions.cosineSimilarity(col("cvec"), col("__qv")), 6))
      .withColumn("__rn", row_number().over(
        Window.partitionBy().orderBy(col("__qcos").desc, col("cell").asc)))
      .filter(col("__rn") <= nprobe)
      .select(col("cell"))
    assigned
      .join(broadcast(qcells), Seq("cell"), "left_semi")
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col(vecCol), col("__qv")), 6))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cell"), col("cosine_sim"))
  }

  /** One Lloyd (k-means) iteration as a dataflow: assign every vector to
    * its nearest current centroid ([[ivfAssign]] — map-side argmax, no
    * shuffle), then compute per-(cell, dimension) means with ONE
    * hash-aggregate. posexplode expands n rows to n×dim, but the partial
    * (map-side) combine collapses each partition to ≤ k×dim rows before
    * the exchange — at 100 TB only k×dim×partitions tiny rows shuffle.
    * Returns (cell, pos, c_val, n): the updated codebook in long form,
    * n = cell population (repeated per pos). */
  def kmeansStep(embeddings: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[(Long, Seq[Double])]): DataFrame =
    ivfAssign(embeddings, idCol, vecCol, centroids)
      .select(col("cell"), posexplode(col(vecCol)))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col").cast("double")).as("c_val"), count(lit(1)).as("n"))

  /** Train an IVF codebook with `iters` Lloyd iterations. Seed centroids
    * are the k lowest-id vectors (deterministic — reproducible across
    * runs/engines, unlike a random init). Each iteration collects k×dim
    * mean values to the driver (k ≤ a few hundred — the same legitimate
    * tiny-collect as the centroid literals themselves); a cell that ends
    * up empty keeps its previous centroid. Clustering quality is standard
    * Lloyd's; for ANN coarse quantization a handful of iterations over a
    * (deterministic) sample is the production recipe — the corpus itself
    * is only ever touched map-side. */
  def kmeansTrain(embeddings: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0 and iters >= 0 (got k=$k, iters=$iters)")
    var cents = collectCentroids(
      embeddings.orderBy(col(idCol).asc).limit(k), idCol, vecCol)
    require(cents.size == k, s"need at least $k seed vectors (got ${cents.size})")
    for (_ <- 1 to iters) {
      val means = kmeansStep(embeddings, idCol, vecCol, cents)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cell, rows) => cell -> rows.sortBy(_._2).map(_._3).toSeq }
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    cents
  }

  /** Exact all-pairs cosine over a bounded id range — the correctness oracle
    * for the LSH path and the re-rank building block. Callers MUST bound the
    * input (this one is O(n²) by design). */
  def exactPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                 threshold: Double): DataFrame = {
    val a = embeddings.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = embeddings.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        VectorFunctions.cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** TwoNN intrinsic-dimension estimator (Facco, d'Errico, Rodriguez &
    * Laio, Sci. Rep.'17): the MLE d̂ = n_used / Σ ln(r₂/r₁) over each
    * point's first/second nearest-neighbor distance ratio — the
    * embedding-space health readout: a 768-dim embedding column whose
    * intrinsic dimension is 8 wastes 760 dims (quantize/truncate it — see
    * matryoshka), while d̂ near the ambient dim says compression will
    * cost recall. Uses only the 2NN ratio, so it is insensitive to
    * density variation (the paper's point) and needs no binning.
    *
    * Squared Euclidean distances via the identity |a−b|² =
    * ⟨a,a⟩+⟨b,b⟩−2⟨a,b⟩ (three fixed-order native dot products —
    * deterministic cross-engine, no libm); since r₂/r₁ = √(d₂/d₁), the
    * estimator folds the √ into d̂ = 2·n_used / Σ ln(d₂²-ratio).
    * Points with d₁ ≤ 0 (exact duplicates, or cancellation-negative
    * zeros) carry no ratio information and are excluded, reported in
    * n_points vs n_used.
    *
    * O(n²) brute force BY DESIGN — bound the input like [[exactPairs]];
    * the scale path runs it on a deterministic sample (intrinsic dim is
    * a population property; a few hundred points suffice per the
    * paper). */
  def twoNN(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val a = embeddings.select(col(idCol).as("__ida"), col(vecCol).as("__va"))
    val b = embeddings.select(col(idCol).as("__idb"), col(vecCol).as("__vb"))
    val d2 = a.crossJoin(b)
      .filter(col("__ida") =!= col("__idb"))
      .withColumn("__d2",
        VectorFunctions.dotProduct(col("__va"), col("__va"))
          + VectorFunctions.dotProduct(col("__vb"), col("__vb"))
          - lit(2.0) * VectorFunctions.dotProduct(col("__va"), col("__vb")))
    val byPoint = Window.partitionBy(col("__ida"))
      .orderBy(col("__d2").asc, col("__idb").asc)
    val nn = d2.withColumn("__rn", row_number().over(byPoint))
      .filter(col("__rn") <= 2)
      .groupBy(col("__ida"))
      .agg(min(when(col("__rn") === 1, col("__d2"))).as("__d1"),
        min(when(col("__rn") === 2, col("__d2"))).as("__d2nd"))
    nn.agg(count(lit(1)).as("n_points"),
        sum(when(col("__d1") > 0.0, 1L).otherwise(0L)).as("n_used"),
        sum(when(col("__d1") > 0.0, log(col("__d2nd") / col("__d1"))))
          .as("__slog"))
      .select(col("n_points"), col("n_used"),
        round(when(col("__slog") > 0.0,
          lit(2.0) * col("n_used").cast("double") / col("__slog")),
          6).as("intrinsic_dim"))
  }

  /** SemDeDup-style semantic near-dup pairs: all (id_a < id_b) pairs
    * WITHIN an IVF cell whose embedding cosine ≥ threshold (rounded to 6dp
    * first so the cut is engine-reproducible). Pairs straddling cells are
    * missed by design — that recall/cost trade is the whole point of
    * clustering first (SemDeDup, arXiv 2303.09540): pair work collapses
    * from O(n²) to Σ_cell O(|cell|²).
    *
    * Scale shape: one self-equi-join on the cell id. Cell population is
    * corpus/k in expectation — size k so cells fit a task; a hot cell is
    * ordinary join skew (AQE). Feed the output to
    * [[graft.operators.Dedup.duplicateClusters]] for survivor selection. */
  def semanticPairs(assigned: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col("__va"), col("__vb")), 6))
      .filter(col("cosine_sim") >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Distinct-vector collapse of an IVF-assigned frame — the
    * Fellegi–Sunter group trick applied to embedding cells: rows
    * sharing (cell, vector) form ONE group carrying multiplicity, the
    * minimum member id (the CC label representative) and whether the
    * group is SELF-CONNECTED (its self-cosine qualifies — false only
    * for degenerate zero/NaN vectors, whose copies never pair even
    * with themselves). The quadratic cell join then runs over groups:
    * pair work is Σ_cell (distinct vectors)², INVARIANT under
    * duplication — exactly the regime a duplicate-heavy corpus (or
    * the verbatim-copy scale soak) presents, where the raw row join
    * grows copies². Groups are localCheckpointed: ~distinct-vector
    * rows, consumed by both join sides plus the row relabel. */
  private def vectorGroups(assigned: DataFrame, idCol: String,
                           vecCol: String, threshold: Double): DataFrame =
    assigned
      .groupBy(col("cell"), col(vecCol).as("__v"))
      .agg(count(lit(1)).as("__g"), min(col(idCol)).as("__gmin"))
      .withColumn("__self",
        coalesce(round(VectorFunctions.cosineSimilarity(col("__v"),
          col("__v")), 6) >= threshold, lit(false)))
      .localCheckpoint()

  /** Qualifying unordered DISTINCT-VECTOR pairs within a cell, with
    * group multiplicities and representatives on both sides. */
  private def vectorGroupPairs(groups: DataFrame,
                               threshold: Double): DataFrame = {
    val ga = groups.select(col("cell"), col("__v").as("__va"),
      col("__g").as("__ga"), col("__gmin").as("__mina"))
    val gb = groups.select(col("cell"), col("__v").as("__vb"),
      col("__g").as("__gb"), col("__gmin").as("__minb"))
    ga.join(gb, Seq("cell"))
      .filter(col("__mina") < col("__minb"))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col("__va"), col("__vb")), 6))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Semantic dedup end-to-end: IVF-assign → within-cell cosine pairs →
    * connected components → per-cluster canonical survivor (lowest id).
    * Returns every input id with its cluster label and survivor flag —
    * filter `is_canonical` to materialize the deduplicated corpus.
    *
    * Scale shape (re-shaped after the 100× soak): rows collapse to
    * DISTINCT (cell, vector) groups first ([[vectorGroups]]), the
    * quadratic join and the CC run over GROUPS (a group is internally
    * a clique — identical vectors score cosine 1 — so the group graph's
    * components blow up to exactly the row graph's), and one final join
    * relabels rows. Duplicate copies add ZERO pair work; the raw
    * row-pair form measured copies² (the sf10 tree ground >30 min where
    * this runs in seconds). Output is bit-identical: group labels ARE
    * min member ids. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Long, Seq[Double])],
                    threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be > 0: $threshold")
    val assigned = ivfAssign(embeddings, idCol, vecCol, centroids)
    val groups = vectorGroups(assigned, idCol, vecCol, threshold)
    val gp = vectorGroupPairs(groups, threshold)
    val groupCC = Dedup.duplicateClusters(
      groups.select(col("__gmin").as(idCol)),
      gp.select(col("__mina").as("id_a"), col("__minb").as("id_b")), idCol)
      .select(col(idCol).as("__gmin"), col("cluster").as("__gc"))
    val gmap = groups.select(col("cell").as("__gcell"), col("__v"),
      col("__gmin"), col("__self"))
    assigned.select(col(idCol), col("cell"), col(vecCol).as("__rv"))
      .join(gmap, col("cell") <=> col("__gcell") &&
        col("__rv") <=> col("__v"))
      .join(groupCC, Seq("__gmin"))
      // a group that cannot pair with ITSELF (degenerate vector) leaves
      // each member a singleton — exactly the row-graph semantics
      .select(col(idCol),
        when(col("__self"), col("__gc")).otherwise(col(idCol))
          .as("cluster"))
      .withColumn("is_canonical", col(idCol) === col("cluster"))
  }

  /** DBSCAN-style density clustering within IVF cells (public: Ester et
    * al. KDD'96, composed with the SemDeDup cell-bounding trick): a point
    * is a CORE when it has ≥ `minPts` same-cell neighbors at cosine ≥
    * `threshold`; clusters are connected components over CORE–CORE
    * edges; a non-core point with ≥1 core neighbor is a BORDER and joins
    * its LOWEST core neighbor's cluster (the classic algorithm leaves
    * border assignment visit-order-dependent — min makes it a
    * deterministic function of the input); everything else is NOISE
    * (null cluster). Density clustering separates dense duplicate blobs
    * that single-linkage CC would chain together through sparse bridge
    * points — the bridge is noise here, the chain breaks.
    *
    * Returns every input id: (id, n_neighbors, role core/border/noise,
    * cluster).
    *
    * Scale shape (re-shaped after the 100× soak, like [[semanticDedup]]):
    * rows collapse to DISTINCT (cell, vector) groups, the quadratic
    * join runs over groups ([[vectorGroupPairs]], invariant under
    * duplication), and ALL of degrees, core status, core CC and border
    * attachment are computed at the GROUP level — every member of a
    * group has the same neighbor count ((g−1) in-group + Σ neighbor
    * multiplicities), hence the same role and cluster, so one relabel
    * join restores row-level output bit-identically. Duplicate copies
    * add zero pair work (the raw row form measured copies²). */
  def densityClusters(embeddings: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[(Long, Seq[Double])], threshold: Double,
                      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    require(threshold > 0, s"threshold must be > 0: $threshold")
    val assigned = ivfAssign(embeddings, idCol, vecCol, centroids)
    val groups = vectorGroups(assigned, idCol, vecCol, threshold)
    // qualifying group pairs feed the adjacency (both directions) and
    // the core-edge stream — checkpoint the bounded distinct-pair frame
    val gp = vectorGroupPairs(groups, threshold)
      .select(col("__mina"), col("__minb"), col("__ga"), col("__gb"))
      .localCheckpoint()
    val adj = gp.select(col("__mina").as("__gm"), col("__minb").as("__nb"),
        col("__gb").as("__nc"))
      .unionAll(gp.select(col("__minb").as("__gm"),
        col("__mina").as("__nb"), col("__ga").as("__nc")))
    val nbMass = adj.groupBy(col("__gm")).agg(sum(col("__nc")).as("__ext"))
    // per-group degree = in-group clique neighbors (self-connected
    // groups only — degenerate vectors pair with nothing, not even
    // their own copies) + all members of qualifying neighbor groups
    val gdeg = groups.select(col("__gmin").as("__gm"), col("__g"),
        col("__self"))
      .join(nbMass, Seq("__gm"), "left")
      .withColumn("__deg",
        when(col("__self"), col("__g") - 1L).otherwise(0L)
          + coalesce(col("__ext"), lit(0L)))
      .withColumn("__core", col("__deg") >= minPts)
      .localCheckpoint()
    val coreG = gdeg.filter(col("__core")).select(col("__gm"))
    val coreEdges = gp
      .join(coreG.toDF("__mina"), Seq("__mina"), "left_semi")
      .join(coreG.toDF("__minb"), Seq("__minb"), "left_semi")
      .select(col("__mina").as("id_a"), col("__minb").as("id_b"))
    val coreClusters = Dedup.duplicateClusters(
        coreG.toDF(idCol), coreEdges, idCol)
      .select(col(idCol).as("__gm"), col("cluster").as("__gc"))
    val borderG = adj
      .join(coreG.toDF("__nb"), Seq("__nb"), "left_semi") // neighbor core
      .join(coreG.toDF("__gm"), Seq("__gm"), "left_anti") // self is not
      .join(coreClusters.select(col("__gm").as("__nb"), col("__gc")),
        Seq("__nb"))
      .groupBy(col("__gm")).agg(min(col("__gc")).as("__bc"))
    val gmap = groups.select(col("cell").as("__gcell"), col("__v"),
      col("__gmin").as("__gm"))
    assigned.select(col(idCol), col("cell"), col(vecCol).as("__rv"))
      .join(gmap, col("cell") <=> col("__gcell") &&
        col("__rv") <=> col("__v"))
      .join(gdeg.select(col("__gm"), col("__deg"), col("__core")),
        Seq("__gm"))
      .join(coreClusters, Seq("__gm"), "left")
      .join(borderG, Seq("__gm"), "left")
      .select(col(idCol),
        col("__deg").as("n_neighbors"),
        when(col("__core"), lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("__core"), col("__gc")).otherwise(col("__bc"))
          .as("cluster"))
  }

  /** Per-label embedding centroid drift between two slices (the
    * embedding-space sibling of the categorical drift monitors): for each
    * label, the cosine between the slice-0 and slice-1 centroid vectors —
    * 1.0 means the class occupies the same direction in both slices
    * (batch, time window, source); a drop flags embedding-model version
    * skew, upstream preprocessing drift, or class-semantics shift, BEFORE
    * a trained consumer finds out. Cosine is scale-invariant, so
    * centroids are represented by per-dimension SUMS (no count division
    * — one fewer float op to diverge). A label absent from either slice
    * yields null, never NaN.
    *
    * `sliceCol` is a binary 0/1 indicator column (precompute e.g.
    * id % 2, or a batch flag).
    *
    * Scale shape: one posexplode (rows × dim — the unavoidable cost of
    * dimension-wise aggregation), ONE (label, dim) hash aggregate with
    * map-side combine, then a label-sized aggregate — shuffle is
    * labels × dim cells, not rows. No window, no join beyond the
    * label-sized count join. */
  def centroidDrift(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, sliceCol: String): DataFrame = {
    val ex = embeddings.select(col(labelCol).as("label"),
        col(sliceCol).as("__s"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
    val dims = ex.groupBy(col("label"), col("__d"))
      .agg(sum(when(col("__s") === 0, col("__x").cast("double"))).as("__sa"),
        sum(when(col("__s") === 1, col("__x").cast("double"))).as("__sb"))
    val counts = embeddings.groupBy(col(labelCol).as("label"))
      .agg(count(when(col(sliceCol) === 0, lit(1))).as("n_a"),
        count(when(col(sliceCol) === 1, lit(1))).as("n_b"))
    dims.groupBy(col("label"))
      .agg(sum(col("__sa") * col("__sb")).as("__dot"),
        sum(col("__sa") * col("__sa")).as("__qa"),
        sum(col("__sb") * col("__sb")).as("__qb"))
      .join(counts, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("__qa") > 0 && col("__qb") > 0,
          round(col("__dot") / (sqrt(col("__qa")) * sqrt(col("__qb"))), 6))
          .as("centroid_cos"))
  }

  /** Two-sample Maximum Mean Discrepancy over embeddings (public:
    * Gretton et al. JMLR'12), the kernel distribution test that catches
    * what per-dimension monitors miss. Biased V-statistic estimators
    * computed WITHOUT any pairwise join, via moment identities:
    *  - linear kernel: MMD² = ‖μ_A − μ_B‖² (a mean-shift detector, the
    *    quantitative sibling of [[centroidDrift]]'s cosine);
    *  - quadratic kernel k(x,y) = (xᵀy)²: E_XY[k] = Σ_ij M^X_ij·M^Y_ij
    *    with M = E[xxᵀ], so MMD² = ⟨M_A, M_A⟩ + ⟨M_B, M_B⟩ −
    *    2⟨M_A, M_B⟩ — sensitive to COVARIANCE rotations that leave
    *    every mean untouched.
    * `sliceCol` is a 0/1 indicator ([[centroidDrift]]'s contract).
    * Returns one row: (n_a, n_b, mmd2_linear, mmd2_quad).
    *
    * Scale shape: the linear term is a (dim)-cell aggregate; the
    * quadratic term streams n·d² products into a d²-cell hash aggregate
    * with map-side combine (the [[powerIterationPCA]] covariance shape —
    * pair rows never materialize, and the n²-pair kernel sum never
    * exists). */
  def mmdTest(embeddings: DataFrame, idCol: String, vecCol: String,
              sliceCol: String): DataFrame = {
    val comp = embeddings.select(col(idCol).as("__vid"),
        col(sliceCol).as("__s"),
        posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .select(col("__vid"), col("__s"), col("__p").as("i"),
        col("__x").cast("double").as("x"))
    val counts = embeddings.groupBy()
      .agg(count(when(col(sliceCol) === 0, lit(1))).as("n_a"),
        count(when(col(sliceCol) === 1, lit(1))).as("n_b"))
    val means = comp.groupBy(col("i"))
      .agg(avg(when(col("__s") === 0, col("x"))).as("ma"),
        avg(when(col("__s") === 1, col("x"))).as("mb"))
    val lin = means.agg(
      sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("__lin"))
    val moments = comp.as("l")
      .join(comp.as("r"), col("l.__vid") === col("r.__vid"))
      .groupBy(col("l.i").as("i"), col("r.i").as("j"))
      .agg(avg(when(col("l.__s") === 0, col("l.x") * col("r.x"))).as("qa"),
        avg(when(col("l.__s") === 1, col("l.x") * col("r.x"))).as("qb"))
    val quad = moments.agg(
      sum(col("qa") * col("qa")).as("__eaa"),
      sum(col("qb") * col("qb")).as("__ebb"),
      sum(col("qa") * col("qb")).as("__eab"))
    counts.crossJoin(broadcast(lin)).crossJoin(broadcast(quad))
      .select(col("n_a"), col("n_b"),
        round(col("__lin"), 6).as("mmd2_linear"),
        round(col("__eaa") + col("__ebb") - lit(2.0) * col("__eab"), 6)
          .as("mmd2_quad"))
  }

  /** Multi-query exact top-k: every query row against every vector — the
    * ground-truth side of an ANN recall evaluation. O(nq·n) by design;
    * bound the query set, never the corpus. Ranking uses the 6dp-rounded
    * cosine with id tiebreak (reproducible across engines); a query never
    * matches itself.
    *
    * Scale shape: queries broadcast (bounded eval set), candidates rank
    * per query in a window — fan-in per query is the corpus, so this is
    * an EVAL harness, not a serving path ([[bruteForceTopK]]'s TakeOrdered
    * is the single-query serving shape). */
  def bruteForceTopKMulti(embeddings: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String, qvecCol: String,
                          k: Int): DataFrame = {
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    broadcast(queries.select(col(qidCol), col(qvecCol)))
      .join(embeddings, col(idCol) =!= col(qidCol))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col(vecCol), col(qvecCol)), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(qidCol).as("query_id"), col(idCol), col("cosine_sim"),
        col("rnk"))
  }

  /** Dominant principal direction of the (centered) embedding covariance
    * via `rounds` UNROLLED power-iteration steps (v ← C·v from v₀ = 1),
    * normalized at the end with a deterministic sign convention (the
    * largest-|loading| dimension is made positive, lowest dim on ties) —
    * plus the Rayleigh-quotient explained-variance share λ̂₁/tr(C). The
    * whitening/decorrelation pre-step of embedding pipelines (Su et al.
    * '21 whitening; drop-dominant-direction per Mu & Viswanath ICLR'18).
    * A FIXED round count makes the output a deterministic polynomial of
    * C — reproducible cross-engine (no convergence test, no RNG).
    *
    * Scale shape: the covariance is ONE self-join-per-vector aggregate —
    * n·d² products stream into a d²-cell hash aggregate with map-side
    * partial combine (never materialized), then `localCheckpoint` pins
    * the d²-row C so the 9 matvec joins (64-row vector each) don't
    * re-run the corpus pass. Everything after C is bounded by d. */
  def powerIterationPCA(embeddings: DataFrame, idCol: String, vecCol: String,
                        rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 12,
      s"rounds must be in [1, 12] (fixed, unrolled plan): $rounds")
    val comp = embeddings.select(col(idCol).as("__vid"),
        posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .select(col("__vid"), (col("__p") + 1).as("i"),
        col("__x").cast("double").as("x"))
    val n = embeddings.agg(count(lit(1)).cast("double").as("__n"))
    val mu = comp.groupBy(col("i")).agg(avg(col("x")).as("m"))
    val centered = comp.join(broadcast(mu), Seq("i"))
      .select(col("__vid"), col("i"), (col("x") - col("m")).as("xc"))
    val cov = centered.as("l")
      .join(centered.as("r"), col("l.__vid") === col("r.__vid"))
      .select(col("l.i").as("i"), col("r.i").as("j"),
        (col("l.xc") * col("r.xc")).as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("__s"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"), (col("__s") / col("__n")).as("c"))
      .localCheckpoint()
    var vec = mu.select(col("i"), lit(1.0).as("v"))
    for (_ <- 1 to rounds)
      vec = cov.join(broadcast(vec.select(col("i").as("j"), col("v"))), Seq("j"))
        .groupBy(col("i")).agg(sum(col("c") * col("v")).as("v"))
    val cv = cov.join(broadcast(vec.select(col("i").as("j"), col("v"))), Seq("j"))
      .groupBy(col("i")).agg(sum(col("c") * col("v")).as("w"))
    val ray = vec.join(cv, Seq("i"))
      .agg(sum(col("v") * col("w")).as("__vw"),
        sum(col("v") * col("v")).as("__vv"))
    val nrm = vec.agg(sqrt(sum(col("v") * col("v"))).as("__nn"))
    val tr = cov.filter(col("i") === col("j")).agg(sum(col("c")).as("__tr"))
    val sgn = vec.orderBy(abs(col("v")).desc, col("i").asc).limit(1)
      .select(when(col("v") < 0, lit(-1.0)).otherwise(lit(1.0)).as("__sg"))
    vec.crossJoin(broadcast(nrm)).crossJoin(broadcast(sgn))
      .crossJoin(broadcast(ray)).crossJoin(broadcast(tr))
      .select(col("i").as("dim"),
        round(col("__sg") * col("v") / col("__nn"), 6).as("loading"),
        round(col("__vw") / col("__vv") / col("__tr"), 6).as("explained_var"))
  }

  /** Hard-negative mining for contrastive training data (the DPR /
    * sentence-encoder recipe: Karpukhin et al., EMNLP'20 — negatives that
    * are semantically CLOSE but labeled different are the ones that move
    * the model): per anchor, the k most-cosine-similar corpus vectors
    * whose label differs from the anchor's. Same ranking contract as
    * [[bruteForceTopKMulti]] (6dp-rounded cosine desc, id asc tiebreak);
    * the label inequality also excludes the anchor itself.
    *
    * Scale shape: anchors broadcast (a bounded training-batch set), the
    * corpus scanned ONCE map-side — the label filter is applied in the
    * broadcast join condition, before any shuffle; the only shuffle is
    * the per-anchor rank window over anchor-keyed candidates. */
  def hardNegatives(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, qidCol: String,
                    qvecCol: String, qlabelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    broadcast(queries.select(col(qidCol), col(qvecCol), col(qlabelCol)))
      .join(embeddings, col(labelCol) =!= col(qlabelCol))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col(vecCol), col(qvecCol)), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(qidCol).as("query_id"), col(idCol), col(labelCol),
        col("cosine_sim"), col("rnk"))
  }

  /** Multi-query IVF ANN top-k: per query, rank the literal centroids by
    * (6dp-rounded) cosine, probe the top `nprobe` cells, exact-rerank the
    * candidates. Same ranking contract as [[bruteForceTopKMulti]], so the
    * two compose directly into [[recallAtK]].
    *
    * Scale shape: cell choice is per-query arithmetic on broadcast
    * literals; candidates come from ONE equi-join on the cell id
    * (~nprobe/k of the corpus per query). The per-query rank window
    * fans in those candidates — fine for an eval query set; a serving
    * path would pre-top-k per partition first. */
  def ivfTopKMulti(assigned: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Long, Seq[Double])],
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}]: $nprobe")
    val cellScores = array(centroids.sortBy(_._1).map { case (cid, cvec) =>
      struct(
        round(VectorFunctions.cosineSimilarity(col(qvecCol),
          array(cvec.map(lit): _*)), 6).as("ccos"),
        lit(cid).as("cell"))
    }: _*)
    val wc = Window.partitionBy(col(qidCol))
      .orderBy(col("ccos").desc, col("cell").asc)
    val probed = queries
      .select(col(qidCol), col(qvecCol), explode(cellScores).as("__sc"))
      .select(col(qidCol), col(qvecCol),
        col("__sc.ccos").as("ccos"), col("__sc.cell").as("cell"))
      .withColumn("__crn", row_number().over(wc))
      .filter(col("__crn") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("cell"))
    val wr = Window.partitionBy(col(qidCol))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    broadcast(probed)
      .join(assigned, Seq("cell"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("cosine_sim",
        round(VectorFunctions.cosineSimilarity(col(vecCol), col(qvecCol)), 6))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(qidCol).as("query_id"), col(idCol), col("cell"),
        col("cosine_sim"), col("rnk"))
  }

  /** Recall@k of an approximate top-k list against the exact one: per
    * query, |approx ∩ exact| / |exact|. Inputs are any two rank lists
    * sharing (query_id, id) columns — IVF vs brute force, LSH vs brute
    * force, or two ANN variants against each other.
    *
    * Scale shape: one equi-join on (query, id) + two tiny aggregates —
    * rows ∝ queries × k. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                queryCol: String, idCol: String): DataFrame = {
    val n = exact.groupBy(col(queryCol)).agg(count(lit(1)).as("n_exact"))
    val hits = exact.select(col(queryCol), col(idCol))
      .join(approx.select(col(queryCol), col(idCol)), Seq(queryCol, idCol))
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hits"))
    n.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"), 6)
          .as("recall"))
  }

  /** Davies-Bouldin cluster-quality readout (Davies & Bouldin, PAMI'79)
    * over cosine distance: per populated cluster i, scatter S_i = mean
    * member distance to the assigned centroid, separation M_ij = distance
    * between centroid literals, and the DB ratio max_{j≠i}(S_i+S_j)/M_ij
    * — high ratios mark cluster pairs that are wide relative to their
    * gap, the dial for choosing k before an IVF/semantic-dedup build.
    * Comparisons run among populated clusters only (an empty cell has no
    * scatter).
    *
    * Determinism: assignment by unrounded argmax (lowest cell on ties,
    * same contract as [[ivfAssign]]); distances 6dp-rounded, then summed
    * as DECIMAL(18,6) — exact, order-independent — and only divided back
    * to DOUBLE at the end; centroid separations are computed once on the
    * driver with the same left-assoc loop as the native expression and
    * shipped as literals.
    *
    * Scale shape: one map-side argmax scan + ONE hash aggregate (k rows
    * out), then k² literal-pair arithmetic on broadcast frames — nothing
    * corpus-sized shuffles. */
  def daviesBouldin(embeddings: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.size >= 2, "need at least 2 centroids")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val scored = array(centroids.sortBy(_._1).map { case (cid, cvec) =>
      struct(
        VectorFunctions.cosineSimilarity(col(vecCol), array(cvec.map(lit): _*))
          .as("cos"),
        lit(-cid).as("negcell"))
    }: _*)
    val best = array_max(scored)
    val members = embeddings.select(
      (-best.getField("negcell")).as("cell"),
      round(lit(1.0) - round(best.getField("cos"), 6), 6).as("__dist"))
    val scatter = members.groupBy(col("cell")).agg(
      count(lit(1)).as("n_members"),
      round(sum(col("__dist").cast("decimal(18,6)")).cast("double")
        / count(lit(1)), 6).as("scatter"))
    def dcos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = for {
      (ci, vi) <- centroids; (cj, vj) <- centroids if ci != cj
    } yield {
      val m = r6(1.0 - r6(dcos(vi, vj)))
      require(m > 0, s"centroids $ci and $cj coincide (zero separation)")
      (ci, cj, m)
    }
    val sj = scatter.select(col("cell").as("cell_j"), col("scatter").as("__sj"))
    scatter.join(broadcast(pairs.toDF("cell", "cell_j", "__m")), Seq("cell"))
      .join(broadcast(sj), Seq("cell_j"))
      .withColumn("__ratio",
        round((col("scatter") + col("__sj")) / col("__m"), 6))
      .groupBy(col("cell"), col("n_members"), col("scatter"))
      .agg(max(struct(col("__ratio").as("r"), (-col("cell_j")).as("negj")))
        .as("__w"))
      .select(col("cell"), col("n_members"), col("scatter"),
        (-col("__w.negj")).as("worst_cell"), col("__w.r").as("db_ratio"))
  }

  /** DCG position discounts 1/log2(i+1) for i = 1..k, SNAPPED to the
    * nearest multiple of 2⁻²⁰. Snapping makes every DCG contribution
    * (integer gain × dyadic discount) an exact dyadic rational far below
    * the 53-bit mantissa, so per-query sums are order-independent and
    * the same literals ship verbatim into the harness oracle — no libm
    * log2 runs inside either engine's plan. */
  private[graft] def ndcgDiscounts(k: Int): Seq[Double] = {
    val scale = (1 << 20).toDouble
    (1 to k).map { i =>
      math.rint(scale * math.log(2.0) / math.log(i + 1.0)) / scale
    }
  }

  /** NDCG@k + reciprocal rank of an approximate rank list judged against
    * the exact one (the standard graded retrieval eval: Järvelin &
    * Kekäläinen, TOIS'02). Relevance is derived from the exact ranking —
    * rel(item) = k+1 − exact_rank for members of the exact top-k, else 0
    * — gain = 2^rel − 1, discount_i = [[ndcgDiscounts]]. IDCG re-scores
    * the exact list in its own (ideal) order, so ndcg ∈ [0,1] measures
    * pure rank degradation of the ANN list. `first_hit` / `rr` add the
    * MRR readout (reciprocal rank of the first relevant item).
    *
    * Inputs are any two rank lists sharing (query, id, rank) columns —
    * the same contract as [[recallAtK]], which this refines: recall says
    * how many exact neighbors survived, NDCG says where they landed.
    *
    * Scale shape: one (query,id) equi-join + two tiny aggregates — rows
    * ∝ queries × k, never corpus-sized. */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, queryCol: String,
              idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val darr = array(ndcgDiscounts(k).map(lit): _*)
    val gainArr = array((1 to k).map(rel => lit((1L << rel) - 1L)): _*)
    val ex = exact.select(col(queryCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).cast("int").as("__xrn"))
    val ap = approx.select(col(queryCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).cast("int").as("__pos"))
    // NOTE: guard with when(isNull), not coalesce(element_at(..), 0) —
    // ANSI element_at over a non-nullable-element literal array is deemed
    // non-nullable, the optimizer elides the coalesce, and the join-miss
    // NULL index then reads a garbage slot at runtime.
    val graded = ap.join(ex, Seq("query_id", "__id"), "left")
      .select(col("query_id"), col("__pos"),
        when(col("__xrn").isNull, lit(0L))
          .otherwise(element_at(gainArr, lit(k + 1) - col("__xrn")))
          .as("__gain"))
    val dcg = graded.groupBy(col("query_id")).agg(
      sum(col("__gain").cast("double") * element_at(darr, col("__pos")))
        .as("__dcg"),
      min(when(col("__gain") > 0, col("__pos"))).cast("long")
        .as("first_hit"))
    val idcg = ex.groupBy(col("query_id")).agg(
      sum(element_at(gainArr, lit(k + 1) - col("__xrn")).cast("double")
        * element_at(darr, col("__xrn"))).as("__idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"),
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(col("__dcg") / col("__idcg"), 6).as("ndcg"),
        col("first_hit"),
        round(lit(1.0) / col("first_hit"), 6).as("rr"))
  }

  /** Mutual-nearest-neighbor pairs from any top-1 list (brute, LSH or
    * IVF — the same rank-list contract as [[recallAtK]]): (a,b) survives
    * iff a's nearest neighbor is b AND b's is a — the high-precision
    * match primitive behind batch-effect alignment (Haghverdi et al.,
    * Nat. Biotech '18), bilingual lexicon mining, and conservative
    * semantic dedup (one-directional NN over-matches hubs; mutuality
    * filters them). Emits each pair once (id_a < id_b) with a's stored
    * similarity (6dp per the list contract, so both directions agree).
    *
    * Scale shape: ONE self-equi-join of the |V|-row top-1 list on the
    * neighbor column — no vectors, no re-scoring; cost ∝ list size. */
  def mutualNearestNeighbors(top1: DataFrame, queryCol: String,
                             idCol: String, simCol: String): DataFrame = {
    val x = top1.select(col(queryCol).as("__qa"), col(idCol).as("__na"),
      col(simCol).as("__sa"))
    val y = top1.select(col(queryCol).as("__qb"), col(idCol).as("__nb"))
    x.join(y, col("__na") === col("__qb") && col("__nb") === col("__qa"))
      .filter(col("__qa") < col("__na"))
      .select(col("__qa").as("id_a"), col("__na").as("id_b"),
        col("__sa").as("cosine_sim"))
  }

  /** RBO coefficient suffix sums S(m) = Σ_{d=m..k} p^(d−1)/d, each term
    * SNAPPED to a multiple of 2⁻²⁰ before summing — S(m) stays an exact
    * dyadic rational, so per-query sums of matched-item contributions are
    * order-independent and the same literals ship into the oracle. */
  private[graft] def rboSuffixSums(k: Int, p: Double): Seq[Double] = {
    val scale = (1 << 20).toDouble
    val c = (1 to k).map { d =>
      val pw = (1 until d).foldLeft(1.0)((acc, _) => acc * p)
      math.rint(scale * pw / d) / scale
    }
    (1 to k).map(m => c.drop(m - 1).sum)
  }

  /** Rank-biased overlap @k (Webber, Moffat & Zobel, TOIS'10): top-weighted
    * agreement of two rank lists with NO relevance judgments — the
    * companion to [[ndcgAtK]] when there is no graded truth, and the
    * standard "how much did the ranking change" monitor between index
    * builds. RBO@k = (1−p)·Σ_{d=1..k} p^(d−1)·|A_d ∩ B_d|/d; re-grouped
    * per matched ITEM, an item seen at ranks (ra, rb) contributes the
    * coefficient suffix sum S(max(ra,rb)) — one equi-join + element_at on
    * a literal array + one sum, no per-depth loop. Truncated (not
    * extrapolated) RBO: scores are comparable only at the same k/p.
    *
    * Scale shape: one (query,id) equi-join + one tiny aggregate — rows ∝
    * queries × k. Queries with zero overlap drop out (join semantics,
    * mirrored by the oracle). */
  def rboAtK(listA: DataFrame, listB: DataFrame, queryCol: String,
             idCol: String, rankCol: String, k: Int,
             p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1): $p")
    val sArr = array(rboSuffixSums(k, p).map(lit): _*)
    val a = listA.select(col(queryCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).cast("int").as("__ra"))
    val b = listB.select(col(queryCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).cast("int").as("__rb"))
    // (1−p) is computed ONCE here and shipped to the oracle as the same
    // literal: DuckDB evaluates in-SQL `1.0 - 0.9` in exact DECIMAL (0.1),
    // which is NOT the double Spark computes (0.0999…98)
    a.join(b, Seq("query_id", "__id"))
      .select(col("query_id"),
        element_at(sArr, greatest(col("__ra"), col("__rb"))).as("__s"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_overlap"),
        round(lit(1.0 - p) * sum(col("__s")), 6).as("rbo"))
  }

  /** Mean intra-class pairwise cosine per label WITHOUT materializing a
    * single pair: for L2-normalized vectors,
    * Σ_{i≠j} u_i·u_j = ‖Σ u‖² − n, so the class-cohesion average is
    * (‖Σ u‖² − n)/(n(n−1)) — the polarization identity every
    * embedding-quality monitor should use instead of an O(n²) self-join
    * (collapsed classes → cohesion ≈ 1; well-spread → ≈ 0; mislabeled
    * blends sit in between).
    *
    * Shape: map-side normalize, one dim-fanout posexplode, TWO hash
    * aggregates ((label, dim) sums, then per-label sum of squares) — at
    * any corpus size the pair count never appears in the plan. Zero-norm
    * vectors are dropped (they have no direction); singleton classes
    * yield null. 6dp-rounded. */
  def intraClassCohesion(df: DataFrame, labelCol: String,
                         vecCol: String): DataFrame = {
    val staged = df
      .withColumn("__norm", VectorFunctions.l2Norm(col(vecCol)))
      .filter(col("__norm") > 0)
      .select(col(labelCol),
        transform(col(vecCol), x => x.cast("double") / col("__norm"))
          .as("__u"))
    val n = staged.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    val ss = staged
      .select(col(labelCol), posexplode(col("__u")).as(Seq("__pos", "__v")))
      .groupBy(col(labelCol), col("__pos"))
      .agg(sum(col("__v")).as("__s"))
      .groupBy(col(labelCol))
      .agg(sum(col("__s") * col("__s")).as("__ss"))
    n.join(ss, Seq(labelCol))
      .select(col(labelCol), col("n"),
        round(when(col("n") > 1,
          (col("__ss") - col("n")) / (col("n") * (col("n") - 1))), 6)
          .as("cohesion"))
  }

  // ------------------------------------------------------------ product
  // quantization (public: Jégou, Douze & Schmid, PAMI'11 "Product
  // quantization for nearest neighbor search"). The memory-bound ANN
  // path: each vector compresses to nSub small codes (here 4 bytes vs
  // 256 float bytes), and query scoring becomes nSub table lookups — the
  // shape that lets a 100 TB embedding corpus be scanned from RAM.

  /** Slice full-dimension seed vectors into per-subspace codebooks:
    * subspace m's codebook is every seed's dims [m·subDim, (m+1)·subDim).
    * Seeds come from [[collectCentroids]] or per-subspace [[kmeansTrain]]
    * runs; slicing shared seeds keeps the harness oracle derivable in
    * pure SQL from the same table. */
  def sliceCodebooks(seeds: Seq[(Long, Seq[Double])],
                     nSub: Int): Seq[Seq[(Long, Seq[Double])]] = {
    require(nSub > 0 && seeds.nonEmpty, s"need nSub > 0 and seeds: $nSub")
    val dim = seeds.head._2.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val subDim = dim / nSub
    (0 until nSub).map { m =>
      seeds.map { case (code, v) => code -> v.slice(m * subDim, (m + 1) * subDim) }
    }
  }

  /** Squared L2 distance between a slice of a vector column (element
    * offset `off`, 0-based) and a literal centroid, accumulated as a
    * LEFT-ASSOCIATIVE addition chain — the oracle spells the identical
    * fold, so the doubles match bit-for-bit. */
  private def subDist(vecCol: Column, off: Int, centroid: Seq[Double]): Column =
    centroid.zipWithIndex.map { case (c, i) =>
      val d = element_at(vecCol, off + i + 1).cast("double") - lit(c)
      d * d
    }.reduceLeft(_ + _)

  /** PQ encode: per subspace, the code of the nearest (squared-L2)
    * codebook centroid, ties to the LOWEST code. Codebooks are inlined
    * literals (like [[ivfAssign]]'s centroids), so encoding is a pure
    * map-side expression — array_min over (dist, code) structs evaluates
    * each centroid exactly once per row; no join, no shuffle, no window.
    *
    * Codes are POSITIONS in the label-sorted codebook (0..n−1), the
    * standard PQ definition — NOT the caller's centroid labels. That
    * keeps [[pqTopK]]'s LUT lookup (`lut[code]`) correct for any label
    * set; with dense 0..n−1 labels (the usual seed ids) the two notions
    * coincide. Output: input row + one `code_m` column per subspace. */
  def pqAssign(embeddings: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "codebooks must be non-empty per subspace")
    val subDim = codebooks.head.head._2.length
    val codeCols = codebooks.zipWithIndex.map { case (cb, m) =>
      val scored = array(cb.sortBy(_._1).zipWithIndex.map {
        case ((_, cvec), pos) =>
          struct(subDist(col(vecCol), m * subDim, cvec).as("d"),
            lit(pos.toLong).as("code"))
      }: _*)
      array_min(scored).getField("code").as(s"code_$m")
    }
    embeddings.select(col("*") +: codeCols: _*)
  }

  /** PQ top-k by asymmetric distance computation (ADC): the query builds
    * one lookup table per subspace (distance from its subvector to every
    * centroid — computed ONCE, on the 1-row query frame), then every
    * encoded row's approximate distance is nSub array lookups + adds.
    * Per-corpus-row cost is O(nSub), independent of dimension — the PQ
    * property that makes the scan memory-bandwidth-bound. Ranking uses
    * the 6dp-rounded distance with id tiebreak (the engine-portable
    * ranking contract shared with ivfTopK/bruteForceTopK). */
  def pqTopK(assigned: DataFrame, idCol: String,
             codebooks: Seq[Seq[(Long, Seq[Double])]],
             query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val subDim = codebooks.head.head._2.length
    val luts = query.select(codebooks.zipWithIndex.map { case (cb, m) =>
      array(cb.sortBy(_._1).map { case (_, cvec) =>
        subDist(col(queryVecCol), m * subDim, cvec)
      }: _*).as(s"__lut$m")
    }: _*)
    val adc = codebooks.indices.map { m =>
      element_at(col(s"__lut$m"), col(s"code_$m").cast("int") + 1)
    }.reduceLeft(_ + _)
    assigned.crossJoin(broadcast(luts))
      .withColumn("adc_dist", round(adc, 6))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol) +: codebooks.indices.map(m => col(s"code_$m"))
        :+ col("adc_dist"): _*)
  }

  /** [[subDist]] with the centroid and subspace index as COLUMNS (the
    * broadcast-codebook variants): squared L2 between the subDim-wide
    * slice of `vecCol` at subspace `m` and the `cvec` column, accumulated
    * left-to-right like the literal chain (aggregate's 0.0 seed is exact:
    * 0.0 + d² == d² for the non-negative squares), so the doubles match
    * the literal path bit-for-bit. */
  private def subDistCol(vecCol: Column, m: Column, subDim: Int,
                         cvec: Column): Column =
    aggregate(
      zip_with(slice(vecCol, m * subDim + 1, lit(subDim)), cvec,
        (x, c) => { val d = x.cast("double") - c; d * d }),
      lit(0.0), (a, x) => a + x)

  /** The PQ codebooks as an (m, code, cvec) DataFrame — the broadcast-side
    * representation for [[pqAssignBroadcast]]/[[pqTopKBroadcast]]. `code`
    * is the POSITION in the label-sorted subspace codebook (0..n−1),
    * exactly [[pqAssign]]'s code definition. nSub × ksub rows — tiny. */
  def codebooksAsTable(spark: org.apache.spark.sql.SparkSession,
                       codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, m) =>
      cb.sortBy(_._1).zipWithIndex.map { case ((_, cvec), pos) =>
        (m, pos, cvec)
      }
    }.toDF("m", "code", "cvec")
  }

  /** [[pqAssign]] with the codebooks as a broadcast table instead of
    * inlined literals — the large-codebook scale path (same rationale and
    * threshold as [[ivfAssignBroadcast]]; see [[LiteralTermLimit]]).
    * The codebook rows collapse to one PER-SUBSPACE array-of-structs
    * column (code-sorted) on a single broadcast row; per subspace the
    * argmin is the native [[VectorFunctions.nearestSubCentroid]] kernel
    * — the subspace slice is indexed in place (no per-entry slice
    * allocation) and the generated code stays constant in ksub. Zero
    * shuffle, zero row expansion, bit-identical codes (pinned in
    * SimilaritySpec). */
  def pqAssignBroadcast(embeddings: DataFrame, idCol: String, vecCol: String,
                        codebookTable: DataFrame, nSub: Int,
                        subDim: Int): DataFrame = {
    require(nSub > 0 && subDim > 0, s"need nSub/subDim > 0: $nSub/$subDim")
    val perSub = (0 until nSub).map { m =>
      sort_array(collect_list(when(col("m") === m,
        struct(col("code").cast("long").as("code"), col("cvec").as("cvec")))))
        .as(s"__cb$m")
    }
    val cbRow = codebookTable.agg(perSub.head, perSub.tail: _*)
    val codeCols = (0 until nSub).map { m =>
      VectorFunctions.nearestSubCentroid(col(vecCol), col(s"__cb$m"),
        m * subDim, subDim).as(s"code_$m")
    }
    embeddings.crossJoin(broadcast(cbRow))
      .select(col("*") +: codeCols: _*)
      .drop((0 until nSub).map(m => s"__cb$m"): _*)
  }

  /** [[pqTopK]] with the LUT built from the broadcast codebook TABLE
    * instead of literal distance expressions: the query × codebook
    * distances are nSub × ksub tiny ROWS (one hash-agg into per-subspace
    * arrays, then a 1-row m→lut map), so no literal expression grows with
    * the codebook and nothing JIT-compiles per codebook entry — the fix
    * for the measured 2.7 s → 9.3 s literal-LUT JIT variance at large
    * codebooks. The ADC scan side is unchanged: per row, nSub map/array
    * lookups + adds, 6dp-rounded with id tiebreak. Bit-identical to
    * [[pqTopK]] (same slice/fold arithmetic — pinned in SimilaritySpec). */
  def pqTopKBroadcast(assigned: DataFrame, idCol: String,
                      codebookTable: DataFrame, query: DataFrame,
                      queryVecCol: String, k: Int, subDim: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val nSub = assigned.columns.count(_.startsWith("code_"))
    require(nSub > 0, "assigned must carry code_m columns from pqAssign*")
    val lutRow = codebookTable
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col("m").cast("int").as("m"), col("code").cast("int").as("code"),
        subDistCol(col("__qv"), col("m"), subDim, col("cvec")).as("__d"))
      .groupBy(col("m"))
      .agg(transform(sort_array(collect_list(struct(col("code"), col("__d")))),
        e => e.getField("__d")).as("lut"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("m"), col("lut"))))).as("__lutmap"))
    val adc = (0 until nSub).map { m =>
      element_at(element_at(col("__lutmap"), lit(m)),
        col(s"code_$m").cast("int") + 1)
    }.reduceLeft(_ + _)
    assigned.crossJoin(broadcast(lutRow))
      .withColumn("adc_dist", round(adc, 6))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol) +: (0 until nSub).map(m => col(s"code_$m"))
        :+ col("adc_dist"): _*)
  }

  /** Symmetric per-vector int8 quantization (absmax scaling, the
    * standard embedding-storage compression: 4× smaller than float32,
    * the layout faiss/scalar-quantized indexes and int8 GEMM kernels
    * consume). Each vector gets its own scale = max|x|/127; codes are
    * round(x/scale) ∈ [−127, 127]. Returns (id, scale, codes,
    * max_abs_err, mse) — the error columns ARE the acceptance readout
    * (max_abs_err ≤ scale/2 by construction; a vector violating that
    * would flag a broken quantizer).
    *
    * Shape: a single map-side array projection over the scan — zero
    * shuffle, zero join; at 100 TB this runs at read bandwidth, which
    * is the entire point of quantizing there. The all-zero vector has
    * scale 0 and quantizes to all-zero codes with zero error (guarded,
    * never NaN). */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val staged = emb
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__e"))
      .withColumn("__scale",
        array_max(transform(col("__e"), x => abs(x))) / 127.0)
    val codes = when(col("__scale") > 0,
      transform(col("__e"), x => round(x / col("__scale")).cast("int")))
      .otherwise(transform(col("__e"), _ => lit(0)))
    val errs = when(col("__scale") > 0,
      transform(col("__e"),
        x => abs(x - round(x / col("__scale")) * col("__scale"))))
      .otherwise(transform(col("__e"), _ => lit(0.0)))
    staged
      .withColumn("codes", codes)
      .withColumn("__errs", errs)
      .select(col(idCol),
        round(col("__scale"), 6).as("scale"),
        col("codes"),
        round(array_max(col("__errs")), 6).as("max_abs_err"),
        round(aggregate(col("__errs"), lit(0.0), (a, x) => a + x * x)
          / size(col("__errs")), 6).as("mse"))
  }

  /** Top-k maximum-inner-product search ON the int8 codes: score ≈
    * ⟨a,b⟩ reconstructed as scale_q·scale_x·Σ(cq_i·cx_i) — the search
    * path that makes [[quantizeInt8]] worth storing: the inner sum is
    * pure INTEGER arithmetic (≤ 127²·dim, exact in any engine), so the
    * whole scan costs int8 MACs and one float multiply per row.
    *
    * The query's (codes, scale) ride along as literals (1-row collect,
    * like the IVF centroids); scoring is a map-side zip_with fold over
    * the scan + TakeOrdered — zero shuffle, zero join. Scores are
    * rounded BEFORE ranking with an id tiebreak, so the top-k set is
    * engine-deterministic. */
  def int8TopK(emb: DataFrame, idCol: String, vecCol: String,
               queryId: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val quantized = quantizeInt8(emb, idCol, vecCol)
      .select(col(idCol), col("scale"), col("codes"))
    val qRows = quantized.filter(col(idCol) === queryId).take(1)
    require(qRows.nonEmpty, s"query vector $idCol=$queryId not found")
    val qScale = qRows.head.getDouble(1)
    val qCodes = array(qRows.head.getSeq[Int](2).map(lit): _*)
    val intDot = aggregate(
      zip_with(col("codes"), qCodes, (a, b) => a.cast("long") * b),
      lit(0L), (acc, x) => acc + x)
    quantized
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        round(col("scale") * qScale * intDot.cast("double"), 6)
          .as("approx_dot"))
      .orderBy(col("approx_dot").desc, col(idCol).asc)
      .limit(k)
  }

  /** Johnson–Lindenstrauss random projection: embed d-dim vectors into
    * `planes.length` dims as proj_j = ⟨v, p_j⟩·√(3/k) — the dimensionality
    * reduction that provably preserves pairwise distances within
    * (1 ± ε) (JL lemma), the cheap pre-step before ANN indexing when
    * the raw embedding width is the cost driver. Planes come from the
    * deterministic [[hyperplanes]] generator, so projections are
    * reproducible across engines/runs and the plane matrix ships as
    * literals (zero shuffle — one map-side projection, like the IVF
    * centroids). */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    planes: Seq[Seq[Double]]): DataFrame = {
    require(planes.nonEmpty, "planes must be non-empty")
    // hyperplanes() entries are U(−1,1) with variance 1/3, so the
    // distance-preserving normalizer is √(3/k), not the unit-variance
    // 1/√k (without the 3, every ratio sits at √⅓ ≈ 0.577 — measured)
    val scale = math.sqrt(3.0 / planes.length.toDouble)
    val proj = array(planes.map { p =>
      aggregate(zip_with(col(vecCol), array(p.map(lit): _*),
        (x, w) => x.cast("double") * w), lit(0.0),
        (a, x) => a + x).multiply(scale)
    }: _*)
    emb.select(col(idCol), proj.as("proj"))
  }

  /** Reciprocal-rank fusion (public: Cormack, Clarke & Büttcher
    * SIGIR'09): merge two rankings of the same id space by
    * score = Σ 1/(60 + rank) — THE standard hybrid-retrieval merge
    * (lexical BM25 + embedding ANN), robust precisely because it uses
    * only ranks, never the incomparable raw scores. Ids present in one
    * list only contribute that list's term.
    *
    * Inputs carry (idCol, rank); output: (idCol, rrf_score, rank_a,
    * rank_b) top-20. One full-outer join on the id over two
    * ALREADY-bounded top-N lists (candidate-list-sized, not corpus-
    * sized) + TakeOrdered. The two 1/(k+r) terms are added in a fixed
    * order, so the score is engine-deterministic before its round. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String): DataFrame = {
    val ra = a.select(col(idCol), col("rank").as("__ra"))
    val rb = b.select(col(idCol), col("rank").as("__rb"))
    ra.join(rb, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(
          coalesce(lit(1.0) / (col("__ra") + 60), lit(0.0))
            + coalesce(lit(1.0) / (col("__rb") + 60), lit(0.0)),
          6).as("rrf_score"),
        col("__ra").as("rank_a"), col("__rb").as("rank_b"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(20)
  }

  /** MMR re-ranking (Carbonell & Goldstein, SIGIR'98): greedily order the
    * top-`poolSize` retrieval candidates balancing relevance against
    * redundancy — pick r maximizes λ·rel(c) − (1−λ)·max_{s∈selected}
    * sim(c,s) — the standard diversified-retrieval step after a dense
    * top-k (dedup-aware RAG context assembly). First pick = pure argmax
    * relevance (mmr_score null); every cosine and every MMR score is
    * 6dp-rounded before ranking with id tiebreaks, so the greedy
    * trajectory is engine-deterministic.
    *
    * Shape: candidate generation is the distributed part (one scan +
    * TakeOrdered(poolSize)); the greedy loop runs on the collected pool —
    * a bounded tiny-collect (≤ poolSize rows, like the centroid/plane
    * literals), NOT a corpus collect; O(poolSize²) driver arithmetic. */
  def mmrRerank(embeddings: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], poolSize: Int, k: Int,
                lambda: Double): DataFrame = {
    require(poolSize >= k && k >= 1,
      s"need poolSize >= k >= 1: $poolSize/$k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1]: $lambda")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = array(query.map(lit): _*)
    val pool = embeddings
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        round(VectorFunctions.cosineSimilarity(col(vecCol), q), 6).as("__rel"))
      .orderBy(col("__rel").desc, col("__id").asc)
      .limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getDouble(2)))
    // driver cosine mirrors the native expression: left-assoc double loop
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var remaining = pool.toVector
    var selected = Vector.empty[(Long, Array[Double], Double, Option[Double])]
    for (r <- 1 to math.min(k, pool.length)) {
      val pick =
        if (r == 1) {
          val p = remaining.maxBy(c => (c._3, -c._1))
          (p._1, p._2, p._3, Option.empty[Double])
        } else {
          val scored = remaining.map { c =>
            val ms = selected.map(s => r6(cos(c._2, s._2))).max
            (c, r6(lambda * c._3 - (1.0 - lambda) * ms))
          }
          val (p, sc) = scored.maxBy { case (c, sc) => (sc, -c._1) }
          (p._1, p._2, p._3, Some(sc))
        }
      selected :+= pick
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    selected.zipWithIndex
      .map { case ((id, _, rel, sc), i) => (i + 1L, id, rel, sc) }
      .toDF("mmr_rank", "vec_id", "relevance", "mmr_score")
  }

  /** Greedy k-center (farthest-point traversal) coreset selection: pick the
    * lowest-id point as the seed, then k-1 times pick the point FARTHEST
    * (max min-cosine-distance, 6dp-rounded, id tiebreak) from everything
    * chosen so far — the classic 2-approximation to the k-center cover and
    * the standard diversity-based data-pruning selector (a coreset of
    * maximally-spread exemplars; the final radius bounds how far any corpus
    * point is from its nearest exemplar). Emits (sel_rank, vec_id, radius):
    * radius = the selected point's min-distance at selection time,
    * monotonically non-increasing; null for the seed.
    *
    * Each round is one map-side scan (centers are inlined literals — no
    * join, no shuffle) + a 1-row TakeOrdered; k driver collects of one row
    * each, like the IVF centroid pattern. Round r evaluates r-1 cosines per
    * point, so total work is O(n·k²/2) distance evals with NO cached
    * intermediate state — at k ≲ 64 recomputation is far cheaper than
    * checkpointing an n-row min-distance column every round. */
  def kCenterSelect(embeddings: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pts = embeddings.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
    val seed = pts.orderBy(col("__id").asc).limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "kCenterSelect: empty embeddings input"))
    var cvecs = Vector(seed.getSeq[Float](1).map(_.toDouble))
    var sel = Vector[(Long, Long, Option[Double])]((1L, seed.getLong(0), None))
    for (r <- 2 to k) {
      val dists = cvecs.map(cv => lit(1.0) -
        VectorFunctions.cosineSimilarity(col("__v"), array(cv.map(lit): _*)))
      val mind = round(
        if (dists.size == 1) dists.head else least(dists: _*), 6)
      val best = pts.select(col("__id"), col("__v"), mind.as("__mind"))
        .orderBy(col("__mind").desc, col("__id").asc)
        .limit(1).collect().head
      cvecs :+= best.getSeq[Float](1).map(_.toDouble)
      sel :+= ((r.toLong, best.getLong(0), Some(best.getDouble(2))))
    }
    sel.toDF("sel_rank", "vec_id", "radius")
  }

  /** 1-bit (sign) quantization: bit i of word j is set iff
    * vec[32j + i] ≥ 0, packed into ⌈dim/32⌉ 32-bit words carried as a
    * LONG array (public: the binary-embedding idiom of Charikar STOC'02
    * sign-random-projection, applied to the raw coordinates as modern
    * vector stores do for centered embeddings). 32 valid bits per word
    * keeps every packed value < 2³², so the left-associative word sum is
    * exact INTEGER arithmetic in any engine — no sign-bit edge case at
    * bit 63. 32× smaller than float32 — the memory-bandwidth win that
    * makes exhaustive first-pass scans viable at 100 TB.
    *
    * Pure map-side expression over the vector column: no join, no
    * shuffle, no UDF. Appends a `bits` column; other columns pass
    * through for downstream rerank. */
  def binarize(emb: DataFrame, idCol: String, vecCol: String,
               dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map { j =>
      val width = math.min(32, dim - j * 32)
      (0 until width).map { i =>
        when(element_at(col(vecCol), j * 32 + i + 1) >= 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduceLeft(_ + _)
    }
    emb.select(col("*"), array(words: _*).as("bits"))
  }

  /** Hamming top-k over [[binarize]]d vectors with exact float rerank —
    * the two-stage binary-quantization retrieval loop: (1) scan the
    * packed bits, score each row by Σ_j popcount(bits_j XOR qbits_j)
    * (integer-exact, ~dim/32 fused ALU ops per row — memory-bandwidth
    * bound, 32× less traffic than the float scan), keep the best
    * `rerankPool` candidates; (2) re-score ONLY those by the exact
    * float dot product against the query and return the top `k`.
    * Stage-1 ranking is (hamming asc, id asc); stage-2 is
    * (6dp-rounded dot desc, id asc) — the engine-portable ranking
    * contract shared with int8TopK/pqTopK.
    *
    * Scale shape: stage 1 is map-side + TakeOrdered (query words are
    * literals — zero shuffle, zero row expansion); stage 2 touches
    * `rerankPool` rows (a driver-bounded constant). The query row is a
    * legitimate tiny-collect, like int8TopK's. */
  def hammingTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  queryId: Long, k: Int, rerankPool: Int): DataFrame = {
    require(k > 0 && rerankPool >= k,
      s"need k > 0 and rerankPool >= k: $k/$rerankPool")
    val packed = binarize(emb, idCol, vecCol, dim)
      .select(col(idCol), col(vecCol), col("bits"))
    val qRows = packed.filter(col(idCol) === queryId).take(1)
    require(qRows.nonEmpty, s"query vector $idCol=$queryId not found")
    val qBits = qRows.head.getSeq[Long](2)
    val qVec = array(qRows.head.getSeq[Float](1).map(v => lit(v.toDouble)): _*)
    val hamming = qBits.zipWithIndex.map { case (qw, j) =>
      bit_count(element_at(col("bits"), j + 1).bitwiseXOR(lit(qw)))
    }.reduceLeft(_ + _)
    packed.filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol), hamming.cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(rerankPool)
      .select(col(idCol), col("hamming"),
        round(aggregate(zip_with(col(vecCol), qVec,
          (x, q) => x.cast("double") * q), lit(0.0), (a, x) => a + x), 6)
          .as("exact_dot"))
      .orderBy(col("exact_dot").desc, col(idCol).asc)
      .limit(k)
  }
  /** Simplified silhouette per IVF cell (public: Rousseeuw JCAM'87, the
    * centroid-distance simplification — O(n·k) instead of O(n²)): for
    * each vector, a = cosine distance to its OWN centroid, b = distance
    * to the nearest OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1].
    * Per-cell mean s is the "should k change" readout next to
    * [[daviesBouldin]]: a cell full of s ≈ 0 sits on a boundary (split
    * candidate), negative s means wrong assignments. A point
    * equidistant to two centroids (a = b, including the degenerate
    * a = b = 0) scores 0 by convention.
    *
    * Assignment matches [[ivfAssign]] bit-for-bit (max cosine, ties to
    * the lowest centroid id), so the audit grades the ACTUAL index
    * layout. Pure map-side literal-centroid arithmetic + ONE cell hash
    * aggregate — zero shuffle beyond the k-row aggregate, same plan
    * family as ivfAssign (and the same [[LiteralTermLimit]] caveat at
    * large k — use the broadcast variants beyond ~1–2k literal terms). */
  def silhouetteSimplified(embeddings: DataFrame, idCol: String,
                           vecCol: String,
                           centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.size >= 2, "silhouette needs >= 2 centroids")
    val sorted = centroids.sortBy(_._1)
    val cosCols = sorted.map { case (cid, cvec) =>
      VectorFunctions.cosineSimilarity(col(vecCol),
        array(cvec.map(lit): _*)).as(s"__cos_$cid")
    }
    val staged = ivfAssign(embeddings, idCol, vecCol, centroids)
      .select(col(idCol) +: col("cell") +: cosCols: _*)
    // flat coalesce of independent whens (cell matches exactly one id) —
    // no nested otherwise-chain, so codegen stays linear in k
    val own = coalesce(sorted.map { case (cid, _) =>
      when(col("cell") === cid, col(s"__cos_$cid"))
    }: _*)
    val otherBest = array_max(array(sorted.map { case (cid, _) =>
      when(col("cell") === cid, lit(-2.0)).otherwise(col(s"__cos_$cid"))
    }: _*))
    val a = lit(1.0) - own
    val b = lit(1.0) - otherBest
    staged
      .withColumn("__a", a).withColumn("__b", b)
      .withColumn("__s",
        when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), round(avg(col("__s")), 6).as("mean_silhouette"))
  }
}
