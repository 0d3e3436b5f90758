package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Corpus-curation operators (SURVEY.md §2b): deterministic splits,
  * per-group capping, normalization, chunking, packing — plus the
  * fail-fast argument guards (a bad stride must die on the driver with a
  * clear message, not as an opaque executor error mid-job). */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (0L, "en", "alpha beta gamma delta epsilon zeta"),
    (1L, "en", "one two three"),
    (2L, "pt", "um dois tres quatro"),
    (3L, "pt", "cinco seis"),
    (4L, "de", "nur einer")).toDF("doc_id", "lang", "text")

  test("hashSplit covers every row exactly once and is deterministic") {
    val out = Corpus.hashSplit(docs, "doc_id",
      Seq("train" -> 80, "val" -> 90, "test" -> 100))
    assert(out.count() === 5)
    assert(out.filter(col("split").isNull).count() === 0)
    val again = Corpus.hashSplit(docs, "doc_id",
      Seq("train" -> 80, "val" -> 90, "test" -> 100))
    assert(out.select("doc_id", "split").collect().toSet ===
      again.select("doc_id", "split").collect().toSet)
  }

  test("hashSplit rejects non-ascending, duplicate, or non-positive bounds") {
    // ("val"->90, "train"->80): the train arm would be unreachable
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(docs, "doc_id", Seq("val" -> 90, "train" -> 80, "test" -> 100))
    }
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(docs, "doc_id", Seq("a" -> 50, "b" -> 50, "test" -> 100))
    }
    intercept[IllegalArgumentException] {
      Corpus.hashSplit(docs, "doc_id", Seq("a" -> 0, "test" -> 100))
    }
    intercept[IllegalArgumentException] { // must end at 100
      Corpus.hashSplit(docs, "doc_id", Seq("a" -> 50, "b" -> 90))
    }
  }

  test("capPerGroup keeps at most n per group with ranks 1..n") {
    val out = Corpus.capPerGroup(docs, "lang", "doc_id", 1)
    assert(out.count() === 3) // one per language
    assert(out.select(max(col("sample_rank"))).as[Int].head() === 1)
    // cap larger than any group keeps everything
    assert(Corpus.capPerGroup(docs, "lang", "doc_id", 10).count() === 5)
  }

  test("zscore: singleton groups yield null, not NaN; n>1 groups sum to ~0") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("solo", 7.0))
      .toDF("g", "v")
    val out = Corpus.zscore(df, "g", "v", "z")
    val solo = out.filter(col("g") === "solo").select("z").collect().head
    assert(solo.isNullAt(0), "singleton group must produce null z-score")
    val zs = out.filter(col("g") === "a").select("z").as[Double].collect()
    assert(zs.forall(z => !z.isNaN))
    assert(math.abs(zs.sum) < 1e-12)
  }

  test("zscore: zero-variance group yields null (guarded 0/0)") {
    val df = Seq(("c", 5.0), ("c", 5.0)).toDF("g", "v")
    val out = Corpus.zscore(df, "g", "v", "z")
    assert(out.filter(col("z").isNull).count() === 2)
  }

  test("zscore: null group key is a group, not dropped (null-safe join)") {
    val df = Seq((Option("a"), 1.0), (Option("a"), 3.0),
      (Option.empty[String], 2.0), (Option.empty[String], 4.0)).toDF("g", "v")
    val out = Corpus.zscore(df, "g", "v", "z")
    assert(out.count() === 4, "null-group rows must survive the stats join")
    assert(out.filter(col("g").isNull && col("z").isNotNull).count() === 2)
  }

  test("stratifiedSample: deterministic, honors per-group fractions, default=keep") {
    val many = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "de", "t"))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.stratifiedSample(many, "lang", "doc_id",
      Seq("en" -> 0.25), defaultFraction = 1.0)
    val again = Corpus.stratifiedSample(many, "lang", "doc_id",
      Seq("en" -> 0.25), defaultFraction = 1.0)
    assert(out.select("doc_id").collect().toSet ===
      again.select("doc_id").collect().toSet)
    // unlisted group keeps everything; listed group lands near its fraction
    assert(out.filter(col("lang") === "de").count() === 200)
    val en = out.filter(col("lang") === "en").count()
    assert(en > 20 && en < 80, s"en keep count $en not near 0.25 * 200")
  }

  test("stratifiedSample: salt decorrelates decisions on the same ids") {
    val many = (1L to 300L).map(i => (i, "en", "t")).toDF("doc_id", "lang", "text")
    val a = Corpus.stratifiedSample(many, "lang", "doc_id", Seq("en" -> 0.5),
      salt = "a").select("doc_id").as[Long].collect().toSet
    val b = Corpus.stratifiedSample(many, "lang", "doc_id", Seq("en" -> 0.5),
      salt = "b").select("doc_id").as[Long].collect().toSet
    assert(a !== b, "different salts must pick different survivor sets")
  }

  test("stratifiedSample rejects out-of-range fractions and duplicate groups") {
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(docs, "lang", "doc_id", Seq("en" -> 1.5))
    }
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(docs, "lang", "doc_id", Seq("en" -> 0.5, "en" -> 0.2))
    }
  }

  test("temperatureResample: smallest group keeps all; alpha=1 keeps everything") {
    val many = ((1L to 300L).map(i => (i, "en")) ++ (301L to 320L).map(i => (i, "fr")))
      .map { case (i, l) => (i, l, "t") }.toDF("doc_id", "lang", "text")
    val out = Corpus.temperatureResample(many, "lang", "doc_id", 0.5)
    assert(out.filter(col("lang") === "fr").count() === 20,
      "min-size group must keep every row (keep_frac = 1)")
    val en = out.filter(col("lang") === "en").count()
    // keep_frac = (300/20)^-0.5 ≈ 0.258 → expect ~77 of 300
    assert(en > 40 && en < 120, s"en keep count $en not near 0.258 * 300")
    assert(Corpus.temperatureResample(many, "lang", "doc_id", 1.0).count() === 320,
      "alpha = 1 is the natural distribution — nothing dropped")
  }

  test("temperatureResample rejects alpha outside (0,1]") {
    intercept[IllegalArgumentException] {
      Corpus.temperatureResample(docs, "lang", "doc_id", 0.0)
    }
    intercept[IllegalArgumentException] {
      Corpus.temperatureResample(docs, "lang", "doc_id", 1.5)
    }
  }

  test("quantileFilter keeps the top (1-minPct) of each group") {
    val df = (1 to 8).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val out = Corpus.quantileFilter(df, "g", "v", "id", 0.5)
    // percent_rank = (rank-1)/(n-1); >= 0.5 keeps ranks 5..8 of 8
    assert(out.select("id").as[Long].collect().sorted.toSeq === Seq(5L, 6L, 7L, 8L))
  }

  test("quantileFilterApprox: self-consistent cut near the exact quantile") {
    val df = (1 to 200).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val out = Corpus.quantileFilterApprox(df, "g", "v", 0.25)
    val thr = out.agg(min(col("v"))).as[Double].head()
    // sketch threshold lands on a data value near the exact 25th percentile
    assert(math.abs(thr - 50.0) <= 2.0, s"threshold $thr far from exact 50")
    // the filter keeps EXACTLY the rows >= its own threshold
    assert(out.count() === df.filter(col("v") >= thr).count())
    // and differs from the exact variant only at the boundary value
    val exact = Corpus.quantileFilter(df, "g", "v", "id", 0.25)
      .select("id").as[Long].collect().toSet
    val approx = out.select("id").as[Long].collect().toSet
    val sym = (exact diff approx) union (approx diff exact)
    assert(sym.forall(id => math.abs(id.toDouble - 50.0) <= 2.0),
      s"non-boundary disagreement with exact variant: $sym")
  }

  test("quantileFilterApprox: null group keys form their own group") {
    val df = Seq((Option("a"), 1.0, 1L), (Option("a"), 2.0, 2L),
      (Option.empty[String], 3.0, 3L), (Option.empty[String], 4.0, 4L))
      .toDF("g", "v", "id")
    val out = Corpus.quantileFilterApprox(df, "g", "v", 0.0)
    assert(out.count() === 4, "minPct=0 must keep every row incl. null group")
  }

  test("tokenChunks: overlapping stride, exact chunk geometry, empty text") {
    val df = Seq((1L, "a b c d e"), (2L, "   ")).toDF("doc_id", "text")
    val out = Corpus.tokenChunks(df, "doc_id", "text", 3, 2)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    // starts 0,2,4 → chunks (a b c), (c d e), (e)
    assert(out === Seq((1L, 0L, 3L, "a b c"), (1L, 1L, 3L, "c d e"),
      (1L, 2L, 1L, "e")))
  }

  test("tokenChunks rejects non-positive chunkSize/stride on the driver") {
    intercept[IllegalArgumentException] {
      Corpus.tokenChunks(docs, "doc_id", "text", 0, 2)
    }
    intercept[IllegalArgumentException] {
      Corpus.tokenChunks(docs, "doc_id", "text", 32, 0)
    }
  }

  test("iqrOutliers: per-group Tukey fences flag only true outliers") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      ("b", 10.0), ("b", 10.0), ("b", 10.0)).toDF("g", "v")
    val out = Corpus.iqrOutliers(df, "g", "v")
      .select("g", "v", "lo_fence", "hi_fence", "is_outlier")
      .as[(String, Double, Double, Double, Boolean)].collect()
    // group a: q1=2, q3=4 (linear interpolation over 5 points) → fences [-1, 7]
    val aRows = out.filter(_._1 == "a")
    assert(aRows.forall(r => r._3 === -1.0 && r._4 === 7.0))
    assert(aRows.filter(_._5).map(_._2).toSeq === Seq(100.0))
    // group b: zero IQR → fences collapse to the point, nothing flagged
    val bRows = out.filter(_._1 == "b")
    assert(bRows.forall(r => r._3 === 10.0 && r._4 === 10.0 && !r._5))
  }

  test("winsorize clamps into the per-group quantile band, keeps all rows") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0))
      .toDF("g", "v")
    // p5 over [1,2,3,4,100] = 1.2; p95 = 80.8 (linear interpolation)
    val out = Corpus.winsorize(df, "g", "v", "v_w")
      .select("v", "v_w").as[(Double, Double)].collect().toMap
    assert(out.size === 5)
    assert(math.abs(out(1.0) - 1.2) < 1e-9)
    assert(math.abs(out(100.0) - 80.8) < 1e-9)
    assert(out(3.0) === 3.0)
  }

  test("shuffleKey is deterministic, salt-sensitive, and map-side pure") {
    val df = Seq(1L, 2L, 3L).toDF("id")
    val k1 = Corpus.shuffleKey(df, "id", "e1").select("id", "shuffle_key")
      .as[(Long, String)].collect().toMap
    val k1b = Corpus.shuffleKey(df, "id", "e1").select("id", "shuffle_key")
      .as[(Long, String)].collect().toMap
    val k2 = Corpus.shuffleKey(df, "id", "e2").select("id", "shuffle_key")
      .as[(Long, String)].collect().toMap
    assert(k1 === k1b, "same salt → same keys")
    assert(k1.values.toSet.intersect(k2.values.toSet).isEmpty,
      "different epoch salt → different order keys")
  }

  test("percentilesBinned equals the buffering percentile() exactly") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),  // even count → interpolation
      ("b", 7.0))                                        // singleton group
      .toDF("g", "v")
    val binned = Corpus.percentilesBinned(df, "g", "v", Seq(0.5, 0.9))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val buffered = df.groupBy("g").agg(
        expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.9)").as("p90"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(binned.length === buffered.length)
    binned.zip(buffered).foreach { case ((g1, a50, a90), (g2, b50, b90)) =>
      assert(g1 === g2)
      assert(math.abs(a50 - b50) < 1e-12, s"$g1 p50: $a50 vs $b50")
      assert(math.abs(a90 - b90) < 1e-12, s"$g1 p90: $a90 vs $b90")
    }
    // repeated values collapse into one histogram bin and still interpolate
    val rep = Seq(("c", 1.0), ("c", 1.0), ("c", 1.0), ("c", 2.0)).toDF("g", "v")
    val p = Corpus.percentilesBinned(rep, "g", "v", Seq(0.5)).collect().head.getDouble(1)
    assert(p === 1.0)
  }

  test("weightedSample: deterministic, caps at k per group, drops w<=0") {
    val df = Seq(
      (1L, "en", 100L), (2L, "en", 1L), (3L, "en", 50L), (4L, "en", 10L),
      (5L, "pt", 30L), (6L, "pt", 0L), (7L, "pt", -5L)
    ).toDF("doc_id", "lang", "w")
    val out = Corpus.weightedSample(df, "lang", "doc_id", "w", 2)
    val again = Corpus.weightedSample(df, "lang", "doc_id", "w", 2)
    assert(out.select("doc_id").as[Long].collect().toSet ===
      again.select("doc_id").as[Long].collect().toSet, "rerun-invariant")
    val perGroup = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(perGroup("en") === 2L)
    assert(perGroup("pt") === 1L, "w<=0 rows never qualify; only doc 5 remains")
    assert(!out.select("doc_id").as[Long].collect().toSet.exists(Set(6L, 7L)),
      "non-positive weights excluded")
    // the exponential-race key matches the hand formula for a known row
    val key5 = out.filter(col("doc_id") === 5L).select("es_key").as[Double].head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("wsample:5".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    val u = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    val expected = BigDecimal(-math.log(u) / 30.0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(key5 - expected) < 1e-12)
  }

  test("weightedSample skews selection toward heavy rows") {
    // one heavy row among light ones: across many ids, the heavy row must
    // be picked into the k=1 slot (weight 10000 vs 1 → overwhelming odds)
    val df = ((1L to 200L).map(i => (i, "g", 1L)) :+ (999L, "g", 1000000L))
      .toDF("doc_id", "lang", "w")
    val picked = Corpus.weightedSample(df, "lang", "doc_id", "w", 1)
      .select("doc_id").as[Long].head()
    assert(picked === 999L)
  }

  test("aggState + mergeAggState equals the from-scratch aggregate") {
    val df = Seq(("a", 1.0), ("a", 5.0), ("a", 2.0), ("b", 4.0), ("b", -1.0))
      .toDF("g", "v")
    val full = Corpus.aggState(df, "g", "v")
    val merged = Corpus.mergeAggState(
      Corpus.aggState(df.filter(col("v") < 3.0), "g", "v"),
      Corpus.aggState(df.filter(col("v") >= 3.0), "g", "v"), "g")
    val f = full.orderBy("g").collect().map(_.toSeq).toSeq
    val m = merged.orderBy("g").collect().map(_.toSeq).toSeq
    assert(f === m)
  }

  test("distinctState merge estimates exactly what a from-scratch sketch does") {
    val df = (1L to 400L).map(i => (if (i % 3 == 0) "a" else "b", i % 97))
      .toDF("g", "k")
    val merged = Corpus.mergeDistinctState(
      Corpus.distinctState(df.filter(col("k") < 50), "g", "k"),
      Corpus.distinctState(df.filter(col("k") >= 50), "g", "k"), "g")
      .select("g", "n_distinct_est").as[(String, Long)].collect().toMap
    val scratch = Corpus.distinctState(df, "g", "k")
      .withColumn("n_distinct_est", hll_sketch_estimate(col("distinct_sketch")))
      .select("g", "n_distinct_est").as[(String, Long)].collect().toMap
    // 97 keys keeps both sketches in sparse (coupon) mode, where union
    // IS lossless; past the HLL promotion (~thousands of keys at
    // lgConfigK=12) merged and scratch may differ slightly — the harness
    // q_hll_state_merge checks a ≤2% tolerance there instead.
    assert(merged === scratch, "HLL union over sparse sketches is lossless")
    // error envelope vs exact distinct (97 keys, default lgConfigK=12 →
    // well under 5%)
    val exact = df.groupBy("g").agg(countDistinct(col("k")).as("n"))
      .as[(String, Long)].collect().toMap
    merged.foreach { case (g, est) =>
      assert(math.abs(est - exact(g)).toDouble / exact(g) < 0.05,
        s"group $g: est $est vs exact ${exact(g)}")
    }
  }

  test("packBins: offset-based layout conserves tokens and respects order") {
    val df = Seq((1L, "s", "a b c"), (2L, "s", "d e"), (3L, "s", "f g h i"))
      .toDF("doc_id", "shard", "text")
    val out = Corpus.packBins(df, "shard", "doc_id", "text", 4)
      .orderBy("bin")
      .select("bin", "n_docs", "bin_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // cumulative-before: doc1=0, doc2=3, doc3=5 → bins 0,0,1
    assert(out === Seq((0L, 2L, 5L, 1L, 2L), (1L, 1L, 4L, 3L, 3L)))
    assert(out.map(_._3).sum === 9L) // every token charged exactly once
  }

  test("heavyHitters equals the exact GROUP BY/HAVING answer on skewed data") {
    // zipf-ish: 'hot' 400×, 'warm' 120×, then 80 distinct cold items 5×
    // each → n = 920; k = 5 → threshold n/6 ≈ 153.3: only 'hot' qualifies,
    // and the sketch (size 5 « 82 distinct items) must still surface it
    val rows = Seq.fill(400)("hot") ++ Seq.fill(120)("warm") ++
      (0 until 80).flatMap(i => Seq.fill(5)(s"cold$i"))
    // interleave deterministically so partitions see mixed traffic
    val df = rows.zipWithIndex.sortBy(_._2 % 7).map(_._1).toDF("item")
      .repartition(4)
    val out = Corpus.heavyHitters(df, "item", k = 5)
      .as[(String, Long)].collect().toMap
    assert(out === Map("hot" -> 400L))
    // k = 2 → threshold n/3 ≈ 306.7: still exactly {hot}; k = 920 →
    // everything with cnt ≥ 1 > n/921 qualifies
    assert(Corpus.heavyHitters(df, "item", k = 2)
      .as[(String, Long)].collect().toMap === Map("hot" -> 400L))
    assert(Corpus.heavyHitters(df, "item", k = 920).count() === 82L)
  }

  test("bootstrapMeans: constant column is invariant, replicate count exact, deterministic") {
    import org.apache.spark.sql.functions._
    val df = (1L to 200L).map(i => (i, 42L)).toDF("id", "v")
    val out = Corpus.bootstrapMeans(df, "id", "v", replicates = 8)
    val rows = out.collect()
    // exactly one row per replicate, every n_eff positive
    assert(rows.map(_.getLong(0)).sorted === (0L to 7L).toArray)
    assert(rows.forall(_.getLong(1) > 0))
    // a constant column's weighted mean is the constant, whatever the weights
    assert(rows.forall(_.getDouble(2) === 42.0))
    // Poisson(1) weights: E[n_eff] = n; all replicates within 5·√n of it
    rows.foreach(r => assert(math.abs(r.getLong(1) - 200L) < 5 * 15,
      s"replicate ${r.getLong(0)} n_eff ${r.getLong(1)} far from 200"))
    // deterministic: a second run is identical
    val again = Corpus.bootstrapMeans(df, "id", "v", replicates = 8).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      === again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1))
    // non-constant values: replicate means bracket the true range
    val varied = (1L to 200L).map(i => (i, i)).toDF("id", "v")
    Corpus.bootstrapMeans(varied, "id", "v", replicates = 8).collect()
      .foreach(r => assert(r.getDouble(2) > 1.0 && r.getDouble(2) < 200.0))
  }

  test("bootstrapMeans rejects fractional metrics instead of truncating them") {
    val frac = Seq((1L, 0.5), (2L, 0.7)).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Corpus.bootstrapMeans(frac, "id", "v")
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("countMinEstimates: one-sided overestimate, exact when collision-free") {
    import org.apache.spark.sql.functions._
    val items = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("t")
    // width 2 forces collisions: every estimate must still be >= truth
    val tight = Corpus.countMinEstimates(items, "t", width = 2,
      topK = 3).collect().map(r => r.getString(0) -> r).toMap
    assert(tight.keySet === Set("a", "b", "c"))
    tight.values.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CM must never underestimate: $r"))
    // a single distinct item cannot collide: estimate is exact
    val solo = Corpus.countMinEstimates(Seq.fill(7)("x").toDF("t"), "t")
      .collect().head
    assert(solo.getLong(1) === 7L && solo.getLong(2) === 7L)
  }

  test("quotaSample delivers the budget exactly, apportioned proportionally") {
    val many = ((1L to 600L).map(i => (i, "en")) ++
      (601L to 900L).map(i => (i, "pt")) ++
      (901L to 1000L).map(i => (i, "de")))
      .map { case (i, l) => (i, l, "t") }.toDF("doc_id", "lang", "text")
    val out = Corpus.quotaSample(many, "lang", "doc_id", 100L)
    assert(out.count() === 100L, "largest-remainder quotas must sum to budget")
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    // 600/300/100 of 1000 at budget 100 → exact integer quotas 60/30/10
    assert(byLang === Map("en" -> 60L, "pt" -> 30L, "de" -> 10L))
    // deterministic: same survivors on rerun
    val again = Corpus.quotaSample(many, "lang", "doc_id", 100L)
    assert(out.select("doc_id").as[Long].collect().toSet ===
      again.select("doc_id").as[Long].collect().toSet)
  }

  test("quotaSample: remainder units land on largest fractions; clamp at group size") {
    // sizes 7/2/1 of 10, budget 5 → floors 3/1/0, remainders .5/.0/.5 →
    // one leftover unit; en and de tie on remainder, group-name ASC puts
    // "de" first, so de (floor 0) receives it
    val many = ((1L to 7L).map(i => (i, "en")) ++ Seq((8L, "pt"), (9L, "pt"),
      (10L, "de"))).map { case (i, l) => (i, l, "t") }.toDF("doc_id", "lang", "text")
    val byLang = Corpus.quotaSample(many, "lang", "doc_id", 5L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang === Map("en" -> 3L, "pt" -> 1L, "de" -> 1L))
    // budget beyond corpus: clamp returns everything, total falls short
    assert(Corpus.quotaSample(many, "lang", "doc_id", 50L).count() === 10L)
    intercept[IllegalArgumentException] {
      Corpus.quotaSample(many, "lang", "doc_id", 0L)
    }
  }

  test("MisraGriesAggregator state stays bounded and keeps the guarantee") {
    val agg = new graft.functions.MisraGriesAggregator(3)
    // stream with a true majority item through reduce
    val buf = ("a a b a c a d a e a f a".split(" ")).foldLeft(agg.zero)(agg.reduce)
    assert(buf.size <= 3 && buf.contains("a"))
    // merge two saturated states: sizes stay ≤ k, heavy key survives
    val left = "x x x x y z".split(" ").foldLeft(agg.zero)(agg.reduce)
    val right = "x x x w w v".split(" ").foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(left, right)
    assert(merged.size <= 3 && merged.contains("x"))
  }

  test("matchDistribution: rarest bin keeps all, q = n_min/n_bin, shares partition 1") {
    // bins of width 10: bin 0 has 8 rows, bin 1 has 2 → q = 0.25 and 1.0
    val df = ((1L to 8L).map(i => (i, 5L)) ++ Seq((9L, 15L), (10L, 16L)))
      .toDF("id", "v")
    val out = Corpus.matchDistribution(df, "id", "v", 10L, "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out(0L)._1 === 8L && out(0L)._3 === 0.25)
    assert(out(1L) === ((2L, 2L, 1.0, 0.2,
      BigDecimal(2.0 / (out(0L)._2 + 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)),
      "the rarest bin keeps every row")
    // kept counts bounded by before-counts; shares partition 1
    assert(out.values.forall(v => v._2 <= v._1))
    assert(math.abs(out.values.map(_._5).sum - 1.0) < 1e-5)
    intercept[IllegalArgumentException] {
      Corpus.matchDistribution(df, "id", "v", 0L, "t")
    }
  }

  test("sourceAblation: hand-checked LOO means, sign convention, single-group null") {
    // a: 2 rows sum 10 (mean 5); b: 2 rows sum 30 (mean 15); global 10
    val df = Seq(("a", 4L), ("a", 6L), ("b", 14L), ("b", 16L))
      .toDF("src", "m")
    val out = Corpus.sourceAblation(df, "src", "m")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // removing the low-quality source RAISES the mean → positive delta
    assert(out("a") === ((2L, 5.0, 15.0, 5.0)))
    assert(out("b") === ((2L, 15.0, 5.0, -5.0)))
    val solo = Corpus.sourceAblation(df.filter($"src" === "a"), "src", "m")
      .collect().head
    assert(solo.isNullAt(3) && solo.isNullAt(4),
      "single-group corpus has no LOO comparison")
  }

  test("quantileRank: exact (rank-1)/(n-1) percent ranks, ties share, lone row is 0") {
    val df = Seq(("g", 10L), ("g", 20L), ("g", 20L), ("g", 30L), ("h", 99L))
      .toDF("src", "v")
    val out = Corpus.quantileRank(df, "src", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("g").map(t => t._2 -> t._3).toSet ===
      Set(10L -> 0.0, 20L -> r6(1.0 / 3), 30L -> 1.0),
      "ties share rank 2 → (2−1)/(4−1)")
    assert(out("h").head._3 === 0.0, "single-row group ranks 0")
  }

  test("lengthGroupedBatches: length-desc batching, hand-checked waste, empty batch null") {
    val docs = Seq(
      (1L, "s1", "a b c d"), (2L, "s1", "a b c"), // batch 0: max 4, sum 7
      (3L, "s1", "a b"), (4L, "s1", "a"),          // batch 1: max 2, sum 3
      (5L, "s1", ""),                              // batch 2: lone empty doc
      (6L, "s2", "x y")                            // separate shard
    ).toDF("doc_id", "source", "text")
    val out = Corpus.lengthGroupedBatches(docs, "source", "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) null else r.getDouble(6)))).toMap
    assert(out(("s1", 0L)) === ((2L, 4L, 7L, 1L, 0.125)))
    assert(out(("s1", 1L)) === ((2L, 2L, 3L, 1L, 0.25)))
    assert(out(("s1", 2L)) === ((1L, 0L, 0L, 0L, null)),
      "all-empty batch: zero waste, null pad_frac (0/0)")
    assert(out(("s2", 0L))._1 === 1L && out(("s2", 0L))._4 === 0L)
    intercept[IllegalArgumentException] {
      Corpus.lengthGroupedBatches(docs, "source", "doc_id", "text", 0)
    }
  }

  test("epochSchedule: τ=2 flattening hand-checked, flags split correctly") {
    // domains with 100 and 400 tokens: sqrt weights 10 and 20 → shares
    // 1/3 and 2/3 of a 500-token (1×) budget → targets 166.67/333.33 →
    // epochs 1.67 (small domain repeats) and 0.83 (large runs partial)
    val df = Seq(("s", 60L), ("s", 40L), ("l", 400L)).toDF("dom", "toks")
    val out = Corpus.epochSchedule(df, "dom", "toks", 1.0, 2.0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(out("s") === ((100L, 0.333333, 166.666667, 1.666667, true)))
    assert(out("l") === ((400L, 0.666667, 333.333333, 0.833333, false)))
    // τ=1 is proportional: everyone runs exactly one epoch at 1× budget
    val prop = Corpus.epochSchedule(df, "dom", "toks", 1.0, 1.0).collect()
    assert(prop.forall(r => r.getDouble(4) === 1.0 && !r.getBoolean(5)))
    // doubling the budget doubles every epoch count
    val x2 = Corpus.epochSchedule(df, "dom", "toks", 2.0, 2.0).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(x2("s") === 3.333333 && x2("l") === 1.666667)
    intercept[IllegalArgumentException] {
      Corpus.epochSchedule(df, "dom", "toks", 0.0, 2.0)
    }
  }

  test("leakageSafeSplit: clusters never straddle; doc-hash split does") {
    // one 4-member cluster, one 2-member, two singletons — cluster ids
    // chosen so the doc-hash split DOES separate some cluster members
    // (the failure mode being repaired) while the cluster-hash split
    // cannot by construction
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
      .toDF("doc_id", "cluster")
    val safe = Corpus.leakageSafeSplit(labels, "doc_id", "cluster",
      Seq("train" -> 50, "test" -> 100)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[String]("split")))).toMap
    // every member inherits its cluster's assignment
    assert(safe.values.groupBy(_._1).forall(_._2.map(_._2).toSet.size == 1))
    // a singleton's assignment equals the plain doc-hash split (id ==
    // cluster), so existing singleton-only pipelines are unchanged
    val docHash = Corpus.hashSplit(labels, "doc_id",
      Seq("train" -> 50, "test" -> 100)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(safe(20L)._2 === docHash(20L) && safe(21L)._2 === docHash(21L))
    // and the naive split actually splits a cluster on this fixture —
    // the leak the operator exists to prevent
    assert(Seq(1L, 2L, 3L, 4L).map(docHash).toSet.size > 1)
  }

  test("perplexityBuckets: equal-population per-group thirds, id tiebreak") {
    // 6 docs per group → thirds of 2; group sizes independent
    val df = ((1 to 6).map(i => ("en", i.toLong, i.toDouble)) ++
      (1 to 3).map(i => ("fr", i.toLong, 9.0))) // all-tied group
      .toDF("lang", "doc_id", "score")
    val out = Corpus.perplexityBuckets(df, "lang", "doc_id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert((1 to 6).map(i => out(("en", i.toLong))) === Seq(1, 1, 2, 2, 3, 3))
    // ties fall back to doc_id order → deterministic assignment
    assert((1 to 3).map(i => out(("fr", i.toLong))) === Seq(1, 2, 3))
    intercept[IllegalArgumentException] {
      Corpus.perplexityBuckets(df, "lang", "doc_id", "score", n = 1)
    }
  }
  test("htEstimate: exact dyadic arithmetic hand-check and calibration sanity") {
    // kept rows with p = 1/2: total-hat = (10+20)/0.5 = 60, n-hat = 4,
    // v-hat = 100*.5/.25 + 400*.5/.25 = 1000
    val kept = Seq(("g", 10L, 0.5), ("g", 20L, 0.5), ("h", 7L, 0.25))
      .toDF("grp", "x", "p")
    val out = Corpus.htEstimate(kept, "grp", "x", "p")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("g") === ((2L, 4.0, 60.0, 1000.0)))
    assert(out("h") === ((1L, 4.0, 28.0, 588.0))) // 49*0.75/0.0625
    // calibration: a deterministic half-sample of 1000 unit rows
    // reconstructs the population within 20%
    val pop = (1L to 1000L).map(i => ("s", i, 1L)).toDF("src", "id", "one")
    val sampled = Corpus.stratifiedSample(pop, "src", "id", Seq("s" -> 0.5))
    val est = Corpus.htEstimate(sampled, "src", "one", "sample_frac")
      .collect().head
    assert(math.abs(est.getDouble(3) - 1000.0) < 200.0, est.toString)
  }

  test("distinctIntersection: sparse-mode sketches recover exact overlap") {
    // A = {1..60}, B = {31..90} within one group: |A∩B| = 30 exactly —
    // sketches stay in sparse (coupon) mode, so inclusion–exclusion is
    // EXACT, not approximate
    val a = (1 to 60).map(i => ("g", i.toLong)).toDF("grp", "k")
    val b = (31 to 90).map(i => ("g", i.toLong)).toDF("grp", "k")
    val r = Corpus.distinctIntersection(a, b, "grp", "k").collect().head
    assert(r.getLong(1) === 60L && r.getLong(2) === 60L)
    assert(r.getLong(3) === 90L && r.getLong(4) === 30L)
    // disjoint sets → intersection exactly 0 (clamped, never negative)
    val c = (1000 to 1019).map(i => ("g", i.toLong)).toDF("grp", "k")
    val rd = Corpus.distinctIntersection(a, c, "grp", "k").collect().head
    assert(rd.getLong(3) === 80L && rd.getLong(4) === 0L)
    // a group present on ONE side only: other-side estimate 0, overlap 0
    val bOnly = (1 to 5).map(i => ("h", i.toLong)).toDF("grp", "k")
    val rg = Corpus.distinctIntersection(a, bOnly, "grp", "k")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rg("h").getLong(1) === 0L && rg("h").getLong(2) === 5L &&
      rg("h").getLong(4) === 0L)
    assert(rg("g").getLong(2) === 0L && rg("g").getLong(4) === 0L)
  }

  test("effectiveSampleSize: equal weights n, concentration shrinks ESS") {
    val df = Seq(("eq", 1L), ("eq", 1L), ("eq", 1L), ("eq", 1L),
      ("hot", 9L), ("hot", 1L),
      ("zero", 2L), ("zero", 0L)).toDF("grp", "w")
    val out = Corpus.effectiveSampleSize(df, "grp", "w")
      .collect().map(r => r.getString(0) -> r).toMap
    // equal weights: ESS = n exactly
    assert(out("eq").getLong(1) === 4L && out("eq").getDouble(3) === 4.0)
    assert(out("eq").getDouble(4) === 1.0)
    // 9-vs-1: ESS = 100/82 — one heavy unit carries the group
    assert(out("hot").getDouble(3) === 100.0 / 82.0)
    // zero weights count as units but add no mass: ESS = 4/4 = 1 of 2
    assert(out("zero").getDouble(3) === 1.0 &&
      out("zero").getDouble(4) === 0.5)
    // null weights are excluded rows
    val withNull = Seq(("g", Some(1L)), ("g", None)).toDF("grp", "w")
    assert(Corpus.effectiveSampleSize(withNull, "grp", "w")
      .collect().head.getLong(1) === 1L)
  }

  test("domainReweight: hard domain gains weight, hand-checked losses") {
    // A = "x x y", B = "y y y"; corpus x:2 y:4 N=6 → A's mix diverges
    // from the corpus (higher cross-entropy) and must gain weight
    val docs = Seq((1L, "A", "x x y"), (2L, "B", "y y y"))
      .toDF("id", "src", "text")
    val out = Corpus.domainReweight(docs, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lx = math.log(2.0 / 6.0); val ly = math.log(4.0 / 6.0)
    val lossA = -(2.0 * lx + 1.0 * ly) / 3.0
    val lossB = -(3.0 * ly) / 3.0
    val base = (lossA * 3.0 + lossB * 3.0) / 6.0
    val rawA = 0.5 * math.exp(lossA - base)
    val rawB = 0.5 * math.exp(lossB - base)
    assert(out("A").getLong(1) === 3L && out("B").getLong(1) === 3L)
    assert(out("A").getDouble(2) === r6(lossA))
    assert(out("B").getDouble(2) === r6(lossB))
    assert(out("A").getDouble(3) === r6(lossA - base))
    assert(out("A").getDouble(4) === 0.5 && out("B").getDouble(4) === 0.5)
    assert(out("A").getDouble(5) === r6(rawA / (rawA + rawB)))
    assert(out("A").getDouble(5) > 0.5 && out("B").getDouble(5) < 0.5)
  }

  test("waterFill: hand-checked level, exact budget, no-binding null") {
    import org.apache.spark.sql.functions.col
    // supplies 2/9/9, budget 50% of 20 = 10: small source keeps all,
    // level λ = (10−2)/2 = 4 caps both giants → allocations 2+4+4 = 10
    val docs = Seq(("a", 2L), ("b", 9L), ("c", 9L)).toDF("src", "s")
    val out = Corpus.waterFill(docs, "src", col("s"), budgetFrac = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) === 2L)
    assert(out.values.forall(_.getDouble(2) === 4.0))
    assert(out("a").getDouble(3) === 2.0 && out("b").getDouble(3) === 4.0)
    assert(out.values.map(_.getDouble(3)).sum === 10.0)
    assert(out("a").getDouble(4) === 1.0)
    assert(out("b").getDouble(4) === 4.0 / 9.0)
    // full budget: the boundary level equals the tied largest supply —
    // nothing is actually cut, every source kept whole
    val free = Corpus.waterFill(docs, "src", col("s"), budgetFrac = 1.0)
      .collect()
    assert(free.forall(r => r.getDouble(4) === 1.0))
    assert(free.forall(r => r.getDouble(3) === r.getLong(1).toDouble))
    // max-min fairness: no source is ever cut below a smaller source's
    // allocation
    val skew = Seq(("t", 1L), ("u", 5L), ("v", 100L)).toDF("src", "s")
    val sk = Corpus.waterFill(skew, "src", col("s"), budgetFrac = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // B = 53: t keeps 1, u keeps 5, v capped at 47
    assert(sk("t") === 1.0 && sk("u") === 5.0 && sk("v") === 47.0)
  }
}
