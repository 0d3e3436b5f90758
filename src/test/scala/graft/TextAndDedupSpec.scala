package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, TextAnalytics}
import org.apache.spark.sql.functions._

class TextAndDedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "The quick brown fox"),
    (1L, "the quick  brown fox!!"),   // dup of 0 modulo case/space/punct
    (2L, "completely different words here"),
    (3L, "")).toDF("doc_id", "text")

  test("tokenCount handles empty and multi-space text") {
    val out = docs.select($"doc_id", TextFunctions.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(out(0L) === 4)
    assert(out(1L) === 4)
    assert(out(3L) === 0)
  }

  test("fingerprint collapses case/punctuation/whitespace variants") {
    val fp = docs.select($"doc_id", TextFunctions.fingerprint($"text").as("f"))
      .as[(Long, String)].collect().toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L) !== fp(2L))
  }

  test("exactByFingerprint groups dups and keeps lowest id") {
    val out = Dedup.exactByFingerprint(docs, "doc_id", "text")
    val byKeep = out.select($"keep_id", $"n_dups").as[(Long, Long)].collect().toMap
    assert(byKeep(0L) === 2L)    // docs 0 and 1 collapse
    assert(byKeep(2L) === 1L)
  }

  test("shingles produce overlapping n-grams") {
    val s = Seq(("a b c d")).toDF("text")
      .select(TextFunctions.shingles($"text").as("sh"))
      .as[Seq[String]].collect().head
    assert(s === Seq("a b c", "b c d"))
  }

  test("shingles of short text are empty, not an error") {
    val s = Seq(("a b")).toDF("text")
      .select(TextFunctions.shingles($"text").as("sh"))
      .as[Seq[String]].collect().head
    assert(s.isEmpty)
  }

  test("duplicatedSpans finds cross-doc verbatim windows, skips unique text") {
    val d = Seq(
      (1L, "intro words then SHARED SPAN OF TOKENS here"),
      (2L, "other lead-in SHARED SPAN OF TOKENS trailing bits"),
      (3L, "totally unrelated content with no repeats at all"),
      (4L, "short")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, "doc_id", "text", k = 4)
      .select($"span_example", $"n_docs", $"n_occurrences", $"first_doc")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(("SHARED SPAN OF TOKENS", 2L, 2L, 1L)))
  }

  test("duplicatedSpans scale path (no example) agrees with the full output") {
    val d = Seq(
      (1L, "intro words then SHARED SPAN OF TOKENS here"),
      (2L, "other lead-in SHARED SPAN OF TOKENS trailing bits")).toDF("doc_id", "text")
    val lean = Dedup.duplicatedSpans(d, "doc_id", "text", 4,
      includeExample = false)
    assert(!lean.columns.contains("span_example"))
    val full = Dedup.duplicatedSpans(d, "doc_id", "text", 4)
      .drop("span_example")
    assert(lean.exceptAll(full).isEmpty && full.exceptAll(lean).isEmpty)
  }

  test("duplicatedSpans counts repeats within one doc but needs minDocs docs") {
    // the span repeats twice in doc 1 only → n_docs=1 < minDocs → dropped
    val d = Seq((1L, "x y x y"), (2L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(d, "doc_id", "text", k = 2).count() === 0L)
    // same span in both docs → kept, and the doc-1 double occurrence counts
    val d2 = Seq((1L, "x y x y"), (2L, "x y z w")).toDF("doc_id", "text")
    val row = Dedup.duplicatedSpans(d2, "doc_id", "text", k = 2)
      .filter($"span_example" === "x y")
      .select($"n_docs", $"n_occurrences").as[(Long, Long)].collect().toSeq
    assert(row === Seq((2L, 3L)))
  }

  test("winnowing guarantee: a shared w+k-1 token run yields a shared fingerprint") {
    // k=3, w=2 → any shared run of >= 4 tokens must share a fingerprint
    val d = Seq(
      (1L, "aa bb COMMON RUN OF FOUR zz yy"),
      (2L, "unrelated prefix COMMON RUN OF FOUR other suffix"),
      (3L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val fp = Dedup.winnowingFingerprints(d, "doc_id", "text", k = 3, w = 2)
      .as[(Long, Long)].collect().toSeq
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      s"docs 1/2 share 'COMMON RUN OF FOUR' but no fingerprint: $byDoc")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert((byDoc(2L) intersect byDoc(3L)).isEmpty)
    // output is distinct per (doc, fingerprint)
    assert(fp.distinct.size === fp.size)
    // sampling: fewer fingerprints than shingle positions (8-token doc:
    // 6 shingles, 5 windows → at most 5 distinct mins survive)
    assert(byDoc(1L).size < 6)
  }

  test("sentences split on terminator runs; sentenceStats hand-check") {
    val d = Seq(
      (1L, "One two three. Four five! Six?"),
      (2L, "no terminator at all"),
      (3L, "")).toDF("doc_id", "text")
    val sents = d.select($"doc_id", TextFunctions.sentences($"text").as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sents(1L) === Seq("One two three", "Four five", "Six"))
    assert(sents(2L) === Seq("no terminator at all"))
    assert(sents(3L) === Seq.empty)
    val stats = TextAnalytics.sentenceStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(stats(1L).getLong(1) === 3L)        // 3 sentences
    assert(stats(1L).getDouble(2) === 2.0)     // (3+2+1)/3 tokens
    assert(stats(1L).getLong(3) === 3L)        // longest sentence
    assert(stats(2L).getLong(1) === 1L && stats(2L).getDouble(2) === 4.0)
    assert(stats(3L).getLong(1) === 0L &&
      stats(3L).isNullAt(2) && stats(3L).isNullAt(3))
  }

  test("hashedLinearScore: empty doc scores bias, fold matches per-token sum") {
    val w = (0 until 64).map(i => (((i * 37 + 11) % 97) - 48) / 1024.0)
    val bias = 3.0 / 1024.0
    val d = Seq((1L, "alpha beta alpha"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalytics.hashedLinearScore(d, "doc_id", "text", w, bias)
      .select($"doc_id", $"n_tokens", $"logit", $"keep")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(2L)._2 === 0L && out(2L)._3 === bias && out(2L)._4 === (bias > 0))
    // recompute doc 1 by hand with the same portable hash
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"13:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(md, 16) % 64).toInt
    }
    val expected = bias + w(bucket("alpha")) * 2 + w(bucket("beta"))
    assert(out(1L)._2 === 3L && out(1L)._3 === expected)
  }

  test("jaccardPairs matches hand-computed overlap") {
    val d = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(d, "doc_id", "text", 0.1)
      .as[(Long, Long, Double)].collect().toSet
    // |{a,b,c} ∩| = 3, union = 5 → 0.6; doc3 shares nothing
    assert(pairs === Set((1L, 2L, 0.6)))
  }

  test("unigramLogLik matches hand-computed smoothed LM") {
    // corpus: a×3, b×1, c×1 → T=5, V=3, denom=8
    // logp: a=ln(4/8), b=c=ln(2/8)
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalytics.unigramLogLik(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val lnA = math.log(4.0 / 8); val lnRare = math.log(2.0 / 8)
    assert(got(1L)._1 === 3L)
    assert(math.abs(got(1L)._2 - (2 * lnA + lnRare) / 3) < 1e-6)
    assert(got(2L)._1 === 2L)
    assert(math.abs(got(2L)._2 - (lnA + lnRare) / 2) < 1e-6)
    // common-word doc scores higher than rare-word doc
    assert(got(1L)._2 !== got(2L)._2)
  }

  test("jaccardPairsPrefix is bit-identical to the inverted-index join") {
    // real corpus slice: every (pair, similarity) must agree exactly —
    // prefix filtering is an exact optimization, not an approximation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 80)
    val sets = Dedup.tokenSets(docs, "doc_id", "text")
    for (t <- Seq(0.2, 0.3, 0.5)) {
      val full = Dedup.jaccardPairsFrom(sets, "doc_id", t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.jaccardPairsPrefix(sets, "doc_id", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === full, s"threshold $t")
      assert(full.nonEmpty || t > 0.4, s"vacuous comparison at $t")
    }
  }

  test("jaccardPairsPrefix handles singleton and identical sets") {
    val d = Seq((1L, "only"), (2L, "only"), (3L, "a b c d"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsPrefix(
      Dedup.tokenSets(d, "doc_id", "text"), "doc_id", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
  }

  test("identical docs get identical minhash signatures") {
    val d = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(d, "doc_id", "text", 8)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
  }

  test("minHashEstimate: identical docs estimate 1.0, disjoint docs absent") {
    val d = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(d, "doc_id", "text", 8)
    val est = Dedup.minHashEstimate(sig, "doc_id", 8, 0.5)
      .select($"id_a", $"id_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(est === Set((1L, 2L, 1.0)))
  }

  test("minHashEstimate tracks true Jaccard on a real corpus slice") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 80)
    val sig = Dedup.minHashSignatures(docs, "doc_id", "text", 32)
    val est = Dedup.minHashEstimate(sig, "doc_id", 32, 0.5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est.nonEmpty, "vacuous: no high-estimate pairs in slice")
    // every confidently-estimated pair must be a genuinely similar pair:
    // 32 hashes at est >= 0.5 has binomial noise ~ ±0.27 at 3 sigma
    est.foreach { case (pair, e) =>
      val truth = exact.getOrElse(pair, 0.0)
      assert(math.abs(e - truth) < 0.3, s"$pair est=$e true=$truth")
    }
  }

  test("minhash LSH finds identical docs as candidates") {
    val d = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(d, "doc_id", "text", 8)
    val cands = Dedup.minHashLshCandidates(sig, "doc_id", bands = 2, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)))
  }

  test("identical docs get identical simhash; near-identical stay close") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    val sh = Dedup.simHash(d, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 0)
  }

  test("jaccardPairs stop-token pruning bounds fan-out, never overestimates") {
    val d = Seq(
      (1L, "common alpha beta"), (2L, "common alpha gamma"),
      (3L, "common delta epsilon"), (4L, "common zeta eta"))
      .toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // prune 'common' (df=4 > 2): intersection counts can only shrink
    val pruned = Dedup.jaccardPairs(d, "doc_id", "text", 0.0,
      maxDocFreq = Some(2L))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    pruned.foreach { case (k, sim) => assert(sim <= exact(k) + 1e-12) }
    assert(pruned.contains((1L, 2L)))      // 'alpha' (df=2) survives
    assert(!pruned.contains((3L, 4L)))     // only shared 'common' → pruned away
    assert(exact.contains((3L, 4L)))
  }

  test("simHashNearDups finds planted near-duplicates, skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = Seq(
      (1L, base),
      (2L, base.replace("kappa", "kappa2")), // one token changed → few bits flip
      (3L, "completely different words about other topics entirely unrelated here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(d, "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("duplicateClusters: transitive closure, singletons, determinism") {
    import org.apache.spark.sql.functions.col
    // chain 1-2, 2-3 (diameter 2: needs >1 propagation round), pair 5-6,
    // singleton 7
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // canonical survivor = the row whose id equals its cluster
    assert(out.filter { case (id, cl) => id == cl }.keySet === Set(1L, 5L, 7L))
    // empty pair set → everything is its own cluster
    val solo = Dedup.duplicateClusters(nodes, pairs.limit(0), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(solo === nodes.as[Long].collect().map(i => i -> i).toMap)
  }

  test("fellegiSunter: log-likelihood weights from data-estimated u, null-safe agreement") {
    // u for every field = (3² + 1²)/4² = 0.625 by construction
    val df = Seq(
      (1L, 1L, "A", 5L, "01"), (2L, 1L, "A", 5L, "01"),
      (3L, 1L, "B", 6L, "02"), (4L, 2L, "A", 5L, "01")
    ).toDF("id", "blk", "seg", "kilo", "tail")
    def agree(m: Double) = math.log(m / 0.625)
    def disagree(m: Double) = math.log((1.0 - m) / (1.0 - 0.625))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Dedup.fellegiSunter(df, "id", "blk",
        Seq(("seg", 0.9), ("kilo", 0.8), ("tail", 0.85)), 0.5)
      .as[(Long, Long, Double)].collect()
    // only (1,2) passes: all-agree ≈ 0.919; (1,3)/(2,3) all-disagree ≈
    // −2.87; (4,·) is in another block
    assert(out.toSeq === Seq((1L, 2L,
      r6(agree(0.9) + agree(0.8) + agree(0.85)))), out.mkString(","))
    // two nulls AGREE (IS NOT DISTINCT FROM semantics)
    val nulls = Seq((1L, 1L, Option.empty[String]),
        (2L, 1L, Option.empty[String]), (3L, 1L, Option("z")),
        (4L, 1L, Option("w")))
      .toDF("id", "blk", "seg")
    val nOut = Dedup.fellegiSunter(nulls, "id", "blk",
        Seq(("seg", 0.9)), 0.0)
      .as[(Long, Long, Double)].collect().toSeq
    // u = (2²+1+1)/16 = 0.375; only the null-null pair agrees
    assert(nOut === Seq((1L, 2L, r6(math.log(0.9 / 0.375)))),
      nOut.mkString(","))
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunter(df, "id", "blk", Seq(("seg", 1.5)), 0.0)
    }
  }

  test("fellegiSunter group-collapse ≡ brute row pairs; topK ≡ ordered limit at tie cuts") {
    // duplicate-heavy fixture (the regime the group-collapse targets):
    // small field domains + periodic nulls → many rows share a vector,
    // and both within-group and cross-group pairs occur in every block
    val rows = (0L until 60L).map { i =>
      (i, i % 2,
        if (i % 7 == 0) Option.empty[String]
        else Some(Seq("A", "B", "A")((i % 3).toInt)),
        i / 10, (i % 5).toString)
    }
    val df = rows.toDF("id", "blk", "seg", "kilo", "tail")
    val fields = Seq(("seg", 0.9), ("kilo", 0.8), ("tail", 0.85))
    // Scala mirror of the operator's math over ROW pairs (the pre-r11
    // brute-force shape): u from global collision rates, null-safe
    // agreement (None == None), per-pair log-ratio sum, 6dp HALF_UP
    val n = rows.size.toDouble
    val u = Seq[Seq[Any]](rows.map(_._3), rows.map(_._4), rows.map(_._5))
      .map(vs => vs.groupBy(identity).values
        .map(g => g.size.toDouble * g.size).sum / (n * n))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && a._1 < b._1
    } yield {
      val terms = Seq((a._3 == b._3, 0.9, u(0)), (a._4 == b._4, 0.8, u(1)),
        (a._5 == b._5, 0.85, u(2)))
      val sc = terms.map { case (eq, m, uf) =>
        if (eq) math.log(m / uf) else math.log((1.0 - m) / (1.0 - uf))
      }.sum
      (a._1, b._1, r6(sc))
    }).toSet
    val got = Dedup.fellegiSunter(df, "id", "blk", fields, -100.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
    assert(expected.size === 870, "every same-block pair scored (2 × C(30,2))")
    // topK must equal the exact prefix of the fully-ordered queue for ks
    // that cut INSIDE a tie level (scores take ≤ 2^3 distinct values
    // here, so most ks do) and past the end
    val full = expected.toSeq.sortBy { case (ia, ib, s) => (-s, ia, ib) }
    for (k <- Seq(1, 7, 50, full.size, full.size + 10)) {
      val topk = Dedup.fellegiSunterTopK(df, "id", "blk", fields, -100.0, k)
        .as[(Long, Long, Double)].collect().toSeq
      assert(topk === full.take(k), s"k=$k")
    }
    // a selective threshold prunes at the GROUP level before expansion
    val hi = full.head._3
    val thresholded = Dedup.fellegiSunter(df, "id", "blk", fields, hi)
      .as[(Long, Long, Double)].collect().toSet
    assert(thresholded === expected.filter(_._3 >= hi) && thresholded.nonEmpty)
  }

  test("jaroWinklerPairs: maxPairs guard fails fast on a hot block, off by default") {
    // blocks: "hot" 20 rows (C(20,2) = 190 pairs), "cold" 3 rows (3),
    // plus null-block rows that never pair → exact mass 193
    val rows = (0L until 20L).map(i => (i, Option("hot"), s"Customer#$i")) ++
      (20L until 23L).map(i => (i, Option("cold"), s"Customer#$i")) ++
      Seq((23L, Option.empty[String], "Customer#23"))
    val df = rows.toDF("id", "blk", "name")
    val ex = intercept[IllegalStateException] {
      Dedup.jaroWinklerPairs(df, "id", "name", "blk", 0.5, maxPairs = 100L)
    }
    assert(ex.getMessage.contains("193") && ex.getMessage.contains("'hot'") &&
      ex.getMessage.contains("190"), s"guard must report exact mass and " +
        s"the hottest block: ${ex.getMessage}")
    // a sufficient budget passes and returns exactly the unguarded rows
    val unguarded = Dedup.jaroWinklerPairs(df, "id", "name", "blk", 0.5)
      .collect().toSet
    val guarded = Dedup.jaroWinklerPairs(df, "id", "name", "blk", 0.5,
      maxPairs = 193L).collect().toSet
    assert(guarded === unguarded && unguarded.nonEmpty)
  }

  test("fellegiSunterTopK: null blocks carry no pair mass in the cutoff") {
    // 8 null-block rows IDENTICAL on every field: Spark's groupBy used
    // to gather them into ONE block in the subset sweep and count their
    // C(8,2) = 28 pairs at the TOP score, even though the __blk
    // equi-join grid never pairs null blocks — the inflated prefix mass
    // dropped the second tie level early and returned fewer than k
    // genuine pairs. Non-null blocks produce exactly two tie levels
    // (agree-both: 60 pairs, agree-seg-only: 150), so k = 61 cuts
    // inside the second level — the k the old accounting starved.
    val rows = (0L until 30L).map { i =>
      (i, Option(i % 2), Seq("A", "B")((i % 2).toInt), (i % 3).toString)
    } ++ (30L until 38L).map(i => (i, Option.empty[Long], "A", "0"))
    val df = rows.toDF("id", "blk", "seg", "tail")
    val fields = Seq(("seg", 0.9), ("tail", 0.8))
    val full = Dedup.fellegiSunter(df, "id", "blk", fields, -100.0)
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (a, b, s) => (-s, a, b) }
    assert(full.size === 210, "C(15,2) per non-null block, nulls pair-free")
    for (k <- Seq(1, 61, full.size, full.size + 5))
      assert(Dedup.fellegiSunterTopK(df, "id", "blk", fields, -100.0, k)
        .as[(Long, Long, Double)].collect().toSeq === full.take(k), s"k=$k")
  }

  test("incrementalClusters: star contraction merges across prior clusters, unseen ids join") {
    // prior: {0,1} rooted 0, {4,5} rooted 4, {10} alone (min-rooted ✓)
    val prior = Seq((0L, 0L), (1L, 0L), (4L, 4L), (5L, 4L), (10L, 10L))
      .toDF("id", "cluster")
    // batch: 1~5 merges the two clusters; 7~10 pulls in unseen id 7
    val batch = Seq((1L, 5L), (7L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.incrementalClusters(prior, "id", "cluster", batch)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 0L, 1L -> 0L, 4L -> 0L, 5L -> 0L,
      7L -> 7L, 10L -> 7L))
    // idempotent refold: the output is min-rooted, so an empty next batch
    // returns it unchanged
    val refold = Dedup.incrementalClusters(
        out.toSeq.toDF("id", "cluster"), "id", "cluster",
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(refold === out)
  }

  test("duplicateClusters: empty pair set is every-node-a-singleton, no spin") {
    import graft.operators.Dedup
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    val out = Dedup.duplicateClusters(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(secs < 30.0, s"empty graph must converge immediately, took $secs s")
  }

  test("duplicateClusters closes a long chain (diameter > 2)") {
    import org.apache.spark.sql.functions.col
    val n = 12L
    val nodes = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet === Set(0L), "a single path must collapse to one cluster")
  }

  test("duplicateClustersRun: telemetry traces convergence") {
    import graft.operators.Dedup
    // 16-chain + 2 singletons: pointer jumping closes the chain in
    // O(log n) rounds, and the trace is the audit trail
    val nodes = (0L until 18L).toDF("doc_id")
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val run = Dedup.duplicateClustersRun(nodes, pairs, "doc_id")
    assert(run.converged)
    assert(run.perRound.last === Some(0L), "closing round witnesses the fixpoint")
    assert(run.perRound.init.forall(_.exists(_ > 0L)),
      s"every non-closing round must move labels: ${run.perRound}")
    assert(run.rounds <= 5,
      s"pointer jumping must close a 16-chain in O(log n) rounds: ${run.rounds}")
    val out = run.clusters.as[(Long, Long)].collect().toMap
    assert((0L until 16L).forall(out(_) === 0L) && out(16L) === 16L && out(17L) === 17L)
    // empty pair set: one zero-round, immediately converged
    val empty = Dedup.duplicateClustersRun(nodes,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "doc_id")
    assert(empty.converged && empty.perRound === Seq(Some(0L)))
  }

  test("maskPii masks url/email/phone shapes and leaves clean text alone") {
    val d = Seq(
      (1L, "mail me at jane.doe+x@corp.example.org today"),
      (2L, "see https://ex.example/a?b=c&d=e for details"),
      (3L, "call +1 (555) 010-1234 now"),
      (4L, "no pii here at all")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextFunctions.maskPii($"text").as("m"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "mail me at [EMAIL] today")
    assert(out(2L) === "see [URL] for details")
    assert(out(3L) === "call [PHONE] now")
    assert(out(4L) === "no pii here at all")
  }

  test("piiCounts: staged counting, no double-count inside URLs") {
    val d = Seq(
      (1L, "mail a@b.com and https://x.y/path?u=c@d.com call +1 555-010-0000"),
      (2L, "clean text with no identifiers")).toDF("doc_id", "text")
    val counts = TextFunctions.piiCounts($"text")
    val out = d.select($"doc_id" +: counts.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the c@d.com inside the URL is consumed by the URL count
    assert(out(1L) === ((1L, 1L, 1L)), out.toString)
    assert(out(2L) === ((0L, 0L, 0L)))
  }

  test("maskPii masks a URL before its embedded email-like tail") {
    val d = Seq((1L, "x https://h.example/u@v.example/p y")).toDF("doc_id", "text")
    val out = d.select(TextFunctions.maskPii($"text")).as[String].head()
    assert(out === "x [URL] y", "url must win over the email pattern inside it")
  }

  test("stripMarkup drops tags, unescapes entities once, collapses whitespace") {
    val d = Seq(
      (1L, "<div class=\"x\"><b>bold</b>  and\tplain</div>"),
      (2L, "&amp;lt; stays escaped but &lt;this&gt; &amp; &quot;q&quot; &#39;s unescape"),
      (3L, "plain text")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextFunctions.stripMarkup($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "bold and plain")
    assert(out(2L) === "&lt; stays escaped but <this> & \"q\" 's unescape",
      "&amp;lt; must single-unescape to the literal text &lt;")
    assert(out(3L) === "plain text")
  }

  test("contamination flags docs sharing an n-gram with the benchmark set") {
    import graft.operators.TextAnalytics
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "somewhere the quick brown fox appears"), // shares 2 distinct 3-grams
      (2L, "entirely unrelated content words only"),
      (3L, "quick brown fox quick brown fox")        // repeated shingle counts once
    ).toDF("doc_id", "text")
    val out = TextAnalytics.contamination(corpus, "doc_id", "text", bench, "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 3L -> 1L),
      "doc 1: {the quick brown, quick brown fox}; doc 3: distinct overlap only")
  }

  test("repetitionSignals: exact token and bigram repetition fractions") {
    import graft.operators.TextAnalytics
    val d = Seq(
      (1L, "a a a a"),        // dup 1-1/4=0.75; bigram 'a a' 3/3 = 1.0
      (2L, "x y x y z"),      // dup 1-3/5=0.4;  top 'x y' 2/4 = 0.5
      (3L, "all unique tokens here"),
      (4L, "")                // no tokens, no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalytics.repetitionSignals(d, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((4L, 0.75, 1.0)))
    assert(out(2L) === ((5L, 0.4, 0.5)))
    assert(out(3L) === ((4L, 0.0, 0.333333)))
    assert(out(4L) === ((0L, 0.0, 0.0)))
  }

  test("bm25 ranks term-dense short docs first and bounds output to k") {
    import graft.operators.TextAnalytics
    val d = Seq(
      (1L, "data data data"),                       // dense in one query term
      (2L, "data filler filler filler filler filler filler filler"),
      (3L, "spark merge data"),                     // hits all three terms
      (4L, "nothing relevant here"),
      (5L, "data spark")).toDF("doc_id", "text")
    val out = TextAnalytics.bm25(d, "doc_id", "text",
      Seq("data", "spark", "merge"), 3)
      .as[(Long, Double)].collect()
    assert(out.length === 3)
    assert(!out.map(_._1).contains(4L), "no-hit docs must not rank")
    assert(out.head._1 === 3L, "the all-terms doc must rank first")
    assert(out.map(_._2).toSeq === out.map(_._2).sortBy(-_).toSeq,
      "scores must be descending")
  }

  test("tokenEntropy: uniform repeats, single token, blank text") {
    import graft.operators.TextAnalytics
    val d = Seq((1L, "a a b b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalytics.tokenEntropy(d, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_types", "entropy", "type_token_ratio")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // two equiprobable types → entropy = ln 2
    assert(out(1L) === ((4L, 2L, 0.693147, 0.5)))
    assert(out(2L) === ((1L, 1L, 0.0, 1.0)))
    assert(!out.contains(3L), "token-less docs have no entropy row")
  }

  test("keepBestCopy keeps the highest-quality copy, ties to lowest id") {
    val d = Seq(
      (0L, "The quick brown fox", 5L),
      (1L, "the quick  brown fox!!", 9L),   // same fingerprint, better quality
      (2L, "other text", 3L),
      (3L, "other text", 3L))               // quality tie → keep id 2
      .toDF("doc_id", "text", "quality")
    val out = Dedup.keepBestCopy(d, "doc_id", "text", "quality")
      .select("keep_id", "best_quality", "n_dups")
      .as[(Long, Double, Long)].collect().toSet
    assert(out === Set((1L, 9.0, 2L), (2L, 3.0, 2L)))
  }

  test("nearDupSurvivors: transitive chain collapses to one survivor") {
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    // 0~1 and 1~2 (never 0~2 directly); 3 is a singleton
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupSurvivors(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 3L), (3L, 1L)))
  }

  test("admitNearDups: null/empty texts always admit; exact copies " +
    "collapse to the min id (r15 null-safety + md5 key)") {
    val batch = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, Some("the quick brown fox jumps over the lazy dog")), // exact copy
      (3L, None: Option[String]),                                // null text
      (4L, Some("")),                                            // empty text
      (5L, Some("entirely different content about spark shuffles")))
      .toDF("doc_id", "text")
    val dest = batch.filter(lit(false))
    val admitted = Dedup.admitNearDups(batch, dest, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4, threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    // 2 is the only rejection: the exact copy of lower-id 1. The null
    // and empty docs take the exempt branch (pre-r15, ANSI null made
    // doc 3 vanish from BOTH branches).
    assert(admitted === Set(1L, 3L, 4L, 5L))
  }

  test("jaccardPairsFrom/Prefix/containmentPairs: empty and one-set inputs give no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "token")
    val one = Seq((1L, "a"), (1L, "b")).toDF("doc_id", "token")
    for (sets <- Seq(empty, one)) {
      assert(Dedup.jaccardPairsFrom(sets, "doc_id", 0.3).collect().isEmpty)
      assert(Dedup.jaccardPairsPrefix(sets, "doc_id", 0.3).collect().isEmpty)
      assert(Dedup.containmentPairs(sets, "doc_id", 0.5).collect().isEmpty)
    }
  }

  test("containmentPairs scores a subset at 1.0 where Jaccard stays low") {
    val d = Seq(
      (0L, "alpha beta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "unrelated words entirely")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(
      Dedup.tokenSets(d, "doc_id", "text"), "doc_id", 0.9)
      .select("id_a", "id_b", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(out.toSeq === Seq((0L, 1L, 1.0, 0.25)))
    // the same pair's Jaccard (2/8) would never clear a 0.9 bar
    assert(Dedup.jaccardPairs(d, "doc_id", "text", 0.9).isEmpty)
  }

  test("tfidfCosinePairs: hand-computed cosine, disjoint docs absent") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "apple banana"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val out = Dedup.tfidfCosinePairs(d, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // w1=(2ln1.5, ln1.5), w2=(ln1.5, ln1.5) → cos = 3/√10; (·,3) disjoint
    assert(out === Seq((1L, 2L, math.rint(3.0 / math.sqrt(10) * 1e6) / 1e6)),
      out.toString)
  }

  test("tfidfCosinePairs: all-stopword corpus yields no NaN pairs") {
    // every term in every doc → idf 0 → zero norms → guarded out entirely
    val d = Seq((1L, "x y"), (2L, "x y"), (3L, "y x")).toDF("doc_id", "text")
    assert(Dedup.tfidfCosinePairs(d, "doc_id", "text", 0.0).isEmpty)
  }

  test("tfidfCosinePairs: maxDocFreq prunes the index, not the norms") {
    val d = Seq(
      (1L, "apple banana apple rare1"),
      (2L, "apple banana rare2"),
      (3L, "cherry date")).toDF("doc_id", "text")
    // apple/banana have df=2 → pruned at maxDocFreq=1; only rare terms
    // remain in the index and no pair shares one → empty
    assert(Dedup.tfidfCosinePairs(d, "doc_id", "text", 0.01,
      maxDocFreq = Some(1L)).isEmpty)
    // unpruned, (1,2) clears the bar
    assert(Dedup.tfidfCosinePairs(d, "doc_id", "text", 0.01).count() == 1)
  }

  test("vocabCoverage ranks by frequency and accumulates to 1.0") {
    import graft.operators.TextAnalytics
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalytics.vocabCoverage(d, "text", 10)
      .select("rank", "token", "tf", "coverage")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out === Seq((1L, "a", 3L, 0.5), (2L, "b", 2L, 0.833333),
      (3L, "c", 1L, 1.0)))
  }

  test("ngramCounts: exact bigram counts with support floor") {
    import graft.operators.TextAnalytics
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalytics.ngramCounts(d, "text", 2, 2L)
      .as[(String, Long)].collect().toMap
    // bigrams: doc1 = {a b, b a, a b}, doc2 = {a b, b c} → "a b" ×3 only
    assert(out === Map("a b" -> 3L))
  }

  test("pmiCollocations: hand-computed PMI on a tiny corpus") {
    import graft.operators.TextAnalytics
    // corpus "x y x y": unigrams x×2 y×2 (n_uni=4); bigrams "x y"×2,
    // "y x"×1 (n_bi=3). pmi(x y) = ln((2/3)/((2/4)*(2/4))) = ln(8/3)
    val d = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val out = TextAnalytics.pmiCollocations(d, "text", 1L, 10)
      .select("bigram", "c_ab", "c1", "c2", "pmi")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq(
      ("x y", 2L, 2L, 2L, r6(math.log((2.0 / 3) / ((2.0 / 4) * (2.0 / 4))))),
      ("y x", 1L, 2L, 2L, r6(math.log((1.0 / 3) / ((2.0 / 4) * (2.0 / 4)))))))
    // support floor prunes the hapax pair
    assert(TextAnalytics.pmiCollocations(d, "text", 2L, 10).count() === 1L)
  }

  test("bigramLogLik: hand-computed add-one-smoothed conditional score") {
    import graft.operators.TextAnalytics
    // corpus "a b a b": bigram counts {a b: 2, b a: 1}; unigram {a: 2,
    // b: 2}; V=2. doc score = mean over occurrences of ln((c_ab+1)/(c_a+V))
    val d = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val out = TextAnalytics.bigramLogLik(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    val exp = (math.log(3.0 / 4) + math.log(2.0 / 4) + math.log(3.0 / 4)) / 3
    val r6 = BigDecimal(exp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq((1L, 3L, r6)))
    // single-token and blank docs produce no bigrams → absent
    val edge = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(TextAnalytics.bigramLogLik(edge, "doc_id", "text").count() === 0L)
  }

  test("editDistancePairs: exact distances, cross-bucket pairs, a<b order") {
    import graft.operators.Dedup
    val d = Seq(
      (1L, "the quick brown fox"),   // len 19 → bucket 3 (width 6)
      (2L, "the quick brown fix"),   // dist 1 to doc 1
      (3L, "completely different"),  // len 20, same bucket, far from both
      (4L, "the quick brown foxes"), // len 21 → bucket 3; dist 2 to doc 1
      (5L, "cross bucket abcdefgh"), // len 21
      (6L, "cross bucket abcdefghijk") // len 24 → bucket 4; dist 3 to doc 5
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d, "doc_id", "text", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(out.contains((1L, 2L, 1L)))
    assert(out.contains((1L, 4L, 2L)))
    assert(out.contains((2L, 4L, 3L)))
    assert(out.contains((5L, 6L, 3L)), "pair straddling a length-bucket boundary")
    assert(out.forall { case (a, b, dist) => a < b && dist <= 5 })
    assert(!out.exists { case (a, b, _) => a == 3L || b == 3L })
    // no duplicate pairs from the 3-bucket probe
    val rows = Dedup.editDistancePairs(d, "doc_id", "text", 5)
      .select("id_a", "id_b").collect()
    assert(rows.length === rows.distinct.length)
  }

  test("sortedNeighborhoodPairs: w-bounded pairs within blocks only") {
    import graft.operators.Dedup
    val d = Seq(
      (1L, "en", "aa"), (2L, "en", "aaa"), (3L, "en", "aaaa"), (4L, "en", "aaaaa"),
      (5L, "pt", "bb"), (6L, "pt", "bbb")
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text", "lang", 2)
      .select("id_a", "id_b", "rank_gap").as[(Long, Long, Long)].collect().toSet
    // en ranks by length: 1,2,3,4 → gaps <=2; pt: 5,6
    assert(out === Set(
      (1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (2L, 4L, 2L), (3L, 4L, 1L),
      (5L, 6L, 1L)))
    assert(!out.exists { case (a, b, _) => (a <= 4) != (b <= 4) },
      "no cross-block pairs")
  }

  test("langIdHeuristic flags stopword-rich text as en") {
    val d = Seq((1L, "the cat is in the hat and it is fine"),
      (2L, "zzz qqq www rrr")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextFunctions.langIdHeuristic($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "unknown")
  }

  test("naiveBayesClassify: hand-computed scores, deterministic tie-break") {
    // docs: (1, "x", A), (2, "z", B). V=2, each class has 1 occurrence.
    // score(1, A) = ln(1/2) + ln((1+1)/(1+2)) = ln(1/2) + ln(2/3)
    // score(1, B) = ln(1/2) + ln((0+1)/(1+2)) = ln(1/2) + ln(1/3) — loses
    val docs = Seq((1L, "x", "A"), (2L, "z", "B"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalytics.naiveBayesClassify(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 === "A" && out(1L)._2 === "A")
    assert(out(2L)._1 === "B" && out(2L)._2 === "B")
    val expected = BigDecimal(math.log(0.5) + math.log(2.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._3 === expected, out(1L).toString)

    // perfectly symmetric classes → every score ties → pred = min label
    val tie = Seq((1L, "x", "B"), (2L, "x", "A")).toDF("doc_id", "text", "lang")
    val tied = TextAnalytics.naiveBayesClassify(tie, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tied === Map(1L -> "A", 2L -> "A"), tied.toString)
  }

  test("interpolatedLogLik: hand-computed Jelinek-Mercer mix") {
    // "a a b": bigrams "a a","a b"; c(a)=2, c(b)=1, T=3
    // p(a|a) = .75*(1/2) + .25*(2/3); p(b|a) = .75*(1/2) + .25*(1/3)
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val r = TextAnalytics.interpolatedLogLik(docs, "doc_id", "text")
      .collect().head
    assert(r.getLong(1) === 2L)
    val expected = BigDecimal(
      (math.log(0.75 * 0.5 + 0.25 * (2.0 / 3.0))
        + math.log(0.75 * 0.5 + 0.25 * (1.0 / 3.0))) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) === expected, r.toString)
    intercept[IllegalArgumentException](
      TextAnalytics.interpolatedLogLik(docs, "doc_id", "text", lambda = 1.0))
  }

  test("charPairCounts: exact windows, short words skipped, topN cut") {
    // "abab" → ab, ba, ab; "ab" → ab; "x" skipped → ab:3, ba:1
    val docs = Seq((1L, "abab ab x")).toDF("doc_id", "text")
    val out = TextAnalytics.charPairCounts(docs, "text", topN = 10)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("ab", 3L), ("ba", 1L)), out.toString)
    // topN=1 keeps only the most frequent pair
    assert(TextAnalytics.charPairCounts(docs, "text", topN = 1)
      .as[(String, Long)].collect().toSeq === Seq(("ab", 3L)))
  }

  test("chiSquaredTokens: discriminative token outranks shared filler") {
    // 4 docs, 2 classes; 'aa' only in A-docs, 'zz' in every doc
    val docs = Seq(
      (1L, "aa zz", "A"), (2L, "aa zz", "A"),
      (3L, "bb zz", "B"), (4L, "bb zz", "B")).toDF("doc_id", "text", "lang")
    val out = TextAnalytics
      .chiSquaredTokens(docs, "doc_id", "text", "lang", topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    // 'aa' in class A: a=2, b=0, c=0, d=2 → χ² = 4·(2·2)²/(2·2·2·2) = 4
    assert(out(("A", "aa")) === ((2L, 4.0, 1L)), out.toString)
    assert(out(("B", "bb")) === ((2L, 4.0, 1L)))
    // 'zz' appears everywhere → zero marginal → χ² defined 0, ranked last
    // (class A only has presence rows for aa and zz, so zz is rank 2)
    assert(out(("A", "zz"))._2 === 0.0 && out(("A", "zz"))._3 === 2L)
  }

  test("mutualInfoTokens: perfectly informative token carries H(class)") {
    // 'aa' appears in exactly the A docs (2 of 4): MI = H(class) = ln 2
    // for a balanced 2-class split; 'zz' in every doc carries 0 nats
    val docs = Seq(
      (1L, "aa zz", "A"), (2L, "aa zz", "A"),
      (3L, "bb zz", "B"), (4L, "bb zz", "B")).toDF("doc_id", "text", "lang")
    val out = TextAnalytics
      .mutualInfoTokens(docs, "doc_id", "text", "lang", topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(3), r.getLong(4)))).toMap
    val ln2 = BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("A", "aa"))._1 === ln2, out.toString)
    assert(out(("A", "aa"))._2 === 1L)
    assert(out(("A", "zz"))._1 === 0.0 && out(("A", "zz"))._2 === 2L)
    assert(out(("B", "bb"))._1 === ln2)
  }

  test("matchScore: hand-computed comparators, threshold, null handling") {
    val ents = Seq(
      (1L, "alpha beta", "s1"),
      (2L, "alpha beta", "s1"),   // identical to 1 → score 1.0
      (3L, "alpha gamma", "s2"),  // partial vs 1
      (4L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("id", "text", "source")
    val cands = Seq((1L, 2L), (1L, 3L), (4L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.matchScore(cands, ents, "id",
      Seq(("text", "jaccard", 0.5), ("text", "lev", 0.3),
        ("source", "exact", 0.2)), threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out((1L, 2L)) === 1.0)
    // (1,3): jaccard |{alpha}|/|{alpha,beta,gamma}| = 1/3;
    // lev("alpha beta","alpha gamma") = 4 over maxlen 11 → 1 − 4/11;
    // sources differ → 0. Score = 0.5/3 + 0.3·(7/11)
    val expected = BigDecimal(0.5 / 3.0 + 0.3 * (1.0 - 4.0 / 11.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 3L)) === expected, out.toString)
    // both-null fields compare as matches
    assert(out((4L, 4L)) === 1.0)
    // threshold filters
    assert(Dedup.matchScore(cands, ents, "id",
      Seq(("text", "jaccard", 1.0)), threshold = 0.9).count() === 2L)
    intercept[IllegalArgumentException](
      Dedup.matchScore(cands, ents, "id", Seq(("text", "soundex", 1.0)), 0.5))
  }

  test("giniConcentration: 0 on even use, hand-computed on skew, 0 on one token") {
    val docs = Seq(
      (1L, "even", "a b c"),          // counts 1,1,1 → G = 0
      (2L, "skew", "a a b"),          // ranks b:1,a:2 → rf=5, G=10/6−3/2
      (3L, "mono", "z z z z")         // single token → G = 0
    ).toDF("doc_id", "grp", "text")
    val g = TextAnalytics.giniConcentration(docs, "grp", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(g("even").getDouble(3) === 0.0)
    assert(g("skew").getLong(1) === 2L && g("skew").getLong(2) === 3L)
    assert(g("skew").getDouble(3) === 0.166667)
    assert(g("mono").getLong(1) === 1L && g("mono").getDouble(3) === 0.0)
  }

  test("dsirSelect: hand-mirrored log-ratio scores and Gumbel keys; deterministic") {
    import graft.operators.TextAnalytics
    val raw = Seq((1L, "aa aa aa"), (2L, "bb")).toDF("doc_id", "text")
    val target = raw.filter($"doc_id" === 1L)
    val out = TextAnalytics.dsirSelect(raw, target, "doc_id", "text",
      buckets = 64, nSelect = 2)
      .as[(Long, Double, Double)].collect().toSeq
    // mirror the whole computation with the same portable md5 hashes
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(t: String): Long =
      java.lang.Long.parseLong(md5hex(s"0:$t").substring(0, 15), 16) % 64
    val occR = Seq("aa", "aa", "aa", "bb").map(bucket)
    val occT = Seq("aa", "aa", "aa").map(bucket)
    val cR = occR.groupBy(identity).view.mapValues(_.size).toMap
    val cT = occT.groupBy(identity).view.mapValues(_.size).toMap
    def lr(b: Long): Double =
      math.log((cT.getOrElse(b, 0) + 1.0) / (occT.size + 64)) -
        math.log((cR(b) + 1.0) / (occR.size + 64))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def key(id: Long, score: Double): Double = {
      val u0 = java.lang.Long.parseLong(
        md5hex(s"dsir:$id").substring(0, 8), 16) / 4294967296.0
      r6(score - math.log(-math.log(math.max(u0, 1.0 / 4294967296.0))))
    }
    val s1 = lr(bucket("aa")); val s2 = lr(bucket("bb"))
    val expect = Seq(
      (1L, r6(s1), key(1L, s1)), (2L, r6(s2), key(2L, s2)))
      .sortBy(t => (-t._3, t._1))
    assert(out === expect)
    // rerun-invariant
    assert(TextAnalytics.dsirSelect(raw, target, "doc_id", "text", 64, 2)
      .as[(Long, Double, Double)].collect().toSeq === out)
    intercept[IllegalArgumentException] {
      TextAnalytics.dsirSelect(raw, target, "doc_id", "text", 1, 2)
    }
  }

  test("crossLshContamination flags reordered benchmark twin, skips unrelated") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different content about other things entirely now")
    ).toDF("doc_id", "text")
    val bench = Seq(
      // same token SET as doc 1 reordered → identical signatures, all
      // bands collide, exact jaccard 1.0 — recall is structural, not luck
      (900L, "theta eta zeta epsilon delta gamma beta alpha"),
      (901L, "unrelated benchmark prompt nothing shared here whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.crossLshContamination(corpus, bench, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 900L, 1.0)))
    intercept[IllegalArgumentException] {
      Dedup.crossLshContamination(corpus, bench, "doc_id", "text", 16, 5, 0.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossLshContamination(corpus, bench, "doc_id", "text", 16, 4, 1.5)
    }
  }

  test("normalizeUnicode composes decomposed text; NFKC folds compatibility forms") {
    val d = Seq(
      (1L, "cafe\u0301"),          // decomposed e + combining acute
      (2L, "café"),           // precomposed é — already NFC
      (3L, "ﬁle ①")      // ﬁ ligature + circled-1: NFKC-only folds
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextFunctions.normalizeUnicode($"text").as("nfc"),
      TextFunctions.normalizeUnicode($"text", "NFKC").as("nfkc"))
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 === "café", "NFC must compose e+U+0301 into é")
    assert(out(2L)._1 === "café", "already-NFC text is unchanged")
    assert(out(3L)._1 === "ﬁle ①", "NFC leaves compatibility forms")
    assert(out(3L)._2 === "file 1", "NFKC folds ligature and circled digit")
    // null flows through (nullIntolerant), bad form dies on the driver
    val n = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextFunctions.normalizeUnicode($"text")).collect()
    assert(n.head.isNullAt(0))
    intercept[IllegalArgumentException] {
      d.select(TextFunctions.normalizeUnicode($"text", "NFX")).collect()
    }
  }

  test("foldAccents strips marks from precomposed AND decomposed input") {
    val d = Seq(
      (1L, "café naïve"),   // precomposed é, ï
      (2L, "cafe\u0301 nai\u0308ve"), // decomposed equivalents
      (3L, "plain ascii")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextFunctions.foldAccents($"text").as("f"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "cafe naive")
    assert(out(2L) === "cafe naive",
      "both renderings must fold to the same base letters")
    assert(out(3L) === "plain ascii")
  }

  test("bpeTrain: classic low/lower merges with lexicographic tiebreaks") {
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val out = TextAnalytics.bpeTrain(docs, "text", rounds = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    // r1: (l,o) and (o,w) tie at 5 → 'l' < 'o'; r2: (lo,w)=5;
    // r3: (low,e) and (e,r) tie at 2 → 'e' < 'low'
    assert(out === Array(
      (1L, "l", "o", 5L, "lo"),
      (2L, "lo", "w", 5L, "low"),
      (3L, "e", "r", 2L, "er")))
    // overlapping run: 'aaa' has 2 (a,a) adjacencies, merges
    // left-to-right non-overlapping → [aa, a] → then (aa,a) once
    val aaa = Seq((1L, "aaa")).toDF("doc_id", "text")
    val out2 = TextAnalytics.bpeTrain(aaa, "text", rounds = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out2 === Array((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
    intercept[IllegalArgumentException] {
      TextAnalytics.bpeTrain(aaa, "text", 0)
    }
  }

  test("bpeEncode: learned merges shrink subword counts, ratio per doc") {
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val rules = TextAnalytics.bpeTrainRules(docs, "text", rounds = 3)
    // rules: (l,o), (lo,w), (e,r) — low→[low], lower→[low,er], newest untouched
    val out = TextAnalytics.bpeEncode(docs, "doc_id", "text", rules)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 3L, 1.0)))
    assert(out(2L) === ((2L, 4L, 2.0)))
    assert(out(3L) === ((1L, 6L, 6.0)))
    intercept[IllegalArgumentException] {
      TextAnalytics.bpeEncode(docs, "doc_id", "text", Seq.empty)
    }
  }

  test("prfExpansion: feedback terms weighted by tf × idf, query terms excluded") {
    val docs = Seq(
      (1L, "spark fast engine"),
      (2L, "spark data engine engine"),   // 2 query terms → top feedback doc
      (3L, "cats purr"),
      (4L, "engine room")
    ).toDF("doc_id", "text")
    val out = TextAnalytics.prfExpansion(docs, "doc_id", "text",
      Seq("spark", "data"), fbDocs = 1, nTerms = 3).collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // only 'engine' survives (tf 2 in doc 2, df 3 of 4 docs)
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "engine" && r.getLong(1) === 2L && r.getLong(2) === 3L)
    assert(r.getDouble(3) === r6(2.0 * math.log(4.0 / 3.0)))
    intercept[IllegalArgumentException] {
      TextAnalytics.prfExpansion(docs, "doc_id", "text", Seq("x"), 0, 3)
    }
  }

  test("goldenRecord: longest text and modal category, canonical = lowest id") {
    val df = Seq(
      (1L, "short", "en"), (2L, "the longest text here", "de"),
      (3L, "medium text", "de"),
      (9L, "solo", "fr")
    ).toDF("doc_id", "text", "lang")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster")
    val out = Dedup.goldenRecord(df, "doc_id", clusters, "text", "lang")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(out(1L) === ((1L, 3L, "the longest text here", "de")),
      "field-level picks: longest text from doc 2, modal lang de (2 of 3)")
    assert(out(9L) === ((9L, 1L, "solo", "fr")), "singleton keeps its own fields")
  }

  test("heapsLaw: cumulative vocab/token curves are monotone, fit well-formed") {
    val docs = (1L to 40L).map(i =>
      (i, (0 to (i % 7).toInt).map(j => s"w${(i * 3 + j) % 29}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalytics.heapsLaw(docs, "doc_id", "text", 5)
      .orderBy("checkpoint").collect()
    assert(out.nonEmpty && out.length <= 5)
    val toks = out.map(_.getLong(1)); val vocab = out.map(_.getLong(2))
    assert(toks.toSeq === toks.sorted.toSeq && vocab.toSeq === vocab.sorted.toSeq,
      "cumulative curves must be monotone")
    assert(toks.last === 40L * 0 + (1L to 40L).map(i => (i % 7) + 1).sum,
      "final checkpoint covers the whole corpus")
    assert(vocab.last <= 29L, "vocab bounded by the generator's key space")
    // fit columns are constant across rows
    assert(out.map(_.getLong(3)).distinct.length === 1)
    assert(out.map(_.getDouble(4)).distinct.length === 1)
    intercept[IllegalArgumentException] {
      TextAnalytics.heapsLaw(docs, "doc_id", "text", 1)
    }
  }

  test("readabilitySignals: hand-checked Flesch on a two-sentence doc") {
    val docs = Seq((1L, "The cat sat. It ran!"), (2L, "   ")).toDF("doc_id", "text")
    val out = TextAnalytics.readabilitySignals(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    // 5 words, 2 sentences, 5 vowel groups (e,a,a,i,a)
    assert(d1.getLong(1) === 5L && d1.getLong(2) === 2L && d1.getLong(3) === 5L)
    // 206.835 − 1.015·(5/2) − 84.6·(5/5) = 119.6975
    assert(d1.getDouble(4) === 119.6975)
    // blank doc: zero counts, null score
    val d2 = out(2L)
    assert(d2.getLong(1) === 0L && d2.isNullAt(4))
  }

  test("distinctNgramRatio: corpus-level distinct-n per group, hand-checked") {
    val docs = Seq(
      ("x", "a b a"), ("x", "a b"), ("x", ""),   // blank doc contributes 0
      ("y", "c c c c")                           // degenerate template slice
    ).toDF("source", "text")
    val out = TextAnalytics.distinctNgramRatio(docs, "source", "text",
        Seq(1, 2, 3))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("x", 1)) === ((2L, 5L, 0.4)))
    assert(out(("x", 2)) === ((2L, 3L, r6(2.0 / 3))))
    assert(out(("x", 3)) === ((1L, 1L, 1.0)))
    assert(out(("y", 1)) === ((1L, 4L, 0.25)))
    assert(out(("y", 2)) === ((1L, 3L, r6(1.0 / 3))))
    assert(out(("y", 3)) === ((1L, 2L, 0.5)))
    // the self-repetitive slice scores strictly lower at every n
    assert((1 to 3).forall(n => out(("y", n))._3 < out(("x", n))._3))
    intercept[IllegalArgumentException] {
      TextAnalytics.distinctNgramRatio(docs, "source", "text", Seq(6))
    }
  }

  test("negativeSamplingTable: 3/4-power shares, rank order, cumulative mass ends at 1") {
    // counts: a=4, b=2, c=1 → z = 4^.75 + 2^.75 + 1
    val docs = Seq("a a b", "a a b c").toDF("text")
    val out = TextAnalytics.negativeSamplingTable(docs, "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .sortBy(_._1)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val z = math.pow(4, 0.75) + math.pow(2, 0.75) + 1.0
    assert(out.map(_._2._1) === Seq("a", "b", "c"), "rank = cnt desc, token asc")
    assert(out.head._2 === (("a", 4L, r6(math.pow(4, 0.75) / z),
      r6(math.pow(4, 0.75) / z))))
    // ¾-power flattens: p(a)/p(c) < cnt(a)/cnt(c)
    assert(out.head._2._3 / out.last._2._3 < 4.0)
    assert(out.last._2._4 === 1.0, "cumulative mass over the full table is 1")
    // topV cuts the tail and renormalizes over survivors
    val top1 = TextAnalytics.negativeSamplingTable(docs, "text", 1).collect()
    assert(top1.length === 1 && top1.head.getDouble(4) === 1.0)
  }

  test("gopherRules: each rule rejects its designated doc, signals hand-checked") {
    val docs = Seq(
      1 -> "the cat sat on mat",   // passes everything (fixture thresholds)
      2 -> "tiny doc",             // fails r_word_count (n=2 < 5)
      3 -> "a a a a a a",          // fails repetition AND top-bigram, not stopwords
      4 -> "strong words barked loudly here", // fails r_stopwords (0 hits)
      // fails mean-word-len (> 6)
      5 -> "extraordinarily magnificent hippopotamus wandered yesterday afternoon"
    ).toDF("id", "text")
    val out = TextAnalytics.gopherRules(docs, "id", "text",
        minTokens = 5L, maxTokens = 10L,
        minMeanWordLen = 2.0, maxMeanWordLen = 6.0,
        maxDupTokenFrac = 0.5, maxTopBigramFrac = 0.9, minStopwords = 1L)
      .collect().map(r => r.getAs[Int]("id") -> r).toMap
    def rules(r: org.apache.spark.sql.Row) = Seq("r_word_count",
      "r_mean_word_len", "r_repetition", "r_top_bigram", "r_stopwords")
      .map(c => r.getAs[Boolean](c))
    assert(rules(out(1)) === Seq(true, true, true, true, true))
    assert(out(1).getAs[Boolean]("keep"))
    // doc 1 signals: 5 tokens, 14 non-space chars → mwl 2.8; no dup; the
    // 4 bigrams are all distinct → top share 1/4; one stopword ('the')
    assert(out(1).getAs[Double]("mean_word_len") === 2.8)
    assert(out(1).getAs[Double]("top_bigram_frac") === 0.25)
    assert(out(1).getAs[Long]("n_stopwords") === 1L)
    // 'tiny doc': 2 tokens fails word count; its single bigram owns its
    // only slot (share 1.0 > 0.9) and it carries no stopword
    assert(rules(out(2)) === Seq(false, true, true, false, false))
    // 'a a a a a a': dup = 1 − 1/6 = 0.833333, the single bigram owns
    // all 5 slots → top share 1.0 > 0.9, and mean word length 1.0 sits
    // below the 2.0 floor; 'a' IS a stopword ×6
    assert(rules(out(3)) === Seq(true, false, false, false, true))
    assert(out(3).getAs[Double]("dup_token_frac") === 0.833333)
    assert(rules(out(4)) === Seq(true, true, true, true, false))
    assert(rules(out(5)) === Seq(true, false, true, true, false))
    assert(Seq(2, 3, 4, 5).forall(i => !out(i).getAs[Boolean]("keep")))
  }

  test("kneserNeyLogLik: hand-checked two-word corpus, discount bounds") {
    // corpus "a b a b" + "b a": c(a b) = 2, c(b a) = 2; both contexts
    // have c_a = 2, one distinct continuation; both continuations
    // complete exactly 1 of the 2 bigram types → p_cont = 1/2.
    // p = max(2−0.75,0)/2 + (0.75·1/2)·(1/2) = 0.8125 for every observed
    // bigram; ln 0.8125 = −0.207639. (Vocab check: p(b|a) + p(a|a) =
    // 0.8125 + [0 + (0.75·1/2)·(1/2)] = 1 — the KN mass balance.)
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextAnalytics.kneserNeyLogLik(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out === Map(1L -> ((3L, -0.207639)), 2L -> ((1L, -0.207639))))
    intercept[IllegalArgumentException] {
      TextAnalytics.kneserNeyLogLik(docs, "doc_id", "text", discount = 1.0)
    }
  }
  test("boilerplatePrefixes: short docs keep their shorter prefix, share math") {
    val docs = Seq((1L, "s1", "a b c d"), (2L, "s1", "a b c e"),
      (3L, "s1", "x y"), (4L, "s1", ""), (5L, "s2", "q r s"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalytics.boilerplatePrefixes(docs, "source", "text",
        k = 3, topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    // empty doc 4 excluded from s1's total of 3; the 2-token doc keeps
    // its full shorter prefix
    assert(out === Map(
      ("s1", 1L) -> (("a b c", 2L, 0.666667)),
      ("s1", 2L) -> (("x y", 1L, 0.333333)),
      ("s2", 1L) -> (("q r s", 1L, 1.0))))
    intercept[IllegalArgumentException](
      TextAnalytics.boilerplatePrefixes(docs, "source", "text", 0, 3))
  }

  test("watermarkScore: green counts match a reference md5 parity, z exact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isGreen(bigram: String): Boolean =
      Integer.parseInt(md5hex(bigram).substring(0, 1), 16) % 2 == 0
    val text = "the quick brown fox jumps over the lazy dog"
    val bigrams = text.split(" ").sliding(2).map(_.mkString(" ")).toSeq
    val tRef = bigrams.length.toLong
    val gRef = bigrams.count(isGreen).toLong
    val zRef = BigDecimal((2.0 * gRef - tRef) / math.sqrt(tRef.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq((1L, text), (2L, "solo")).toDF("doc_id", "text")
    val out = TextAnalytics.watermarkScore(docs, "doc_id", "text").collect()
    // a 1-token doc has no bigrams to score → absent, not a zero row
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    val r = out.head
    assert(r.getLong(1) === tRef && r.getLong(2) === gRef)
    assert(r.getDouble(4) === zRef && !r.getBoolean(5))
    intercept[IllegalArgumentException](
      TextAnalytics.watermarkScore(docs, "doc_id", "text", zThreshold = 0.0))
  }
  test("queryLikelihood: hand-checked Dirichlet smoothing, absent term mass") {
    // corpus: d1 = "a a b", d2 = "c"; query = (a, c); T = 4, cf_a = 2,
    // cf_c = 1; mu = 4 (dyadic). p(a|C) = 1/2, p(c|C) = 1/4.
    // d1: a: (2 + 4*0.5)/(3+4) = 4/7; c: (0 + 1)/(3+4) = 1/7
    //   score = ln(4/7) + ln(1/7)
    // d2: a: (0+2)/5 = 0.4; c: (1+1)/5 = 0.4 -> 2*ln(0.4)
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalytics.queryLikelihood(docs, "doc_id", "text",
        Seq("a", "c"), k = 10, mu = 4.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === r6(math.log(4.0 / 7) + math.log(1.0 / 7)))
    assert(out(2L) === r6(2 * math.log(0.4)))
    // d2 outranks d1: ln(0.16) > ln(4/49)
    assert(out(2L) > out(1L))
    intercept[IllegalArgumentException](
      TextAnalytics.queryLikelihood(docs, "doc_id", "text", Seq("a"), 5,
        mu = 0.0))
  }

  test("yuleK: exact spectrum arithmetic; repetition scores higher") {
    // "a a a b": spectrum V_3 = 1, V_1 = 1; N = 4
    // K = 1e4 * (9*1 + 1*1 - 4)/16 = 3750
    val docs = Seq(("rep", "a a a b"), ("div", "a b c d")).toDF("src", "text")
    val out = TextAnalytics.yuleK(docs, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("rep") === ((2L, 4L, 3750.0)))
    // all-distinct: s2 = N -> K = 0 exactly
    assert(out("div") === ((4L, 4L, 0.0)))
  }
  test("noveltyCurve: min-batch attribution, batch-0 novelty is 1") {
    // batch 0: grams {a b c}; batch 1 repeats "a b c" and adds "x y z"
    val docs = Seq((0L, "a b c"), (1L, "a b c x"), (1L, "x y z"))
      .toDF("batch", "text")
    val out = TextAnalytics.noveltyCurve(docs, "batch", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) === ((1L, 1L, 1.0)))
    // batch 1 distinct 3-grams: "a b c", "b c x", "x y z" -> 2 of 3 novel
    assert(out(1L) === ((3L, 2L, 0.666667)))
    intercept[IllegalArgumentException](
      TextAnalytics.noveltyCurve(docs, "batch", "text", 0))
  }

  test("tokenizerFertility: exact per-group sums and ratios; empty group null") {
    import spark.implicits._
    val enc = Seq(
      (1L, "pt", 4L, 10L, 20L), (2L, "pt", 6L, 10L, 30L),
      (3L, "en", 5L, 5L, 25L),
      (4L, "xx", 0L, 0L, 0L)
    ).toDF("doc_id", "lang", "n_words", "n_subwords", "n_chars")
    val out = TextAnalytics.tokenizerFertility(enc, "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    // pt: 10 words, 20 subwords, 50 chars → 2.0 sub/word, 2.5 chars/sub
    assert(out("pt").getLong(1) === 2L && out("pt").getLong(2) === 10L)
    assert(out("pt").getDouble(5) === 2.0 && out("pt").getDouble(6) === 2.5)
    // en: 1 subword per word exactly
    assert(out("en").getDouble(5) === 1.0 && out("en").getDouble(6) === 5.0)
    // all-empty group: null ratios, never NaN
    assert(out("xx").isNullAt(5) && out("xx").isNullAt(6))
  }

  test("frequencySpectrum: exact V_m table, maxM cap keeps v_types full") {
    import spark.implicits._
    val docs = Seq((1L, "s", "a a a b b c")).toDF("doc_id", "src", "text")
    val out = TextAnalytics.frequencySpectrum(docs, "src", "text")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(out === Map(
      1L -> ((1L, 3L, 0.333333)),
      2L -> ((1L, 3L, 0.333333)),
      3L -> ((1L, 3L, 0.333333))))
    // maxM = 2 drops the m=3 row but v_types still counts ALL types
    val capped = TextAnalytics.frequencySpectrum(docs, "src", "text", maxM = 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(capped === Set(1L, 2L))
    intercept[IllegalArgumentException](
      TextAnalytics.frequencySpectrum(docs, "src", "text", maxM = 0))
  }

  test("goodTuring: exact discounted counts and unseen mass") {
    import spark.implicits._
    // counts a=3, b=2, c=1 → V₁=V₂=V₃=1, N=6
    // r=1: r* = 2·V₂/V₁ = 2 (discount 2) ; r=2: r* = 3·V₃/V₂ = 3
    // (discount 1.5) ; r=3: V₄ empty → null ; p₀ = V₁/N = 1/6
    val docs = Seq((1L, "s", "a a a b b c")).toDF("doc_id", "src", "text")
    val out = TextAnalytics.goodTuring(docs, "src", "text")
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(out(1L).getDouble(3) === 2.0 && out(1L).getDouble(4) === 2.0)
    assert(out(2L).getDouble(3) === 3.0 && out(2L).getDouble(4) === 1.5)
    assert(out(3L).isNullAt(3) && out(3L).isNullAt(4))
    assert(out(1L).getDouble(5) === 0.166667) // p0 = 1/6
    // maxR excludes higher r rows
    assert(TextAnalytics.goodTuring(docs, "src", "text", maxR = 1)
      .collect().map(_.getLong(1)).toSet === Set(1L))
    intercept[IllegalArgumentException](
      TextAnalytics.goodTuring(docs, "src", "text", maxR = 0))
  }

  test("chao1Richness: hand-counted trigram spectrum, bias-corrected term") {
    val docs = Seq(
      // trigrams: "a b c"×2, "b c a"×2, "c a b"×2, "a b d"×1
      // → D=4, f1=1, f2=3: chao1 = 4 + 1·0/(2·4) = 4
      (1L, "rep", "a b c a b c a b d"),
      // all 4 trigrams singletons → D=4, f1=4, f2=0:
      // chao1 = 4 + 4·3/(2·1) = 10
      (2L, "uniq", "x y z w v u")).toDF("id", "src", "text")
    val out = TextAnalytics.chao1Richness(docs, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("rep").getLong(1) === 4L && out("rep").getLong(2) === 1L &&
      out("rep").getLong(3) === 3L)
    assert(out("rep").getDouble(4) === 4.0)
    assert(out("uniq").getLong(2) === 4L && out("uniq").getLong(3) === 0L)
    assert(out("uniq").getDouble(4) === 10.0)
    // a doc shorter than n contributes no shingles at all
    val short = Seq((1L, "s", "a b")).toDF("id", "src", "text")
    assert(TextAnalytics.chao1Richness(short, "src", "text")
      .collect().isEmpty)
  }

  test("burrowsDelta: hand-computed 3-source z-distances, 2-source pin") {
    // fx = .75/.25/.5 across A/B/C (fy complements): σ = √(1/24), so
    // z ∈ {±√1.5, 0} per word → Δ(A,B) = 2√1.5, Δ(A,C) = Δ(B,C) = √1.5
    val docs = Seq((1L, "A", "x x x y"), (2L, "B", "x y y y"),
      (3L, "C", "x y")).toDF("id", "src", "text")
    val out = TextAnalytics.burrowsDelta(docs, "src", "text", topM = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(out(("A", "B")).getLong(2) === 2L)
    assert(out(("A", "B")).getDouble(3) === 2.44949)  // 2√1.5 @6dp
    assert(out(("A", "C")).getDouble(3) === 1.224745) // √1.5 @6dp
    assert(out(("B", "C")).getDouble(3) === 1.224745)
    // with exactly two groups every non-constant word gives |z1−z2| = 2:
    // Δ is identically 2 — the degenerate-k pin
    val two = Seq((1L, "A", "x x y"), (2L, "B", "x y y"))
      .toDF("id", "src", "text")
    assert(TextAnalytics.burrowsDelta(two, "src", "text", topM = 2)
      .collect().map(_.getDouble(3)).toSeq === Seq(2.0))
  }

  test("rakeKeywords: degree/frequency scores, phrase runs, stable order") {
    val docs = Seq(
      (1L, "deep learning the neural network a deep learning"),
      (2L, "keyword the deep learning a keyword extraction"))
      .toDF("doc_id", "text")
    val out = TextAnalytics.rakeKeywords(docs, "doc_id", "text",
      stopwords = Seq("a", "the"), k = 10).collect()
    val byPhrase = out.map(r => r.getString(0) -> r).toMap
    // word scores: deep/learning deg=3·2=... freq(deep)=3, deg(deep)=6
    // → 2.0 each; neural/network → 2.0; keyword freq=2, deg=1+2=3 → 1.5;
    // extraction → 2.0
    assert(byPhrase("deep learning").getLong(1) === 3L)
    assert(byPhrase("deep learning").getDouble(2) === 4.0)
    assert(byPhrase("neural network").getDouble(2) === 4.0)
    assert(byPhrase("keyword extraction").getDouble(2) === 3.5)
    assert(byPhrase("keyword").getDouble(2) === 1.5)
    // ordering: score desc, then phrase asc on the tie
    assert(out.map(_.getString(0)).toSeq === Seq("deep learning",
      "neural network", "keyword extraction", "keyword"))
  }

  test("hillDiversity: hand-checked orders, evenness bounds") {
    // uniform: "a a b b" → S=2, N=4, H=ln2 → hill_1 = hill_2 = 2, J = 1
    // skewed:  "a a a b" → H = ln4 − (3ln3)/4; hill_2 = 16/10 = 1.6
    // single type: pielou null (ln S = 0)
    val docs = Seq(("u", "a a b b"), ("s", "a a a b"), ("m", "z z z"))
      .toDF("source", "text")
    val out = TextAnalytics.hillDiversity(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val u = out("u")
    assert(u.getLong(1) === 4L && u.getLong(2) === 2L)
    assert(u.getDouble(3) === 2.0 && u.getDouble(4) === 2.0)
    assert(u.getDouble(5) === 1.0)
    val sk = out("s")
    val h = math.log(4.0) - 3.0 * math.log(3.0) / 4.0
    assert(sk.getDouble(3) === BigDecimal(math.exp(h))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(sk.getDouble(4) === 1.6)
    assert(sk.getDouble(5) === BigDecimal(h / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // effective-number ordering: hill_0 ≥ hill_1 ≥ hill_2 everywhere
    assert(out.values.forall(r =>
      r.getLong(2).toDouble >= r.getDouble(3) - 1e-9
        && r.getDouble(3) >= r.getDouble(4) - 1e-9))
    assert(out("m").isNullAt(5))
  }
  test("rouge1Pairs: clipped overlap, identical docs score 1, disjoint 0") {
    val docs = Seq((1L, "a b a"), (2L, "a b c"), (3L, "x y z"),
      (4L, "x y z")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalytics.rouge1Pairs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // pair (1,2): overlap = min(2,1)[a] + min(1,1)[b] = 2 of 3 and 3
    assert(out(1L).getLong(4) === 2L)
    assert(out(1L).getDouble(5) === 0.666667)
    assert(out(1L).getDouble(6) === 0.666667)
    assert(out(1L).getDouble(7) === 0.666667)
    // pair (2,3): disjoint -> overlap 0 row still present
    assert(out(2L).getLong(4) === 0L && out(2L).getDouble(7) === 0.0)
    // pair (3,4): identical -> F1 = 1
    assert(out(3L).getLong(4) === 3L && out(3L).getDouble(7) === 1.0)
  }
  test("bleuPairs: clipped precisions, brevity penalty, identity scores 1") {
    val docs = Seq((1L, "a b c d"), (2L, "a b x"), (3L, "a b x"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalytics.bleuPairs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // pair (1,2): p1 = 2/3, p2 = 1/2, BP = exp(1 - 4/3)
    val p = out(1L)
    assert((p.getLong(2), p.getLong(3), p.getLong(4), p.getLong(5)) ===
      ((4L, 3L, 2L, 1L)))
    assert(p.getDouble(6) === r6(2.0 / 3))
    assert(p.getDouble(7) === 0.5)
    assert(p.getDouble(8) === r6(math.exp(1.0 - 4.0 / 3.0)))
    assert(p.getDouble(9) ===
      r6(math.exp(1.0 - 4.0 / 3.0) * math.sqrt((2.0 / 3.0) * 0.5)))
    // pair (2,3): identical docs -> BP 1, p1 = p2 = 1, BLEU 1
    val q = out(2L)
    assert(q.getDouble(8) === 1.0 && q.getDouble(9) === 1.0)
  }
  test("skipgramPairs: exact offset-tagged counts, vocabulary floor, doc boundary") {
    // "a b a b a": offset1 (a,b)x2 (b,a)x2; offset2 (a,a)x2 (b,b)x1
    val docs = Seq((1L, "a b a b a"), (2L, "z q")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalytics
      .skipgramPairs(docs, "doc_id", "text", minCount = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    assert(out === Map(
      ("a", "b", 1) -> 2L, ("b", "a", 1) -> 2L, ("a", "a", 2) -> 2L))
    // minCount=1 keeps the singletons — incl. (z,q) but NO cross-doc pair
    val all = graft.operators.TextAnalytics
      .skipgramPairs(docs, "doc_id", "text", minCount = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(all.contains(("z", "q", 1)))
    assert(!all.exists(p => p._1 == "a" && p._2 == "z"))
  }

}
