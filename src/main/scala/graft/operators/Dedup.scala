package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface (SURVEY.md §2b):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale shape: exact dedup is one shuffle on the content hash; near-dup
  * methods never do an O(n²) crossJoin — candidates come from an equi-join
  * on shingle/band/bucket keys, so the shuffle volume is proportional to
  * the collision count, not n².
  */
object Dedup {

  /** Exact dedup by content fingerprint: one row per distinct canonical
    * text, keeping the lowest id. A single hash-aggregate shuffle on the
    * 128-bit fingerprint — the canonical first pass over a 100 TB corpus. */
  def exactByFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact-dup survivorship with a QUALITY policy: among rows sharing a
    * content fingerprint keep the highest-quality copy (ties → lowest id)
    * — the "best copy wins" generalization of [[exactByFingerprint]]'s
    * min-id rule (dedup between a raw and a cleaned crawl should keep the
    * better copy, not the earlier id). Still ONE hash-aggregate shuffle:
    * the argmax is a struct max, so only (quality, id) pairs cross the
    * wire, never document payloads. */
  def keepBestCopy(docs: DataFrame, idCol: String, textCol: String,
                   qualityCol: String): DataFrame = {
    // the negated-id tiebreak needs a numeric id — on a string id the
    // unary minus would cast-to-null and silently void every keep_id
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestCopy needs a numeric id column for the tiebreak; " +
        s"$idCol is ${docs.schema(idCol).dataType.simpleString}")
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(
        // struct ordering compares quality first; the negated id makes
        // quality ties resolve to the LOWEST id deterministically
        max(struct(col(qualityCol).cast("double").as("q"),
          (-col(idCol)).as("negid"))).as("__best"),
        count(lit(1)).as("n_dups"))
      .select(col("fingerprint"), col("__best.q").as("best_quality"),
        (-col("__best.negid")).as("keep_id"), col("n_dups"))
  }

  /** End-to-end near-dup survivorship: resolve candidate pairs into
    * connected-component clusters ([[duplicateClusters]]) and emit one row
    * per surviving document (the cluster's minimum id) with its member
    * count — the final "which rows does the dedup pass keep" answer,
    * composing pair generation (Jaccard/LSH/SimHash — caller's choice) →
    * clustering → survivor election. Singletons survive with n_members=1.
    * Adds one count aggregate on top of the clustering rounds. */
  def nearDupSurvivors(nodes: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    duplicateClusters(nodes, pairs, idCol)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").as(idCol), col("n_members"))

  /** Distinct word-token set per document (exploded form). Exploded rather
    * than array-valued so downstream similarity joins are equi-joins.
    * Tokenize+explode is the CPU-dense step of every Jaccard pipeline and
    * runs BEFORE the first exchange — [[FanOut.widen]] keeps it at session
    * width over unsplittable (single-row-group) inputs (r15, guide §2.5). */
  def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    FanOut.widen(docs, col(idCol))
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .distinct()

  /** Distinct word 3-gram (shingle) set per document — the n-gram Jaccard
    * basis. Shingles are near-unique across documents, so the inverted
    * index barely fans out (no stop-token problem) at the cost of missing
    * reordered near-dups. Documents with < 3 tokens contribute nothing.
    * Same [[FanOut.widen]] rationale as [[tokenSets]] (r15). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    FanOut.widen(docs, col(idCol))
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(TextFunctions.shinglesOf(col("__toks"), 3)).as("token"))
      .distinct()

  /** Pairwise n-gram/token Jaccard similarity via inverted-index equi-join
    * (no crossJoin): |A∩B| from a token-on-token join, |A∪B| from set sizes.
    * Emits ordered pairs (idA < idB) with similarity ≥ `threshold`.
    * At scale, drop ultra-frequent tokens first (stop-token pruning) to
    * bound the join fan-out; for word-shingles the fan-out is naturally
    * tiny because shingles are near-unique. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double,
                   maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairsFrom(tokenSets(docs, idCol, textCol), idCol, threshold,
      maxDocFreq)

  /** Jaccard pairs from ANY exploded (id, token) set relation — word
    * tokens, shingles, character n-grams, hashes. */
  def jaccardPairsFrom(sets0: DataFrame, idCol: String,
                       threshold: Double,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    // The set relation feeds three consumers (both join sides + the
    // size table); caching computes the tokenize+distinct once
    // (MEMORY_AND_DISK: spills rather than pins at corpus scale).
    val sets = sets0.cache()
    // |A∪B| uses the FULL set sizes regardless of pruning (pruning only
    // shrinks the inverted index), so similarity is never overestimated.
    val sizes = setSizes(sets, idCol)
    // Stop-token pruning — the 100 TB fan-out bound: a token present in f
    // documents contributes O(f²) join pairs, so ultra-frequent tokens
    // dominate shuffle volume while carrying almost no similarity signal.
    // Dropping them undercounts |A∩B| by at most (#pruned tokens shared),
    // trading bounded recall loss for a bounded index. None = exact.
    val index = maxDocFreq match {
      case Some(m) =>
        val rare = sets.groupBy(col("token"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= m)
          .select(col("token"))
        // semi join puts the join key first — restore (id, token) order
        sets.join(rare, Seq("token"), "left_semi").select(col(idCol), col("token"))
      case None => sets
    }
    jaccardAtLeast(sharedTokens(index), sizes, threshold)
  }

  /** Per-set sizes (`idCol`, `set_size`) of an exploded (id, token) set. */
  private def setSizes(sets: DataFrame, idCol: String): DataFrame =
    sets.groupBy(col(idCol)).agg(count(lit(1)).as("set_size"))

  /** Ordered pairs (id_a < id_b) with their shared-token count `n_common`:
    * the inverted-index equi-join of an exploded (id, token) relation. */
  private def sharedTokens(index: DataFrame): DataFrame =
    index.toDF("id_a", "token").join(index.toDF("id_b", "token"), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))

  /** `inter` (id_a, id_b, n_common) with both sides' `size_a`/`size_b`. */
  private def withSizes(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.toDF("id_a", "size_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "size_b"), Seq("id_b"))

  /** The size-join-and-threshold tail of every Jaccard path: (id_a, id_b,
    * jaccard) for the `inter` pairs with |A∩B|/|A∪B| ≥ `threshold`. */
  private def jaccardAtLeast(inter: DataFrame, sizes: DataFrame,
                             threshold: Double): DataFrame =
    withSizes(inter, sizes)
      .withColumn("jaccard",
        col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** TF-IDF-weighted cosine similarity pairs — the weighted upgrade of
    * [[jaccardPairs]]: common boilerplate words contribute almost nothing
    * (idf ≈ 0) while rare shared terms dominate, so it separates "shares
    * the template" from "shares the content". Weights are
    * tf·ln(N/df); similarity is the cosine of the sparse weight vectors.
    * Emits ordered pairs (id_a < id_b) with ROUNDED (6dp) cosine ≥
    * `threshold` — the filter runs on the rounded value so a cross-engine
    * double ulp cannot flip a keep.
    *
    * Scale shape: the same inverted-index equi-join as Jaccard — dot
    * products come from a term-on-term join (fan-out Σ df², never n²),
    * norms from one per-doc aggregate joined back. `maxDocFreq` prunes
    * ultra-frequent terms from the INDEX only (norms stay exact): those
    * terms carry the least weight (idf → 0) but the most fan-out
    * (O(df²)), so pruning trades a bounded similarity UNDER-estimate for
    * a bounded index — same contract as jaccardPairsFrom's pruning.
    * Zero-norm documents (every term in every doc, idf all 0) are
    * excluded by a norm > 0 guard rather than surfacing as NaN. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    // tf feeds df + weights; w feeds norms + both join sides — cache both
    // (MEMORY_AND_DISK, spills rather than pins at corpus scale) or the
    // tokenize + per-doc term aggregate re-runs once per reference (the
    // plan audit counted 12 source scans in the uncached plan)
    val tf = FanOut.widen(docs, col(idCol))
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .cache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).cast("double").as("n_docs"))
    val w = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        (col("tf") * log(col("n_docs") / col("df"))).as("w"),
        col("df"))
      .cache()
    val norms = w.groupBy(col(idCol)).agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val index = maxDocFreq match {
      case Some(m) => w.filter(col("df") <= m)
      case None    => w
    }
    val a = index.select(col(idCol).as("id_a"), col("term"), col("w").as("w_a"))
    val b = index.select(col(idCol).as("id_b"), col("term"), col("w").as("w_b"))
    val dot = a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("dot"))
    dot
      .join(norms.select(col(idCol).as("id_a"), col("norm").as("norm_a")), Seq("id_a"))
      .join(norms.select(col(idCol).as("id_b"), col("norm").as("norm_b")), Seq("id_b"))
      .filter(col("norm_a") > 0 && col("norm_b") > 0)
      .withColumn("cosine",
        round(col("dot") / (col("norm_a") * col("norm_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact duplicated-span detection — the verbatim-substring dedup
    * primitive (public literature: Lee et al. ACL'22 "Deduplicating
    * Training Data Makes Language Models Better", there built on suffix
    * arrays over the concatenated corpus; re-expressed here in Spark's
    * wordcount shape): fingerprint every k-token window of every document
    * and keep fingerprints occurring in ≥ 2 distinct documents.
    * Catches the boilerplate/license-header/quoted-paragraph duplication
    * that document-level exact and Jaccard dedup both miss (the containing
    * documents are different; the span is identical).
    *
    * Scale shape: map-side window expansion (one row per token position —
    * [[shinglesOf]]'s shifted-slice build, evaluated k times per ROW, not
    * per element) then ONE hash aggregate on the 128-bit md5 fingerprint
    * with map-side partials. No joins, no windows — the same shape as the
    * exact-dedup pass, ~k× wider on the wire. Portable hashing keeps the
    * output oracle-checkable. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, includeExample: Boolean = true): DataFrame = {
    require(k >= 2, s"span width k must be >= 2 (got $k)")
    val spans = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(TextFunctions.shinglesOf(col("__toks"), k)).as("__span"))
    // includeExample carries min(span text) through the aggregate for
    // human-readable output — but a STRING min forces SortAggregate (the
    // hash-agg buffer only holds fixed-width types). At corpus scale pass
    // false: the all-numeric buffer keeps the whole pass in HashAggregate
    // and only 16-byte fingerprints + counts cross the wire.
    val aggs =
      (if (includeExample) Seq(min(col("__span")).as("span_example"))
       else Seq.empty) ++ Seq(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("first_doc"))
    spans
      .select(col(idCol), md5(col("__span")).as("span_hash"), col("__span"))
      .groupBy(col("span_hash"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_docs") >= 2)
  }

  /** Winnowing document fingerprints (public: Schleimer, Wilkerson, Aiken
    * SIGMOD'03 — the MOSS algorithm): hash (seed 17) every k-token
    * shingle, slide a
    * w-hash window across the hash sequence and keep each window's
    * MINIMUM; the distinct kept hashes are the document's fingerprint
    * set. Guarantee: any verbatim run of ≥ w+k−1 shared tokens yields at
    * least one SHARED fingerprint, while only ~2/(w+1) of positions are
    * stored — the sampled version of [[duplicatedSpans]] (which keeps
    * every position); winnowing is what you INDEX at 100 TB. Join the
    * output on `fingerprint` for candidate pairs — the same
    * inverted-index equi-join shape as every other near-dup path.
    *
    * Scale shape: fully map-side (staged token array → staged shingle
    * array → hash transform → per-position window minima → explode) plus
    * one distinct aggregate; shuffle ∝ fingerprints kept. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2, s"shingle width k must be >= 2 (got $k)")
    require(w >= 1, s"window width w must be >= 1 (got $w)")
    // tokenize+shingle+hash+window-min is all map-side — widen over
    // unsplittable scans so it runs at session width (r15, guide §2.5)
    val hs = FanOut.widen(docs, col(idCol))
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), TextFunctions.shinglesOf(col("__toks"), k).as("__sh"))
      .select(col(idCol),
        transform(col("__sh"),
          s => TextFunctions.portableHash(s, 17)).as("__hs"))
      .filter(size(col("__hs")) >= w)
    hs.select(col(idCol),
        explode(transform(sequence(lit(0), size(col("__hs")) - w),
          j => array_min(slice(col("__hs"), j + 1, lit(w))))).as("fingerprint"))
      .distinct()
  }

  /** Estimated Jaccard from MinHash signatures — the sketch-only dedup
    * path: est(A,B) = (#seeds whose min-hash agrees) / numHashes, the
    * standard unbiased MinHash estimator (Broder '97). Pairs agreeing on
    * ZERO seeds never materialize (the join is on (seed, min_hash)), so
    * with threshold > 0 the output is complete and the shuffle is
    * ∝ signature collisions, never corpus² — this is what replaces exact
    * verification when the token sets themselves are too big to rejoin.
    * numHashes must match the signature width used upstream. */
  def minHashEstimate(signatures: DataFrame, idCol: String,
                      numHashes: Int, threshold: Double): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive (got $numHashes)")
    require(threshold > 0,
      "threshold must be > 0: zero-agreement pairs are never generated")
    val a = signatures.select(col(idCol).as("id_a"), col("seed"), col("min_hash"))
    val b = signatures.select(col(idCol).as("id_b"), col("seed"), col("min_hash"))
    a.join(b, Seq("seed", "min_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_agree"))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_agree"), col("est_jaccard"))
  }

  /** Jaccard pairs via PREFIX FILTERING (the SSJoin/PPJoin family,
    * Chaudhuri et al. ICDE'06, Xiao et al. WWW'08 — public literature):
    * sort every set by one GLOBAL canonical token order (ascending
    * document frequency — rarest first), index only each set's first
    * |X| − ⌈t·|X|⌉ + 1 tokens, and verify candidates exactly. Any pair
    * with Jaccard ≥ t shares ≥ ⌈t·|X|⌉ tokens (|A∩B| ≥ t·|A∪B| ≥ t·|X|),
    * so two sets disjoint on those prefixes cannot qualify — recall is
    * EXACT, bit-identical to [[jaccardPairsFrom]].
    *
    * Why this is the 100 TB token-set path: the full inverted index fans
    * out O(df²) on every token; the prefix index (a) keeps only ~(1−t) of
    * each set and (b) those survivors are the RAREST tokens — precisely
    * the ones with the smallest df² blow-up. Verification touches only
    * candidate pairs: two equi-joins proportional to Σ|candidate sets|,
    * never the corpus cross product. */
  def jaccardPairsPrefix(sets0: DataFrame, idCol: String,
                         threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1,
      s"prefix filtering needs threshold in (0, 1] (got $threshold)")
    val sets = sets0.cache()
    val sizes = setSizes(sets, idCol)
    val tokenDf = sets.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    // canonical rank within each set: ascending global df, token tiebreak.
    // The window partitions by DOCUMENT — bounded groups, fully parallel.
    val ranked = sets
      .join(tokenDf, Seq("token"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__df").asc, col("token").asc)))
    val prefix = ranked
      .join(sizes, Seq(idCol))
      .filter(col("__rn") <=
        col("set_size") - ceil(lit(threshold) * col("set_size")) + 1)
      .select(col(idCol), col("token"))
    val candidates = prefix.toDF("id_a", "token")
      .join(prefix.toDF("id_b", "token"), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact verification: expand candidates by side A's tokens, probe side
    // B's tokens — cost ∝ Σ|A| over candidate pairs, not corpus²
    val inter = candidates
      .join(sets.toDF("id_a", "token"), Seq("id_a"))
      .join(sets.toDF("id_b", "token"), Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    jaccardAtLeast(inter, sizes, threshold)
  }

  /** Pairwise CONTAINMENT from an exploded (id, token) set relation —
    * the asymmetric cousin of [[jaccardPairsFrom]]: |A∩B|/|A| and
    * |A∩B|/|B|. Catches subset duplication Jaccard misses (a document
    * quoted whole inside a much larger one scores containment ≈ 1 while
    * Jaccard ≈ |A|/|B| ≈ 0). Keeps pairs whose LARGER containment clears
    * `threshold`. Same inverted-index equi-join shape — shuffle ∝
    * collisions, never n²; same stop-token pruning applies upstream. */
  def containmentPairs(sets0: DataFrame, idCol: String,
                       threshold: Double): DataFrame = {
    val sets = sets0.cache()
    withSizes(sharedTokens(sets), setSizes(sets, idCol))
      .withColumn("containment_a", col("n_common") / col("size_a"))
      .withColumn("containment_b", col("n_common") / col("size_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum portable token hash. One exploded equi-shuffle; signature rows
    * are (id, seed, min_hash). Portable hashing (md5-derived) keeps the
    * signature reproducible in any engine. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int): DataFrame = {
    val toks = tokenSets(docs, idCol, textCol)
    val withSeed = toks.select(col(idCol), col("token"),
      explode(sequence(lit(0), lit(numHashes - 1))).as("seed"))
    withSeed
      .withColumn("h", TextFunctions.portableHash(col("token"), col("seed")))
      .groupBy(col(idCol), col("seed"))
      .agg(min(col("h")).as("min_hash"))
  }

  /** MinHash-LSH candidate pairs: group the signature into `bands` bands of
    * `rowsPerBand` hashes, hash each band, and equi-join documents sharing
    * any band hash. Probability of a pair colliding ≈ 1-(1-s^r)^b — tune
    * (b, r) to the target similarity threshold. Only candidates are emitted;
    * callers re-rank with exact Jaccard. */
  def minHashLshCandidates(signatures: DataFrame, idCol: String,
                           bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandHashes(signatures, idCol, rowsPerBand)
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Per-document LSH band hashes from a MinHash signature relation.
    * Band hash must be computed over the min-hashes in SEED order (the
    * signature is a vector indexed by seed, not a set): collect
    * (seed, min_hash) structs, sort by seed, then hash the ordered
    * values. Shared by same-corpus candidate pairing and cross-corpus
    * decontamination. */
  private def bandHashes(signatures: DataFrame, idCol: String,
                         rowsPerBand: Int): DataFrame =
    signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("seed"), col("min_hash")))),
          s => s.getField("min_hash")))).as("band_hash"))

  /** Cross-corpus fuzzy decontamination: flag corpus documents that are
    * NEAR-duplicates of any benchmark/eval document — the fuzzy sibling of
    * exact n-gram contamination, and the standard pre-training hygiene step
    * (eval answers paraphrased or lightly edited into the training set
    * evade exact n-gram checks). MinHash signatures on both sides (same
    * portable token hashes), LSH band equi-join corpus×bench for
    * candidates, then an exact token-Jaccard re-rank keeps pairs ≥
    * `threshold`. Emits (corpus id, bench id, jaccard 6dp).
    *
    * Recall is the LSH collision curve 1-(1-s^r)^b, NOT 1 — deterministic
    * (seeded md5), so reruns and the oracle agree exactly on which pairs
    * surface. Shape: bench is the small side everywhere (a benchmark is
    * thousands of docs vs billions in-corpus) — its bands and token sets
    * broadcast; candidate volume ∝ band collisions, never |corpus|·|bench|;
    * the exact re-rank touches only candidates.
    *
    * VALUE COLLAPSE (round 11): identical texts share signatures, bands,
    * token sets, and Jaccard, so each side first dedupes to DISTINCT
    * texts (md5-fingerprint keyed — the exact-dedup contract) and the
    * whole LSH→re-rank pipeline runs on text REPRESENTATIVES; surviving
    * text pairs then expand to member id pairs, cost ∝ output. On a
    * duplicate-heavy corpus (the regime that grows with scale) this is
    * the difference between ∝ collisions-of-distinct-texts and
    * ∝ copies² per collision — measured 28.6× at 10× duplicated data on
    * the raw form, flat collapsed. */
  def crossLshContamination(corpus: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int, rowsPerBand: Int,
                            threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1]: $threshold")
    val cRep = corpus.select(md5(col(textCol)).as(idCol), col(textCol)).distinct()
    val bRep = bench.select(md5(col(textCol)).as(idCol), col(textCol)).distinct()
    val cBand = bandHashes(
      minHashSignatures(cRep, idCol, textCol, numHashes), idCol, rowsPerBand)
    val bBand = bandHashes(
      minHashSignatures(bRep, idCol, textCol, numHashes), idCol, rowsPerBand)
    val cand = cBand.select(col(idCol).as("__cid"), col("band"), col("band_hash"))
      .join(broadcast(bBand.select(col(idCol).as("__bid"),
        col("band"), col("band_hash"))), Seq("band", "band_hash"))
      .select(col("__cid"), col("__bid"))
      .distinct()
    val cTok = tokenSets(cRep, idCol, textCol)
      .select(col(idCol).as("__cid"), col("token"))
    // bench side is the small side (it broadcasts below) and feeds both
    // the size table and the intersection probe — cache it; the CORPUS
    // token set is touched by ONE pass: cand ⋈ cTok carries each
    // candidate doc's token set exactly once per (cid, bid) pair (cTok
    // is a set), so count(*) per pair IS |A| and a broadcast left-join
    // marker against the bench tokens counts |A∩B| in the same
    // aggregate — no separate corpus-wide size table, no second
    // tokenize pass over the corpus.
    val bTok = tokenSets(bRep, idCol, textCol)
      .select(col(idCol).as("__bid"), col("token")).cache()
    val bSize = bTok.groupBy(col("__bid")).agg(count(lit(1)).as("__nb"))
    val bMark = bTok.withColumn("__hit", lit(1))
    cand
      .join(cTok, "__cid")
      .join(broadcast(bMark), Seq("__bid", "token"), "left")
      .groupBy(col("__cid"), col("__bid"))
      .agg(count(lit(1)).as("__na"), count(col("__hit")).as("__ni"))
      .join(broadcast(bSize), "__bid")
      .withColumn("jaccard", round(col("__ni").cast("double") /
        (col("__na") + col("__nb") - col("__ni")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      // expand surviving TEXT pairs back to member id pairs: two
      // fingerprint equi-joins, cost ∝ the expanded output
      .join(corpus.select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("__cid")), Seq("__cid"))
      .join(bench.select(col(idCol).as("bench_id"),
        md5(col(textCol)).as("__bid")), Seq("__bid"))
      .select(col("doc_id"), col("bench_id"), col("jaccard"))
  }

  /** Incremental near-dup ADMISSION — the batch core of streaming
    * near-dup ingest ([[graft.streaming.EventStreams.nearDupIngest]])
    * and the batch twin the oracle checks (q_neardup_admit). Given a new
    * batch of documents and the already-accepted destination corpus
    * (ids disjoint from the batch — replays are dropped upstream by the
    * exact-key dedup), admit the batch docs that are near-duplicates of
    * neither (a) any ACCEPTED destination doc nor (b) a LOWER-id doc in
    * the same batch. (b) is keep-first and non-recursive by design: a
    * batch doc rejected against the destination still blocks its
    * higher-id batch near-dups — deterministic, SQL-expressible, and at
    * worst over-rejects a doc whose whole cluster is near the
    * destination anyway. Near-dup = MinHash-LSH band collision
    * (candidates) + exact token-Jaccard ≥ threshold (re-rank), the same
    * two-stage contract as [[minHashLshCandidates]]+re-rank.
    *
    * Scale shape mirrors [[incrementalClusters]]' contract: the
    * destination corpus is touched by exactly ONE band equi-join and one
    * token join over candidate survivors (both ∝ collisions, and at
    * production scale the destination's band hashes/token sets are
    * precomputed at ingest); every other term is ∝ batch. Empty-text
    * docs (null included — the tokenizer's NULL result is coalesced to
    * the same exempt branch) have no tokens, hence no bands and no
    * candidates — they are always admitted here; exact duplicates of
    * them belong to the exact-key dedup stage. */
  def admitNearDups(batch: DataFrame, dest: DataFrame, idCol: String,
                    textCol: String, numHashes: Int, rowsPerBand: Int,
                    threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1]: $threshold")
    // exact-copy collapse (r14): identical tokenizable texts share every
    // band and re-rank at Jaccard 1.0, so every copy above the MIN id of
    // its text group is rejected UNCONDITIONALLY (rejection-by-lower-id
    // never requires the lower-id doc itself to survive), and that min-id
    // copy participates in every other candidate pair exactly as its
    // copies would (same token set, same bands, same id-order cases) —
    // so admitting over the representatives is outcome-identical while
    // the candidate/intersection work drops from Σ c² band pairs per
    // c-copy group to ∝ DISTINCT texts. A replicated crawl is exactly
    // this regime: the r14 StreamScale probe measured ~100 s/batch on a
    // 10×-verbatim corpus before the collapse. Zero-token docs are
    // exempt (they produce no bands, so ALL copies admit today — the
    // collapse must not invent a rejection for them).
    // null-safe (r15): under ANSI semantics tokens(null) is NULL, so a
    // bare `size(...) >= 1` is NULL on null-text rows and they would
    // fail BOTH branches below — vanishing from the output instead of
    // taking the always-admitted exempt path the contract promises for
    // un-tokenizable docs. coalesce routes them with the empty-text rows.
    val hasTok = coalesce(size(TextFunctions.tokens(col(textCol))) >= 1,
      lit(false))
    // cached like bBand/bTok below: batch-bounded, three consumers
    // (signatures, token sets, final anti-join) — uncached each would
    // re-run the collapse subtree and triple the batch scans.
    // The collapse groups on the house md5 fingerprint (r15): a 64-bit
    // xxhash64 collision between two DISTINCT texts would have silently
    // dropped one of them with no Jaccard re-rank backstop; at 128 bits
    // an accidental merge is practically impossible, and the fingerprint
    // matches benchContamination's exact-copy expansion convention.
    val collapsed = batch
      .join(batch.filter(hasTok)
          .groupBy(md5(col(textCol)).as("__fp"))
          .agg(min(col(idCol)).as(idCol))
          .select(col(idCol)),
        Seq(idCol), "left_semi")
      .unionByName(batch.filter(!hasTok))
      .cache()
    // batch-side frames feed 2-3 consumers each (cross/within candidate
    // joins; union + sizes + intersection) — cache them: they are bounded
    // by the micro-batch, and uncached the tokenize+minhash pipeline
    // re-runs per reference (the plan audit counted 36 source scans).
    // The DEST-side token set stays uncached deliberately: it is
    // corpus-sized at scale, and its two passes (sizes + intersection
    // probe) are the price of not pinning the corpus in executor storage.
    val bBand = bandHashes(
      minHashSignatures(collapsed, idCol, textCol, numHashes), idCol, rowsPerBand)
      .cache()
    val dBand = bandHashes(
      minHashSignatures(dest, idCol, textCol, numHashes), idCol, rowsPerBand)
    val candCross = bBand.select(col(idCol).as("__new"), col("band"), col("band_hash"))
      .join(dBand.select(col(idCol).as("__old"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("__new"), col("__old"))
    val candWithin = bBand.select(col(idCol).as("__new"), col("band"), col("band_hash"))
      .join(bBand.select(col(idCol).as("__old"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("__old") < col("__new"))
      .select(col("__new"), col("__old"))
    val cand = candCross.unionByName(candWithin).distinct()
    val bTok = tokenSets(collapsed, idCol, textCol)
      .select(col(idCol).as("__new"), col("token")).cache()
    val oldTok = tokenSets(dest, idCol, textCol)
      .select(col(idCol).as("__old"), col("token"))
      .unionByName(bTok.select(col("__new").as("__old"), col("token")))
    val sizesNew = bTok.groupBy(col("__new")).agg(count(lit(1)).as("__nn"))
    // ONE pass over the corpus-side token set: cand ⋈ oldTok carries each
    // blocking doc's token set exactly once per (new, old) pair, so
    // count(*) per pair is |B| and a broadcast left-join marker against
    // the (cached, batch-bounded) new-side tokens counts |A∩B| in the
    // same aggregate — the separate corpus-wide size table is gone.
    val bMark = bTok.withColumn("__hit", lit(1))
    val rejected = cand
      .join(oldTok, "__old")
      .join(broadcast(bMark), Seq("__new", "token"), "left")
      .groupBy(col("__new"), col("__old"))
      .agg(count(lit(1)).as("__no"), count(col("__hit")).as("__ni"))
      .join(broadcast(sizesNew), "__new")
      .filter(col("__ni").cast("double")
        / (col("__nn") + col("__no") - col("__ni")).cast("double") >= threshold)
      .select(col("__new").as(idCol)).distinct()
    // anti-join over the COLLAPSED frame: non-representative exact copies
    // are already out (they are rejected by their group's min id)
    collapsed.join(rejected, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: block on 10 equal-width 6-bit bands
    * of the 60-bit signature, equi-join within blocks, keep pairs with
    * Hamming distance ≤ 8 (native popcount expression). By pigeonhole,
    * a pair within 8 < 10 differing bits must agree on at least one
    * whole band — so the blocking has EXACT recall
    * while the join stays an equi-join (shuffle ∝ collisions, never n²). */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bitsPerBand = 6
    val mask = (1L << bitsPerBand) - 1
    val sigs = simHash(docs, idCol, textCol)
    val banded = sigs.select(col(idCol), col("simhash"),
      explode(array((0 until 10).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bitsPerBand).bitwiseAND(mask).as("band_val"))
      }: _*)).as("bv"))
      .select(col(idCol), col("simhash"), col("bv.band"), col("bv.band_val"))
    val a = banded.toDF("id_a", "sim_a", "band", "band_val")
    val b = banded.toDF("id_b", "sim_b", "band", "band_val")
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        graft.functions.VectorFunctions.hammingDistance(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= 8)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Resolve near-dup pairs into duplicate CLUSTERS: connected components
    * over the pair graph by iterative min-label propagation — every
    * document's cluster id converges to the smallest id reachable through
    * any chain of near-dup pairs (A~B, B~C ⇒ {A,B,C} one cluster, even if
    * A and C were never emitted as a pair). The canonical survivor of a
    * cluster is then simply the row where id == cluster.
    *
    * Scale shape: each round is one edge equi-join + min-aggregate
    * (neighbor propagation) plus two label self-joins (POINTER JUMPING:
    * every id also adopts its current label's label, twice — ~4× path
    * compression per round), so rounds needed = O(log diameter), not
    * diameter: a 1000-link chain converges in a handful of rounds where
    * pure neighbor propagation needs 1000.
    * Near-dup graphs are usually dense cliques (diameter 1-2, one round
    * either way); the jump is what keeps the worst case — long chains from
    * transitive semantic drift — off the iteration cliff. No crossJoin, no
    * driver-side graph. `localCheckpoint` truncates the growing lineage
    * each round — without it the plan doubles per iteration and the
    * driver, not the data, becomes the bottleneck. Deterministic:
    * min-label is schedule-independent.
    *
    * `nodes` = one row per document id (singletons keep cluster = own id);
    * `pairs` must have id_a/id_b columns of the same type as `nodes`. */
  def duplicateClusters(nodes: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    duplicateClustersRun(nodes, pairs, idCol).clusters

  /** One [[duplicateClustersRun]] execution: the [[Rounds]] telemetry of
    * the CC loop under the two names its callers read. A round's count
    * is how many active-node labels moved in its propagation+jump round
    * (strictly positive until the closing round's 0 — the fixpoint
    * witness), and `converged` makes the 20-round cap observable.
    * Data-dependent round growth (long chains from transitive drift vs.
    * the usual diameter-2 clique blobs) reads directly off the trace
    * length in production instead of surfacing as an opaque wall-clock
    * shift. */
  final case class DupClustersRun(clusters: DataFrame,
                                  perRound: Seq[Option[Long]],
                                  converged: Boolean) {
    def rounds: Int = perRound.length
  }

  /** [[duplicateClusters]] with the per-round telemetry attached (same
    * plan, same result — q_dup_clusters runs through this path). */
  def duplicateClustersRun(nodes: DataFrame, pairs: DataFrame,
                           idCol: String): DupClustersRun = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .cache()
    // iterate ONLY the edge-induced subgraph: singletons (usually the vast
    // majority of a deduped corpus) never change label, so they skip the
    // loop entirely and rejoin at the end — per-round work ∝ nodes with at
    // least one near-dup, not corpus size. `edges` holds both directions,
    // so `src` alone covers every endpoint.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    val run = Rounds.run(pairs.sparkSession, "duplicateClusters", 20, None) { _ =>
      val propagated = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster"))
      // checkpoint the propagation+aggregate ONCE — the two hops below
      // each self-join their input, so an unmaterialized subtree here
      // would appear four times in the round's plan
      val combined = labels.unionByName(propagated)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
        .localCheckpoint()
      // pointer jumping ×2: adopt the label OF the current label, twice —
      // each hop halves remaining path length, so a round compresses ~4×.
      // Labels are always node ids (they start as self-ids and only ever
      // propagate), so the lookup side covers every label value; `left` +
      // coalesce guards the contract anyway.
      def hop(df: DataFrame): DataFrame = {
        val lookup = df.select(col("id").as("__lid"),
          col("cluster").as("__lcluster"))
        df.join(lookup, df("cluster") === lookup("__lid"), "left")
          .select(df("id"),
            least(df("cluster"),
              coalesce(lookup("__lcluster"), df("cluster"))).as("cluster"))
      }
      val next = hop(hop(combined)).localCheckpoint()
      // convergence = zero labels moved this round, counted exactly by a
      // 1:1 in-memory join of the two checkpointed label frames (labels
      // only ever decrease, so changed == 0 is the fixpoint). This is the
      // round's one action, and it doubles as the telemetry readout.
      val changed = next
        .join(labels.select(col("id"), col("cluster").as("__prev")), Seq("id"))
        .filter(col("cluster") =!= col("__prev")).count()
      labels = next
      Some(changed)
    } {
      edges.unpersist()
      nodes.select(col(idCol))
        .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("cluster"), col(idCol)).as("cluster"))
    }
    DupClustersRun(run.result, run.perRound, run.converged)
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter,
    * JASA'69): per candidate pair (same block, id_a < id_b), the
    * log-likelihood-ratio match score Σ_f [agree → ln(m_f/u_f),
    * disagree → ln((1−m_f)/(1−u_f))]. The m-probabilities (field agrees
    * given a true match) are caller config — the standard practice
    * without labeled matches; the u-probabilities (field agrees given a
    * RANDOM pair) are ESTIMATED FROM THE DATA as the field's collision
    * probability Σ_v (n_v/n)² — Winkler's frequency-based estimate. This
    * is what [[matchScore]]'s ad-hoc weights converge to when done
    * probabilistically: rare-value agreement earns more evidence.
    * Agreement is null-safe equality (two nulls agree — mirror of SQL
    * IS NOT DISTINCT FROM).
    *
    * Caveat (u is UNCONDITIONAL): u_f is the collision rate over random
    * GLOBAL pairs, but candidate pairs are drawn only within blocks.
    * When a field's values correlate with the blocking key (e.g. balance
    * buckets within a nation), within-block chance agreement exceeds the
    * global u_f, so every pair's agree-evidence ln(m/u) is inflated by
    * the same bias — absolute fs_scores shift up and a threshold tuned
    * on global-u assumptions over-links. The RANKING within a block is
    * unaffected (the bias is a per-field constant given the block
    * distribution). Where fields and blocks correlate, either pick
    * blocking keys independent of the comparison fields, or estimate u
    * from within-block pair collision rates (Σ_blocks Σ_v c_bv² over
    * Σ_blocks n_b² in place of Σ_v c_v²/n²).
    *
    * Scale shape: ALL u-probabilities come from ONE stacked aggregate —
    * the fields are unpivoted to (field, value) rows and a single
    * two-level hash aggregate yields every field's Σc² and n in one
    * corpus pass; its |fields|-row result is collected (bounded — one
    * scalar per comparison field, the same driver-side bounded-collect
    * contract as the centroid tables in Similarity) so the pair score
    * compiles to conditional CONSTANTS: the log-ratio per field is
    * constant-folded at plan time and the whole scoring pipeline is one
    * codegen span over the block self-equi-join — pair volume Σ block²,
    * the blocking contract (pick blocks numerous and bounded). Only
    * pairs at/above `threshold` (on the 6dp-rounded score) return. */
  def fellegiSunter(df: DataFrame, idCol: String, blockCol: String,
                    fields: Seq[(String, Double)],
                    threshold: Double): DataFrame = {
    require(fields.nonEmpty, "at least one comparison field")
    fields.foreach { case (f, m) =>
      require(m > 0 && m < 1, s"m-probability for $f must be in (0,1): $m") }
    val u = fsCollisionRates(df, fields)
    val (rows, gp) = fsScoredGroupPairs(df, idCol, blockCol, fields, u)
    fsExpand(rows, gp.filter(col("fs_score") >= threshold))
  }

  /** Winkler frequency-based u-probabilities, one per comparison field:
    * the field's global collision rate SUM_v (n_v/n)^2, from ONE stacked
    * two-level hash aggregate whose |fields|-row result is collected
    * (bounded: one scalar per field, the standard driver-side
    * bounded-collect contract).
    *
    * Counts are squared AS DOUBLES: long c*c wraps silently past
    * c ≈ 3.04e9 — a real cardinality for a low-cardinality field at the
    * scale this operator targets. The sums stay exact in double until
    * 2^53 (each c² is an exact integer), so the stacked sum is
    * order-independent and matches an exact-integer oracle bit-for-bit
    * at any realistic fixture. Values stack as canonical strings
    * (null-tagged to keep NULL distinct from "null") — only equality
    * within a field matters, and a field never mixes types. Float
    * fields would split −0.0/0.0 under the string render (groupBy
    * normalizes them equal) — bucket floats before passing them as
    * comparison fields, as the harness query does (kilo-bucket). */
  private def fsCollisionRates(df: DataFrame,
                               fields: Seq[(String, Double)]): Map[Int, Double] = {
    val stacked = df.select(explode(array(fields.zipWithIndex.map {
      case ((f, _), k) =>
        struct(lit(k).as("__k"),
          concat_ws("\u0000", lit("v"), col(f).cast("string")).as("__v"))
    }: _*)).as("__fv"))
    val uRows = stacked
      .groupBy(col("__fv.__k").as("__k"), col("__fv.__v").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__k"))
      .agg(sum(col("__c").cast("double") * col("__c")).as("__s2"),
        sum(col("__c")).cast("double").as("__n"))
      .collect()
    val u0 = uRows.map { r =>
      val n = r.getDouble(2)
      r.getInt(0) -> r.getDouble(1) / (n * n)
    }.toMap
    // empty input: no histogram rows at all — score is vacuous (zero
    // candidate pairs), NaN keeps the fold well-defined
    u0.withDefaultValue(Double.NaN)
  }

  /** The value-collapsed core both Fellegi–Sunter entry points share:
    * rows are grouped to DISTINCT field vectors per block (groupBy
    * normalizes nulls and ±0.0 exactly like the `<=>` agreement test
    * below, so two rows land in one group iff they agree on every
    * field), and the quadratic join runs over GROUPS, not rows — the
    * score of a group pair is the score of every member pair, because
    * the FS log-ratio depends only on the agreement pattern. Pair work
    * is Σ_block (distinct vectors)² instead of Σ_block rows²: invariant
    * under duplication, which is precisely the regime that explodes at
    * corpus scale (measured 10× data → 12.8× wall on row-pairs vs flat
    * on group-pairs — duplicate-heavy data makes blocks GROW, it never
    * diversifies them). Worst case (all vectors distinct) degrades to
    * the old row-pair cost plus one aggregate.
    *
    * Returns (rows, scored unordered group pairs): rows carry
    * (id, __blk, __v struct); group pairs carry (__blk, __va, __vb,
    * __ga, __gb, __mult, fs_score) with __va ≤ __vb under struct
    * ordering — each unordered group pair once, self-pairs included,
    * `__mult` the EXACT number of id pairs the group pair expands to
    * (g·(g−1)/2 within a group, g_a·g_b across — requires unique ids,
    * the operator's standing contract). Groups are localCheckpointed:
    * ~distinct-vector rows, consumed by both join sides. */
  private def fsScoredGroupPairs(df: DataFrame, idCol: String,
                                 blockCol: String,
                                 fields: Seq[(String, Double)],
                                 u: Map[Int, Double])
      : (DataFrame, DataFrame) = {
    // NULL blocks pair with nothing (the grid and the expansion are
    // equi-joins on __blk, which drop nulls) — filter them up front so
    // the group table doesn't carry rows that can never join, and so
    // the pair-mass accounting in [[fellegiSunterTopK]] (which must
    // agree with this grid exactly) has one rule: null block ⇒ no pairs.
    val rows = df.filter(col(blockCol).isNotNull)
      .select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        struct(fields.map(f => col(f._1)): _*).as("__v"))
    // __gid: a stable surrogate long per group (frozen by the
    // localCheckpoint) — the pair grid orders and self-tests on LONG
    // compares instead of struct ordering/equality, which the 8M-pair
    // filter otherwise pays per row (measured ~2× on the join stage)
    val groups = rows.groupBy(col("__blk"), col("__v"))
      .agg(count(lit(1)).as("__g"))
      .withColumn("__gid", monotonically_increasing_id())
      .localCheckpoint()
    val ga = groups.select(col("__blk"), col("__v").as("__va"),
      col("__g").as("__ga"), col("__gid").as("__gida"))
    val gb = groups.select(col("__blk"), col("__v").as("__vb"),
      col("__g").as("__gb"), col("__gid").as("__gidb"))
    val score = fields.zipWithIndex.map { case ((f, m), k) =>
      // (1 − m) as an IN-PLAN subtraction, not a Scala constant: the
      // oracle writes `1 - 0.9`, and 1.0−0.9 ≠ parse("0.1") at the last
      // bit — both engines must do the same subtraction. With u a
      // literal, Catalyst constant-folds each branch to a double at plan
      // time using the SAME JVM log/div the runtime path used before.
      when(col("__va").getField(f) <=> col("__vb").getField(f),
        log(lit(m) / lit(u(k))))
        .otherwise(log((lit(1.0) - lit(m)) / (lit(1.0) - lit(u(k)))))
    }.reduce(_ + _)
    val gp = ga.join(gb, Seq("__blk"))
      .filter(col("__gida") <= col("__gidb")) // each unordered pair once
      .select(col("__blk"), col("__va"), col("__vb"),
        col("__gida"), col("__gidb"),
        when(col("__gida") === col("__gidb"),
          shiftright(col("__ga") * (col("__ga") - 1), 1))
          .otherwise(col("__ga") * col("__gb")).as("__mult"),
        round(score, 6).as("fs_score"))
      .filter(col("__mult") > 0)
    (rows, gp)
  }

  /** Expand surviving group pairs back to (id_a, id_b, fs_score) rows:
    * two equi-joins of the row set against the kept pairs' vectors —
    * cost ∝ the EXPANDED OUTPUT, not the candidate space. Within a
    * group ids pair ordered (ida < idb); across groups every member
    * pair appears once and is emitted as (least, greatest). */
  private def fsExpand(rows: DataFrame, kept: DataFrame): DataFrame =
    kept
      .join(rows.select(col("__blk"), col("__v").as("__va"),
        col("__id").as("__ida")), Seq("__blk", "__va"))
      .join(rows.select(col("__blk"), col("__v").as("__vb"),
        col("__id").as("__idb")), Seq("__blk", "__vb"))
      .filter((col("__gida") === col("__gidb") && col("__ida") < col("__idb")) ||
        (col("__gida") =!= col("__gidb") && col("__ida") =!= col("__idb")))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("fs_score"))

  /** Exact top-k Fellegi–Sunter review queue — [[fellegiSunter]] ordered
    * by (fs_score desc, id_a, id_b) and limited to `k`, WITHOUT expanding
    * the full candidate pair space. The FS score over |fields|
    * comparisons takes at most 2^|fields| distinct values (each field
    * contributes one of two constants), and the total PAIR MASS at each
    * score is countable without enumerating a single pair: an
    * inclusion–exclusion sweep over field subsets (one stacked map-side
    * aggregate + exact-long Möbius inversion) yields the pairs agreeing
    * on exactly each pattern. A prefix sum over the per-score masses in
    * score-descending order keeps exactly the scores whose preceding
    * mass is < k (an entire tie level is kept or dropped TOGETHER, so
    * the (id_a, id_b) tiebreak inside the boundary score stays exact);
    * the group grid then streams ONCE against the broadcast kept-score
    * set and only surviving group pairs expand — O(k + boundary tie
    * level) id pairs instead of Σ block². The final TakeOrdered applies
    * the full ordering. Requires unique ids (multiplicities are
    * counts). */
  def fellegiSunterTopK(df0: DataFrame, idCol: String, blockCol: String,
                        fields: Seq[(String, Double)], threshold: Double,
                        k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(fields.nonEmpty && fields.size <= 8,
      s"1..8 comparison fields (subset sweep is 2^|fields|): ${fields.size}")
    fields.foreach { case (f, m) =>
      require(m > 0 && m < 1, s"m-probability for $f must be in (0,1): $m") }
    // NOT widened (r15): the FanOut.widen entry fan-out was built and
    // interleaved-A/B'd here like the other §2.5 sites and LOST (5.37 →
    // 6.55 s at sf0.1): the map-side work over `df` (collision rates,
    // 2^|fields| subset explode) is cheap relative to the group grid,
    // whose inputs are already localCheckpoint'd at exchange width — the
    // extra exchange is pure overhead for this operator.
    val df = df0
    val spark = df.sparkSession
    val u = fsCollisionRates(df, fields)
    val (rows, gp0) = fsScoredGroupPairs(df, idCol, blockCol, fields, u)
    val nf = fields.size

    // (1) Pair mass per agreement pattern WITHOUT enumerating pairs:
    // for every field subset S, the same-block pairs agreeing on AT
    // LEAST S are Σ_(block, S-values) C(c, 2) — ONE stacked map-side
    // explode (2^|fields| subset keys per row, hence the field cap) and
    // a two-level aggregate. Keys are ARRAYS of the null-tagged
    // canonical field strings, so key equality is injective per field
    // (no separator ambiguity) and matches the `<=>` agreement of the
    // group grid. The 2^|fields|-row result is collected (bounded) and
    // Möbius-inverted in EXACT LONG arithmetic to pairs agreeing on
    // EXACTLY pattern p.
    val subsetKeys = array((0 until (1 << nf)).map { s =>
      struct(lit(s).as("__s"),
        array(fields.zipWithIndex.collect {
          case ((f, _), j) if ((s >> j) & 1) == 1 =>
            concat_ws(" ", lit("v"), col(f).cast("string"))
        }: _*).as("__key"))
    }: _*)
    // Null-block rows are EXCLUDED here exactly as the group grid
    // excludes them (its __blk equi-join drops nulls): Spark's groupBy
    // would otherwise gather all null blocks into ONE group and count
    // pair mass the grid never produces — inflated per-score masses
    // make the prefix cutoff drop a tie level early and return fewer
    // than k genuine pairs.
    val atLeast = df.filter(col(blockCol).isNotNull)
      .select(col(blockCol).as("__blk"), explode(subsetKeys).as("__sk"))
      .groupBy(col("__sk.__s").as("__s"), col("__blk"),
        col("__sk.__key").as("__key"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__s"))
      .agg(sum(shiftright(col("__c") * (col("__c") - 1), 1)).as("__pairs"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
      .toMap.withDefaultValue(0L)
    val exact = (0 until (1 << nf)).map { p =>
      var total = 0L
      (0 until (1 << nf)).foreach { t =>
        if ((t & p) == p)
          total += (if (java.lang.Integer.bitCount(t ^ p) % 2 == 0)
            atLeast(t) else -atLeast(t))
      }
      p -> total
    }.filter(_._2 > 0)

    // (2) Per-pattern scores rebuilt IN-PLAN over the ≤2^|fields|-row
    // local pattern frame with the IDENTICAL literal expression tree the
    // group grid scores with — Catalyst folds log(lit(m)/lit(u)) to the
    // same double on both sides and Round is the same expression, so the
    // kept-score set matches the grid's fs_score values bit-for-bit (no
    // driver-side float math anywhere in the cutoff).
    import spark.implicits._
    val pat = exact.toDF("__p", "__mult")
    val pscore = fields.zipWithIndex.map { case ((_, m), j) =>
      when(shiftright(col("__p"), j).bitwiseAND(lit(1)) === 1,
        log(lit(m) / lit(u(j))))
        .otherwise(log((lit(1.0) - lit(m)) / (lit(1.0) - lit(u(j)))))
    }.reduce(_ + _)
    val w = Window.orderBy(col("fs_score").desc)
    val keptScores = pat
      .select(round(pscore, 6).as("fs_score"), col("__mult"))
      .filter(col("fs_score") >= threshold)
      .groupBy(col("fs_score")).agg(sum(col("__mult")).as("__mt"))
      .withColumn("__before", coalesce(sum(col("__mt")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__before") < k)
      .select(col("fs_score"))

    // (3) ONE stream of the group grid, filtered to the kept tie levels
    // by a broadcast join, then expansion — O(k + boundary tie level)
    // id pairs; the grid is never materialized or re-streamed.
    fsExpand(rows, gp0.filter(col("fs_score") >= threshold)
        .join(broadcast(keptScores), Seq("fs_score")))
      .orderBy(col("fs_score").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** Incremental connected components — the daily-ingest dedup path: fold
    * a batch of NEW near-dup pairs into an existing (id, cluster)
    * assignment without re-running CC over the corpus. STAR CONTRACTION:
    * every prior cluster is one super-node (its root); each new pair's
    * endpoints map to their prior roots (self for unseen ids) via two
    * equi-join lookups; [[duplicateClusters]] then runs on the CONTRACTED
    * graph — whose size is ∝ the batch, not the corpus — and a final
    * relabel join rewrites only rows whose root merged.
    *
    * CONTRACT: `prior`'s cluster labels must be their component's MIN id
    * (the invariant [[duplicateClusters]] emits) — min over contracted
    * roots then equals min over members, so the output is exactly CC over
    * (prior assignment ∪ new pairs) with min-id labels, idempotently
    * re-foldable into the next batch.
    *
    * Scale shape: the corpus appears ONLY in three non-iterative
    * equi-joins (two endpoint→root lookups, one relabel); the iterative
    * part — the only part with rounds — sees the contracted batch graph.
    * At 100 TB with a daily batch this is the difference between minutes
    * and a full-corpus CC rebuild. */
  def incrementalClusters(prior: DataFrame, idCol: String, clusterCol: String,
                          newPairs: DataFrame): DataFrame = {
    val lookup = prior.select(col(idCol).as("__pid"),
      col(clusterCol).as("__proot"))
    def toRoot(pairs: DataFrame, side: String): DataFrame =
      pairs.join(lookup, pairs(side) === lookup("__pid"), "left")
        .withColumn(s"__r_$side", coalesce(col("__proot"), pairs(side)))
        .drop("__pid", "__proot")
    val mapped = toRoot(toRoot(newPairs, "id_a"), "id_b")
    // batch-bounded, but derived through TWO prior-probing joins that
    // its three consumers (node set, CC edges, and the CC loop's own
    // second evaluation) would re-run uncached — cache it; the PRIOR
    // lookup itself stays uncached by design (it is the corpus-sized
    // state table; its passes are the operator's documented cost)
    val contracted = mapped
      .select(col("__r_id_a").as("id_a"), col("__r_id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .cache()
    val cnodes = contracted.select(col("id_a").as(idCol))
      .unionByName(contracted.select(col("id_b").as(idCol))).distinct()
    val merged = duplicateClusters(cnodes, contracted, idCol)
      .select(col(idCol).as("__cr"), col("cluster").as("__cnew"))
    val ids = prior.select(col(idCol))
      .unionByName(newPairs.select(col("id_a").as(idCol)))
      .unionByName(newPairs.select(col("id_b").as(idCol)))
      .distinct()
    val withRoot = ids.join(lookup, ids(idCol) === lookup("__pid"), "left")
      .select(ids(idCol), coalesce(col("__proot"), ids(idCol)).as("__r0"))
    withRoot.join(merged, withRoot("__r0") === merged("__cr"), "left")
      .select(withRoot(idCol),
        coalesce(col("__cnew"), col("__r0")).as(clusterCol))
  }

  /** SimHash: 64-bit locality-sensitive content hash — sum ±1 per bit over
    * token hashes, take sign bits. Near-identical docs differ in few bits. */
  /** Sorted-neighborhood candidate pairs — the classic entity-resolution
    * blocking alternative to LSH: within each block, order rows by a
    * cheap sort key (text length here, with an id tiebreak) and emit
    * every pair at rank distance ≤ `windowSize`. Near-duplicates sort
    * near each other under almost any content-correlated key, so the
    * candidate count is block_size × windowSize — LINEAR, not quadratic —
    * and recall degrades gracefully with window width. Score the emitted
    * pairs with whatever metric fits (levenshtein, Jaccard, cosine);
    * this operator only blocks.
    *
    * Scale shape: one per-block rank window + one self-equi-join on the
    * block key with the rank band as the join condition — output is
    * w-bounded per row. Blocks should be numerous and bounded (language,
    * source, date); a single giant block serializes its rank window into
    * one task — split it with a coarser second key first. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              blockCol: String, windowSize: Int): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1: $windowSize")
    val w = Window.partitionBy(col(blockCol))
      .orderBy(length(col(textCol)).asc, col(idCol).asc)
    val ranked = docs
      .select(col(blockCol), col(idCol), col(textCol))
      .withColumn("__rnk", row_number().over(w).cast("long"))
      .drop(textCol)
    val a = ranked.select(col(blockCol), col(idCol).as("id_a"),
      col("__rnk").as("__ra"))
    val b = ranked.select(col(blockCol), col(idCol).as("id_b"),
      col("__rnk").as("__rb"))
    a.join(b, Seq(blockCol))
      .filter(col("__rb") > col("__ra") &&
        col("__rb") <= col("__ra") + windowSize)
      .select(col(blockCol), col("id_a"), col("id_b"),
        (col("__rb") - col("__ra")).as("rank_gap"))
  }

  /** Blocked edit-distance near-dup pairs: all (id_a < id_b) pairs with
    * `levenshtein(text_a, text_b) <= maxDist` — the character-level
    * near-dup detector that catches single-typo / small-patch duplication
    * token-set Jaccard dilutes away.
    *
    * Scale shape: the O(n²) pair space is pruned by LENGTH BLOCKING
    * before any text comparison — two texts within edit distance d differ
    * in length by at most d, so each document lands in one length bucket
    * of width d+1 on the build side and probes three adjacent buckets
    * (explode ×3) on the probe side; every qualifying pair meets in
    * exactly one bucket, so no post-join dedup is needed. Candidates then
    * pass a cheap exact-length prefilter before the quadratic
    * `levenshtein` runs. Shuffle is one equi-join on the bucket id;
    * fan-out ∝ documents per length bucket (pair a length-histogram-aware
    * second blocking key — e.g. a SimHash band — if a single length class
    * dominates the corpus). */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val width = maxDist + 1
    val base = docs.select(col(idCol), col(textCol),
      floor(length(col(textCol)) / width).cast("long").as("__b"))
    val probe = base.withColumn("__pb",
      explode(array(col("__b") - 1, col("__b"), col("__b") + 1)))
    probe.join(
        base.select(col(idCol).as("id_b"), col(textCol).as("__tb"),
          col("__b").as("__bb")),
        col("__pb") === col("__bb") && col(idCol) < col("id_b"))
      .filter(abs(length(col(textCol)) - length(col("__tb"))) <= maxDist)
      // threshold form: the DP abandons a pair the moment every cell in a
      // row exceeds maxDist — O(maxDist·min(m,n)) per candidate instead of
      // O(m·n), the difference between "typo radius" and "full matrix" on
      // long documents (returns -1 above the threshold, filtered next)
      .withColumn("edit_distance",
        levenshtein(col(textCol), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= maxDist)
      .select(col(idCol).as("id_a"), col("id_b"), col("edit_distance"))
  }

  /** Exact blocked-pair-mass preflight — the guard aggregate behind
    * [[jaroWinklerPairs]]' `maxPairs` budget, exposed as data: ONE
    * bounded-output job (sum + struct-argmax over per-block counts)
    * returning `(total_pairs, hottest_block, hottest_pairs)` — the
    * Σ_block C(n,2) candidate mass a blocked pair join would
    * materialize, and the single hottest block (ties broken by max
    * block key, the struct-argmax convention). The pre-launch scale
    * check every blocked pair operator should run at 100 TB: it costs
    * one count aggregate and names the degenerate block BEFORE paying
    * a quadratic join. */
  def pairBlockMass(df: DataFrame, blockCol: String): DataFrame =
    df.filter(col(blockCol).isNotNull)
      .groupBy(col(blockCol)).agg(count(lit(1)).as("__n"))
      .select(col(blockCol).cast("string").as("__blk"),
        shiftright(col("__n") * (col("__n") - 1), 1).as("__p"))
      .agg(coalesce(sum(col("__p")), lit(0L)).as("total_pairs"),
        max(struct(col("__p"), col("__blk"))).as("__top"))
      .select(col("total_pairs"),
        col("__top").getField("__blk").as("hottest_block"),
        col("__top").getField("__p").as("hottest_pairs"))

  /** Blocked Jaro-Winkler near-match pairs: all (id_a < id_b) pairs within
    * a blocking key whose names score ≥ `minSim` under the native
    * [[graft.functions.TextFunctions.jaroWinkler]] expression — the
    * fuzzy-name comparator of a record-linkage pipeline (transposition-
    * tolerant where levenshtein over-penalizes, prefix-boosted where
    * identifiers agree on their stem). Scores are 6dp-rounded BEFORE the
    * threshold so the survivor set is engine-exact.
    *
    * Scale shape: one equi-join on the blocking key — fan-out ∝ block
    * size², never corpus²; the comparator runs inside whole-stage codegen
    * on the joined pairs. Pick the block key so the largest block stays
    * rectangle-safe (nation, zip prefix, sorted-neighborhood window…).
    *
    * MEASURED tradeoff (round-11 10× soak): this stays the RAW row-pair
    * join on purpose. The fellegiSunter-style value-collapse (score
    * distinct name pairs, expand survivors) was built and benchmarked
    * here and LOST at both scales (2.7→5.7 s at sf0.1; 37.6→45.2 s at
    * the 10× tree): the codegen'd comparator is cheaper per pair than
    * an expansion join is per output row, and with an unselective
    * threshold the output ≈ the candidate set anyway (the 10× tree's
    * 13.7× growth is OUTPUT growth — 653k → 66.0M qualifying pairs,
    * 101× ∝ copies² — not scoring cost). Collapse pays off only when
    * the per-pair score is expensive relative to a join row AND the
    * threshold is selective — for near-duplicate-heavy corpora run
    * [[exactByFingerprint]] first, which removes the copies² term at
    * the source.
    *
    * `maxPairs` (opt-in, 0 = off): the operator otherwise trusts the
    * caller's blocker entirely — one degenerate block (a null-heavy
    * zip, an "UNKNOWN" city) silently turns the join quadratic. With a
    * budget set, ONE preflight aggregate counts the exact candidate
    * mass Σ_block C(n,2) and FAILS FAST — naming the hottest block —
    * when it exceeds the budget, before a single pair materializes.
    * Cost when on: one extra block-count pass; when off: zero (plan
    * byte-identical to the unguarded form). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, nameCol: String,
                       blockCol: String, minSim: Double,
                       maxPairs: Long = 0L): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, s"minSim must be in (0,1]: $minSim")
    require(maxPairs >= 0L, s"maxPairs must be >= 0 (0 disables): $maxPairs")
    if (maxPairs > 0L) {
      // exact candidate mass + hottest block in ONE bounded-output job
      val r = pairBlockMass(df, blockCol).collect().head
      val total = r.getLong(0)
      if (total > maxPairs) {
        throw new IllegalStateException(
          s"jaroWinklerPairs blocker '$blockCol' yields $total candidate " +
          s"pairs (budget $maxPairs); hottest block '${r.getString(1)}' " +
          s"alone contributes ${r.getLong(2)} - refine the blocking key " +
          "(finer key, sorted-neighborhood window) or dedup exact copies " +
          "first (exactByFingerprint)")
      }
    }
    // widen the PROBE side of the block join (r15, guide §2.5): the
    // build side broadcasts either way, but the probe inherits the scan
    // width — over a single-row-group input the whole codegen'd
    // comparator ran in ONE task. Round-robin (no key): the block key
    // has too few distinct values to spread by hash.
    val a = FanOut.widen(df)
      .select(col(blockCol).as("__blk"), col(idCol).as("id_a"),
        col(nameCol).as("__na"))
    val b = df.select(col(blockCol).as("__blk"), col(idCol).as("id_b"),
      col(nameCol).as("__nb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw_sim",
        round(graft.functions.TextFunctions.jaroWinkler(
          col("__na"), col("__nb")), 6))
      .filter(col("jw_sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("jw_sim"))
  }

  /** Field-level survivorship ("golden record") over duplicate clusters —
    * the MDM merge step after [[duplicateClusters]]: instead of keeping
    * one winning ROW, each field takes its own best value across the
    * cluster — the longest `longestCol` (richest content wins, id
    * tiebreak) and the modal `modeCol` (majority metadata wins,
    * lexicographic tiebreak) — plus the lowest member id as the stable
    * canonical key. Both picks are deterministic argmaxes, so the merged
    * record is reproducible across engines and reruns.
    *
    * Scale shape: one equi-join on the id, then per-cluster aggregates —
    * the longest-pick is a struct-argmax inside ONE hash aggregate (no
    * window); the mode needs a (cluster, value) aggregate plus a
    * per-cluster rank over DISTINCT values only. Null field values are
    * never picked while any member has a real one (null-length sorts
    * below every real length; null mode values group separately). */
  def goldenRecord(df: DataFrame, idCol: String, clusters: DataFrame,
                   longestCol: String, modeCol: String): DataFrame = {
    val j = df.join(clusters.select(col(idCol), col("cluster")), Seq(idCol))
    val base = j.groupBy(col("cluster")).agg(
      min(col(idCol)).as("canonical_id"),
      count(lit(1)).as("n_members"),
      max(struct(length(col(longestCol)).as("l"), (-col(idCol)).as("t"),
        col(longestCol).as("v"))).getField("v").as(s"${longestCol}_golden"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__c").desc, col(modeCol).asc)
    val mode = j.groupBy(col("cluster"), col(modeCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col(modeCol).as(s"${modeCol}_golden"))
    base.join(mode, Seq("cluster"))
  }

  /** Weighted multi-field match scoring for candidate entity pairs — the
    * linear-comparator half of a Fellegi–Sunter record-linkage pipeline
    * (public: Fellegi & Sunter JASA'69): a blocker
    * ([[sortedNeighborhoodPairs]], [[minHashLshCandidates]], length
    * blocking…) proposes (id_a, id_b) candidates, this scores each pair as
    * Σ weight_f · sim_f over the entity's fields and keeps pairs at or
    * above `threshold`.
    *
    * Comparator kinds per field: `exact` (null-safe equality → 0/1),
    * `lev` (1 − levenshtein/max-length — character-level, catches typos),
    * `jaccard` (distinct-token-set overlap — word-level, order-immune).
    * Two empty/null fields compare as 1.0 for lev/jaccard (identically
    * absent is evidence of a match for scoring purposes, like exact's
    * null <=> null).
    *
    * Scale shape: two broadcast-or-shuffle equi-joins hydrate the pair
    * list with both sides' fields, then scoring is pure map-side
    * expressions — cost ∝ candidate pairs (the blocker's output), never
    * n². Scores round to 6dp before the threshold filter (the portable
    * cross-engine contract). */
  def matchScore(cands: DataFrame, entities: DataFrame, idCol: String,
                 fields: Seq[(String, String, Double)],
                 threshold: Double): DataFrame = {
    require(fields.nonEmpty, "need at least one scored field")
    val kinds = Set("exact", "lev", "jaccard")
    fields.foreach { case (f, kind, _) =>
      require(kinds(kind), s"unknown comparator '$kind' for field $f " +
        s"(expected one of ${kinds.mkString("/")})")
    }
    def side(suffix: String, idAs: String) = entities.select(
      col(idCol).as(idAs) +:
        fields.map(_._1).distinct // a field may be scored by several kinds
          .map(f => col(f).as(s"__${f}_$suffix")): _*)
    def toks(c: org.apache.spark.sql.Column) =
      TextFunctions.tokens(coalesce(c, lit("")))
    val sims = fields.map { case (f, kind, weight) =>
      val (a, b) = (col(s"__${f}_a"), col(s"__${f}_b"))
      val sim = kind match {
        case "exact" => when(a <=> b, 1.0).otherwise(0.0)
        case "lev" =>
          val maxLen = greatest(length(coalesce(a, lit(""))),
            length(coalesce(b, lit(""))))
          when(maxLen === 0, 1.0).otherwise(
            lit(1.0) - levenshtein(coalesce(a, lit("")),
              coalesce(b, lit(""))).cast("double") / maxLen)
        case "jaccard" =>
          val u = size(array_union(toks(a), toks(b)))
          when(u === 0, 1.0).otherwise(
            size(array_intersect(toks(a), toks(b))).cast("double") / u)
      }
      lit(weight) * sim
    }
    cands.select(col("id_a"), col("id_b"))
      .join(side("a", "id_a"), Seq("id_a"))
      .join(side("b", "id_b"), Seq("id_b"))
      .withColumn("match_score", round(sims.reduceLeft(_ + _), 6))
      .filter(col("match_score") >= threshold)
      .select(col("id_a"), col("id_b"), col("match_score"))
  }

  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokenSets(docs, idCol, textCol)
      .withColumn("h", TextFunctions.portableHash(col("token"), 7))
    val bitCols = (0 until 60).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$bit")
    }
    val sums = toks.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    val packed = (0 until 60).foldLeft(lit(0L)) { (acc, bit) =>
      acc.bitwiseOR(when(col(s"b$bit") > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L)))
    }
    sums.select(col(idCol), packed.as("simhash"))
  }
}
